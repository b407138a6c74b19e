package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Profile one declared query cold+warm, mirroring Bench's session config
  * (SPARK_GRAFT_CPUS, default 4; SPARK_GRAFT_SF_DIR, default sf0.1).
  * Prints job/stage/task-time counters per run — separates fixed
  * scheduling/planning overhead (many stages, little task time) from real
  * compute (task time ≈ wall × cores). */
object BenchOne {

  private class Counters extends SparkListener {
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger; val taskMillis = new AtomicLong
    val cpuNanos = new AtomicLong; val gcMillis = new AtomicLong
    val perStage = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long)]
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(e.stageInfo.numTasks)
      taskMillis.addAndGet(e.stageInfo.taskMetrics.executorRunTime)
      cpuNanos.addAndGet(e.stageInfo.taskMetrics.executorCpuTime)
      gcMillis.addAndGet(e.stageInfo.taskMetrics.jvmGCTime)
      perStage.add((e.stageInfo.name.take(90), e.stageInfo.numTasks,
        e.stageInfo.taskMetrics.executorRunTime))
    }
    def topStages(n: Int): String = {
      import scala.jdk.CollectionConverters._
      perStage.asScala.toSeq.sortBy(-_._3).take(n)
        .map { case (nm, t, ms) => f"\n    ${ms / 1e3}%7.1fs $t%4d tasks  $nm" }.mkString
    }
    def snap(): String =
      f"jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} " +
        f"taskTime=${taskMillis.get / 1e3}%.1fs cpuTime=${cpuNanos.get / 1e9}%.1fs " +
        f"gc=${gcMillis.get / 1e3}%.1fs"
    def reset(): Unit = { jobs.set(0); stages.set(0); tasks.set(0)
      taskMillis.set(0); cpuNanos.set(0); gcMillis.set(0); perStage.clear() }
  }

  def main(args: Array[String]): Unit = {
    val q = args(0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalTuning(SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.graft.rangeJoin.binWidth", "3600000000")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    Tables.names.foreach(t => Tables.load(spark, sfDir, t).write.format("noop").mode("overwrite").save())
    args.drop(1).foreach { prewarm => // optional: queries to run untimed first
      SparkEntry.queries(prewarm)(spark, sfDir).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      System.gc()
    }
    def timed(label: String): Unit = {
      counters.reset()
      val (sys0, self0) = Bench.cpuJiffies()
      val ((), wall, canary, psi) = BenchProbe.observe {
        SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      val (sys1, self1) = Bench.cpuJiffies()
      val amb = if (sys0 < 0 || wall <= 0) -1.0
        else ((sys1 - sys0) - (self1 - self0)) / 100.0 / wall
      // listener bus is async — drain the tail events before snapshotting
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
      println(f"[bench-one] $q $label $wall%.2f s  (${counters.snap()})  " +
        f"ambientCores=$amb%.2f canaryRatio=$canary%.2f psiStall=$psi%.2f " +
        f"codecache=${BenchProbe.codeCacheUsedPct() * 100}%.0f%% " +
        f"loadavg=${Bench.loadavg()}")
      // SPARK_GRAFT_STAGES=N dumps the top-N stages by task time (any
      // non-numeric value = 8) — N large enough gives the full per-stage
      // timeline of a query for the scheduler-floor decomposition
      sys.env.get("SPARK_GRAFT_STAGES").foreach { n =>
        println("[bench-one] top stages:" +
          counters.topStages(n.toIntOption.getOrElse(8)))
      }
      spark.catalog.clearCache()
      System.gc()
    }
    BenchProbe.calibrate()
    timed("cold")
    // SPARK_GRAFT_REPS warm repeats (default 1): on a host with bursty
    // interference the MINIMUM of several warm runs is the comparable
    // number — single readings swing with stolen cores
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "1").toInt
    (1 to reps).foreach(i => timed(s"warm$i"))
    spark.stop()
  }
}
