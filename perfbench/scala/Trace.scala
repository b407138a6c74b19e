package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. Times are epoch milliseconds (the clock Spark's
  * listener events use); `parent` is 0 for a root span. `attrs` carries the
  * numbers a layer needs (task metrics, row counts). */
final case class Span(id: Long, parent: Long, name: String, kind: String,
                      start: Double, end: Double, run: String, pass: Int,
                      attrs: Map[String, Double] = Map.empty) {
  def dur: Double = (end - start) / 1000.0
}

/** In-memory span recorder. The benchmark's own code opens spans around
  * operations and phases; [[SparkTrace]] adds job, stage and task spans under
  * the operation in flight, found through the [[Tracer.Prop]] local property
  * that [[span]] sets on the calling thread. Nothing is written until the run
  * ends. When `enabled` is false, [[span]] only runs its body. */
final class Tracer(val run: String) {
  @volatile var enabled = false
  @volatile var pass = 0 // the pass in flight, stamped on every span
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble

  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = if (enabled) spans.add(s)

  def span[A](sc: SparkContext, name: String, kind: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId()
      val parent = current.get
      val prevProp = sc.getLocalProperty(Tracer.Prop)
      current.set(id)
      sc.setLocalProperty(Tracer.Prop, id.toString)
      val t0 = now()
      try body
      finally {
        spans.add(Span(id, parent, name, kind, t0, now(), run, pass))
        current.set(parent)
        sc.setLocalProperty(Tracer.Prop, prevProp)
      }
    }

  /** All spans as JSON lines, one span per line. */
  def writeJsonl(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.start).foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""kind":"${s.kind}","start_ms":${Json.num(s.start)},"end_ms":${Json.num(s.end)},""" +
        s""""run":${Json.str(s.run)},"pass":${s.pass},"attrs":{$attrs}}""")
    } finally w.close()
  }
}

object Tracer {
  val Prop = "perfbench.span"

  /** Total length of the union of intervals (AQE overlaps jobs, so a plain
    * sum of job spans can exceed the wall time of the operation). */
  def unionSeconds(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total / 1000.0
  }
}

/** Job, stage and task spans. A job's parent is the benchmark span named by
  * the [[Tracer.Prop]] local property at submission; stages hang under their
  * job, tasks under their stage. */
final class SparkTrace(tracer: Tracer) extends SparkListener {
  private val jobSpan = mutable.Map.empty[Int, (Long, Long, Double)] // job -> (span id, parent, start)
  private val stageJob = mutable.Map.empty[Int, Long]                 // stage -> job span id
  private val stageSpan = mutable.Map.empty[(Int, Int), Long]         // (stage, attempt) -> span id

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .flatMap(_.toLongOption).getOrElse(0L)
    val id = tracer.nextId()
    jobSpan(e.jobId) = (id, parent, e.time.toDouble)
    e.stageIds.foreach(s => stageJob(s) = id)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (id, parent, start) =>
      val failed = if (e.jobResult == JobSucceeded) 0.0 else 1.0
      tracer.add(Span(id, parent, s"job ${e.jobId}", "job", start, e.time.toDouble, tracer.run,
        tracer.pass, Map("failed" -> failed)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val id = stageSpan.getOrElseUpdate((si.stageId, si.attemptNumber()), tracer.nextId())
    val start = si.submissionTime.getOrElse(0L).toDouble
    val end = si.completionTime.getOrElse(start.toLong).toDouble
    tracer.add(Span(id, stageJob.getOrElse(si.stageId, 0L), s"stage ${si.stageId}", "stage",
      start, end, tracer.run, tracer.pass, Map("tasks" -> si.numTasks.toDouble,
        "failed" -> (if (si.failureReason.isDefined) 1.0 else 0.0))))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val ti = e.taskInfo
    val stageId = stageSpan.getOrElseUpdate((e.stageId, e.stageAttemptId), tracer.nextId())
    val m = e.taskMetrics
    val attrs = mutable.Map("failed" -> (if (ti.successful) 0.0 else 1.0))
    if (m != null) {
      attrs ++= Seq(
        "run_s" -> m.executorRunTime / 1e3,
        "cpu_s" -> m.executorCpuTime / 1e9,
        "gc_s" -> m.jvmGCTime / 1e3,
        "shuffle_read_mb" -> (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead) / 1048576.0,
        "shuffle_write_mb" -> m.shuffleWriteMetrics.bytesWritten / 1048576.0,
        "input_mb" -> m.inputMetrics.bytesRead / 1048576.0,
        "records_read" -> m.inputMetrics.recordsRead.toDouble,
        "output_mb" -> m.outputMetrics.bytesWritten / 1048576.0)
    }
    tracer.add(Span(tracer.nextId(), stageId, s"task ${ti.taskId}", "task",
      ti.launchTime.toDouble, ti.finishTime.toDouble, tracer.run, tracer.pass, attrs.toMap))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSpan.getOrElseUpdate((e.stageInfo.stageId, e.stageInfo.attemptNumber()), tracer.nextId())
  }
}

/** Minimal JSON writing for flat metric maps (no dependency beyond the JDK). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
