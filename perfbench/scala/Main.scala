package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{BenchProbe, SparkEntry, Tables, Transfer}
import graft.sources.Jdbc
import graft.streaming.Manifest

/** The benchmark process: one workload, one seed, one closed loop.
  *
  * Usage: `Main <workload> <seed> <seconds> <trace 0|1> <workDir> <resultFile>`
  * (normally started by `perfbench/run.py`). Writes a flat JSON result file;
  * with tracing on it also writes every span to `<workDir>/trace-<workload>-<seed>.jsonl`. */
object Main {

  // ---- sizing -------------------------------------------------------------
  val OpsSf = 0.01          // ops input (fixed data; the seed shuffles the operation order)
  val OpsDataSeed = 42L
  val TransferSf = 0.1      // transfer: the whole database that is pulled
  val JdbcSf = 0.01         // transfer: the database pushed into Derby
  val Setups = 3            // setups per run; setup_s is their median
  val PassSeconds = 30.0    // nominal pass length: a run makes seconds / PassSeconds passes

  /** The operator mix: key -> module it exercises. The gated keys (a driver
    * tier behind `graft.graph.*` / `graft.dedup.*` size gates, ROADMAP item 2)
    * run twice per pass, once per regime; the ungated rest is the control and
    * runs once. */
  val Gated: Seq[(String, String)] = Seq(
    "ext_pagerank" -> "Graph", "ext_edge_jaccard_topk" -> "Graph",
    "ext_bipartite_projection" -> "Graph", "ext_louvain_modularity" -> "Graph",
    "ext_dedup_jaccard_join" -> "Dedup", "ext_sssp_bounded" -> "Graph")
  val Control: Seq[(String, String)] = Seq(
    "join_orders_customer" -> "relational", "sql_q3_shipping_priority" -> "relational",
    "agg_cube_status_priority" -> "relational", "window_moving_avg" -> "relational",
    "ext_cosine_topk" -> "Similarity", "ext_tfidf_topk" -> "TextAnalysis",
    "ext_text_token_counts" -> "TextAnalysis",
    "scan_keyset_chunk" -> "taps_core", "chunk_checksum" -> "taps_core",
    "validate_varchar_len" -> "taps_core", "jdbc_roundtrip" -> "taps_core")
  /** Setting all three to 0 makes every gate decline: the twin regime. */
  val TwinConfs = Seq("graft.graph.broadcastLimitBytes", "graft.graph.pairStreamLimit",
    "graft.dedup.bitmapMaxReps")

  /** One operation of the ops workload: a key run in one regime. */
  final case class MixOp(key: String, module: String, twin: Boolean) {
    def name: String = if (twin) s"$key@twin" else key
  }
  val MixOps: Seq[MixOp] =
    Gated.flatMap { case (k, m) => Seq(MixOp(k, m, twin = false), MixOp(k, m, twin = true)) } ++
      Control.map { case (k, m) => MixOp(k, m, twin = false) }

  /** The fixed subset that commits before the interrupted pull stops. */
  val Committed = Seq("region", "nation", "customer", "supplier", "part", "documents")
  /** `Jdbc.sqlTypeFor` documents that array columns have no JDBC destination,
    * so the JDBC plan excludes `embeddings` the way a user's `--exclude` would. */
  val JdbcTables: Seq[String] = Tables.names.filterNot(_ == "embeddings")
  val ChunkTable = "orders" // largest single-integer-pk table
  val Chunks = 16

  // ---- records --------------------------------------------------------------
  /** One timed operation; `start` is in seconds on the `System.nanoTime` clock. */
  final case class OpRec(name: String, module: String, pass: Int, traced: Boolean,
                         start: Double, wall: Double, ok: Boolean, err: String, rows: Long = 0L)

  final class Run(val workload: String, val seed: Long, val seconds: Int,
                  val trace: Boolean, val work: Path) {
    val t0: Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val tracer = new Tracer(s"$workload-$seed")
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val wrong = mutable.LinkedHashMap.empty[String, String] // check failures by name
    val report = mutable.LinkedHashMap.empty[String, String] // extra JSON fields
    val perPass = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val layers = mutable.LinkedHashMap.empty[String, Double] // per-layer totals of pass 0
    val passes = mutable.ArrayBuffer.empty[(Int, Boolean, Double)] // (pass, traced, seconds)
    val passCpu = mutable.ArrayBuffer.empty[(Int, Boolean, Double)] // (pass, traced, CPU seconds)
    var offCpu = 0.0 // CPU seconds of the checks in the pass in flight
    var genSeconds = 0.0
    var tracing: Tracing = null
    val setups = mutable.ArrayBuffer.empty[(Double, Double, Double)] // (total, session, warm)
    def put(k: String, v: String): Unit = report(k) = v
    def add(k: String, v: Double): Unit = perPass.synchronized(perPass.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v)
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secS, traceS, workS, outS) = args
    val run = new Run(workload, seedS.toLong, secS.toInt, traceS == "1", Paths.get(workS))
    Files.createDirectories(run.work)
    Heap.install()
    run.put("canary_rate", Json.num(BenchProbe.calibrate()))
    workload match {
      case "transfer" => TransferWorkload(run)
      case "ops" => OpsWorkload(run)
      case other => sys.error(s"unknown workload '$other' (transfer, ops)")
    }
    if (run.trace) run.tracer.writeJsonl(run.work.resolve(s"trace-$workload-$seedS.jsonl").toString)
    Files.writeString(Paths.get(outS), Results.json(run))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  // ---- shared helpers -------------------------------------------------------

  def cpus: Int = Runtime.getRuntime.availableProcessors()

  def session(run: Run): SparkSession = {
    val local = run.work.resolve("spark-local"); Files.createDirectories(local)
    // graft.LocalTuning's settings, without its /dev/shm scratch directory:
    // shuffle scratch stays inside the work directory
    val s = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.graft.rangeJoin.binWidth", "3600000000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", run.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](body: => A): (A, Double) = { val t = System.nanoTime(); val a = body; (a, secs(t)) }

  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.delete(q))
    finally s.close()
  }

  def dirBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
    finally s.close()
  }

  /** The warm-up of a setup: one full scan of every input table. */
  def scanAll(spark: SparkSession, dir: Path): Unit =
    Tables.names.foreach(t => Tables.load(spark, dir.toString, t).write.format("noop").mode("overwrite").save())

  /** Generate a database once per (dir, sf, seed): a marker file records what
    * the directory holds, so a re-run in the same checkout reuses it. */
  def generate(run: Run, spark: SparkSession, dir: Path, sf: Double, seed: Long): Unit = {
    val marker = dir.resolve("_GENERATED")
    val want = s"sf=$sf seed=$seed"
    if (Files.exists(marker) && Files.readString(marker) == want) return
    val (_, t) = timed {
      rmrf(dir)
      Gen.write(spark, dir.toString, sf, seed)
      Files.writeString(marker, want)
    }
    run.genSeconds += t
  }

  /** Order-independent content hash: row count and the sum of per-row
    * xxhash64 over every column (as decimal, so it cannot overflow). */
  def contentHash(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(c => col(s"`$c`")): _*)
      .cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** Set up [[Setups]] times, each a fresh session plus `warm`, and record
    * each total; returns the session of the last setup. The first runs from
    * process start. Input generation inside a setup is subtracted. */
  def setUp(run: Run)(warm: SparkSession => Unit): SparkSession = {
    var spark: SparkSession = null
    (0 until Setups).foreach { i =>
      if (spark != null) stopSession(spark)
      val start = if (i == 0) run.t0 else System.currentTimeMillis().toDouble
      val gen0 = run.genSeconds
      val (s, sessionS) = timed(session(run))
      spark = s
      val (_, warmS) = timed(warm(spark))
      val total = (System.currentTimeMillis() - start) / 1000.0 - (run.genSeconds - gen0)
      run.setups += ((total, sessionS, warmS - (run.genSeconds - gen0)))
    }
    spark
  }

  /** The closed loop: whole passes, one per [[PassSeconds]] of `--seconds`
    * and at least one. The pass count is fixed by the arguments, not by how
    * fast passes run, so every run of a workload does the same work. A
    * traced run instead makes three passes. Pass 0 is traced throughout and
    * gives the per-layer numbers, measured under the same conditions as an
    * untraced run's first pass. Passes 1 and 2 trace alternate operation
    * groups, each group once traced and once not, so the pairs give the
    * tracing overhead without a warm-up bias. */
  def loop(run: Run, spark: SparkSession)(pass: Int => Unit): Unit = {
    run.tracing = new Tracing(run, spark.sparkContext)
    val passes = if (run.trace) 3 else math.max(1, math.round(run.seconds / PassSeconds).toInt)
    Heap.start()
    val (_, _, canary, psi) = BenchProbe.observe {
      (0 until passes).foreach { p =>
        run.tracer.pass = p
        run.offCpu = 0.0
        val cpu0 = workCpuSeconds()
        val (_, t) = timed(pass(p))
        run.passes += ((p, run.trace, t))
        run.passCpu += ((p, run.trace, workCpuSeconds() - cpu0 - run.offCpu))
      }
    }
    Heap.stop()
    run.put("canary_ratio", Json.num(canary))
    run.put("psi_stall", Json.num(psi))
  }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threadBean = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU seconds this process has used, all threads (executors, driver, JIT,
    * GC), less the BenchProbe canary's: the canary spins on its own core for
    * the whole timed phase. Unlike wall time, this barely moves when other
    * processes on the host compete for the cores. */
  def workCpuSeconds(): Double = {
    val canary = Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(_.getName == "graft-bench-canary").map(t => threadBean.getThreadCpuTime(t.getId)).filter(_ > 0).sum
    (osBean.getProcessCpuTime - canary) / 1e9
  }

  /** Run an output check inside a pass; its CPU is not the workload's. */
  def offClock[A](run: Run)(body: => A): A = {
    val c = workCpuSeconds()
    try body finally run.offCpu += workCpuSeconds() - c
  }

  /** Attaches the Spark listener and enables span recording while at least
    * one traced operation is in flight (pushes run concurrently). */
  final class Tracing(run: Run, sc: org.apache.spark.SparkContext) {
    private val listener = new SparkTrace(run.tracer)
    private var users = 0
    def acquire(): Unit = synchronized {
      if (users == 0) { sc.addSparkListener(listener); run.tracer.enabled = true }
      users += 1
    }
    def release(): Unit = synchronized {
      users -= 1
      if (users == 0) {
        ListenerBridge.drain(sc, 10000L)
        run.tracer.enabled = false
        sc.removeSparkListener(listener)
      }
    }
  }

  /** Whether an operation is traced: all of pass 0 of a traced run, then
    * alternate groups (the name up to ':', so concurrent pushes share one
    * decision) in passes 1 and 2. */
  def tracedOp(run: Run, pass: Int, name: String): Boolean =
    run.trace && (pass == 0 || (name.takeWhile(_ != ':').hashCode & 1) == (pass & 1))

  /** Time one operation and record it; a throw is a failed operation. */
  def op(run: Run, spark: SparkSession, name: String, module: String, pass: Int)(body: => Long): OpRec = {
    val traced = tracedOp(run, pass, name)
    if (traced) run.tracing.acquire()
    val t = System.nanoTime()
    val rec = try {
      val rows = run.tracer.span(spark.sparkContext, name, "op")(body)
      OpRec(name, module, pass, traced, t / 1e9, secs(t), ok = true, "", rows)
    } catch { case e: Throwable =>
      OpRec(name, module, pass, traced, t / 1e9, secs(t), ok = false,
        s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.toSeq.headOption.getOrElse("").take(160)}")
    } finally if (traced) run.tracing.release()
    run.ops.synchronized(run.ops += rec)
    rec
  }

  def phase[A](run: Run, spark: SparkSession, name: String)(body: => A): A =
    run.tracer.span(spark.sparkContext, name, "phase")(body)

  // ---- ops ------------------------------------------------------------------

  object OpsWorkload {
    /** Catalyst planning seconds per QueryExecution (analysis, optimization,
      * planning phases of its `QueryPlanningTracker`), credited to the
      * operation in flight; the loop drains the listener bus after each
      * operation so no execution is credited to the next one. Registered in
      * traced runs only. */
    final class PlanTimes extends QueryExecutionListener {
      val byOp = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
      @volatile var current = ""
      private def record(qe: QueryExecution): Unit = {
        val s = qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs) / 1000.0).sum
        byOp.merge(current, s, (a: java.lang.Double, b: java.lang.Double) => a + b)
      }
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    }

    def regime(spark: SparkSession, twin: Boolean): Unit =
      if (twin) TwinConfs.foreach(spark.conf.set(_, "0")) else TwinConfs.foreach(spark.conf.unset)

    def apply(run: Run): Unit = {
      val dir = run.work.resolve(s"ops-input-sf$OpsSf")
      val queries = SparkEntry.queries
      val missing = MixOps.map(_.key).filterNot(queries.contains)
      require(missing.isEmpty, s"mix keys missing from SparkEntry.queries: ${missing.mkString(",")}")
      val spark = setUp(run) { s =>
        generate(run, s, dir, OpsSf, OpsDataSeed)
        scanAll(s, dir)
      }
      val sc = spark.sparkContext
      val plans = new PlanTimes
      val rnd = new Random(run.seed)
      val builds = mutable.Map.empty[String, Double] // op#pass -> build seconds

      val out = run.work.resolve("ops-out")
      rmrf(out)
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs.incrementAndGet()
      })
      val shapes = mutable.Map.empty[String, (Int, String)] // op -> (jobs, physical plan), first pass

      if (run.trace) spark.listenerManager.register(plans)
      loop(run, spark) { p =>
        rnd.shuffle(MixOps).foreach { m =>
          val opKey = s"${m.name}#$p"
          plans.current = opKey
          regime(spark, m.twin)
          ListenerBridge.drain(sc)
          val jobs0 = jobs.get
          var df: DataFrame = null
          op(run, spark, m.name, m.module, p) {
            val (d, b) = timed(phase(run, spark, "build")(queries(m.key)(spark, dir.toString)))
            df = d
            if (run.trace && p == 0) builds(opKey) = b
            phase(run, spark, "execute")(df.write.mode("overwrite").parquet(out.resolve(m.name).toString))
            0L
          }
          ListenerBridge.drain(sc)
          if (p == 0 && df != null)
            shapes(m.name) = (jobs.get - jobs0, df.queryExecution.executedPlan.toString.replaceAll("#\\d+", "#"))
        }
      }
      if (run.trace) spark.listenerManager.unregister(plans)
      regime(spark, twin = false)
      run.layers("SparkEntry.build_s") = builds.values.sum
      run.layers("catalyst.plan_s") = plans.byOp.asScala.collect {
        case (k, v) if k.endsWith("#0") => v.doubleValue }.sum
      Seq(false, true).foreach { twin =>
        val walls = run.ops.filter(o => !o.traced && o.name.endsWith("@twin") == twin).groupBy(_.pass)
          .values.map(_.map(_.wall).sum).toSeq
        run.put(if (twin) "twin_s" else "auto_s", Json.num(Results.median(walls)))
      }

      // Regime guard. DataFrame construction is where a driver tier collects,
      // so for each gated key the job count of its operation or its physical
      // plan must differ between the regimes; a key whose twin run looks like
      // its default run is named and fails the run (a renamed or ignored gate
      // conf would otherwise silently measure the driver tier twice).
      val same = Gated.map(_._1).filter(k => shapes.contains(k) && shapes.get(k) == shapes.get(s"$k@twin"))
      run.put("regime_guard_unchanged", Json.arr(same.map(Json.str)))
      same.foreach(k => run.wrong(s"regime_guard:$k") =
        "twin confs had no effect (job count and physical plan equal the default regime)")
      // every operation's last output is checked against the oracle by run.py
      val oracle = SparkEntry.oracleSql
      Files.writeString(run.work.resolve("ops-oracle.json"), Json.obj(MixOps.map(_.key).distinct.flatMap(k =>
        oracle.get(k).map(sql => k -> Json.str(sql)))))
      run.put("input_dir", Json.str(dir.toString))
      run.put("output_dir", Json.str(out.toString))
    }
  }

  // ---- transfer ----------------------------------------------------------------

  object TransferWorkload {
    final case class Ref(rows: Long, hash: java.math.BigDecimal, maxPk: Option[Long])

    def refs(spark: SparkSession, dir: String, tables: Seq[String]): Map[String, Ref] =
      tables.par.map { t =>
        val df = Tables.load(spark, dir, t)
        val (n, h) = contentHash(df)
        val meta = Tables.metaOf(t)
        val mx = if (meta.singleIntPk)
          Some(df.agg(max(col(meta.primaryKey.head)).cast("long")).head().getLong(0)) else None
        t -> Ref(n, h, mx)
      }.seq.toMap

    def apply(run: Run): Unit = {
      val src = run.work.resolve(s"transfer-src-$TransferSf-${run.seed}")
      val jsrc = run.work.resolve(s"transfer-jdbc-$JdbcSf-${run.seed}")
      val url = "jdbc:derby:memory:perfbench;create=true"
      val spark = setUp(run) { s =>
        generate(run, s, src, TransferSf, run.seed)
        generate(run, s, jsrc, JdbcSf, run.seed)
        scanAll(s, src)
      }
      val ref = refs(spark, src.toString, Tables.names)
      val jref = refs(spark, jsrc.toString, JdbcTables)
      run.put("source_rows", Json.num(ref.values.map(_.rows).sum.toDouble))
      run.put("chunk_table_rows", Json.num(ref(ChunkTable).rows.toDouble))
      loop(run, spark) { p =>
        iteration(run, spark, src, jsrc, url, ref ++ jref.map { case (k, v) => s"jdbc:$k" -> v }, p)
      }
      Seq(src, jsrc).foreach(rmrf)
    }

    /** One iteration of the four steps. `ref` holds the source reference of
      * every table, the JDBC source under `jdbc:<table>`. */
    def iteration(run: Run, spark: SparkSession, src: Path, jsrc: Path, url: String,
                  ref: Map[String, Ref], p: Int): Unit = {
      val w = run.work.resolve(s"iter-$p")
      Files.createDirectories(w)
      val (dst1, man1) = (w.resolve("full"), w.resolve("full.manifest").toString)
      val (dst2, man2) = (w.resolve("resumed"), w.resolve("resumed.manifest").toString)
      val (dst3, man3) = (w.resolve("chunked"), w.resolve("chunked.manifest").toString)
      def jref(t: String) = ref.getOrElse(s"jdbc:$t", ref(t))
      def check(name: String)(cond: Boolean, msg: => String): Unit =
        if (!cond) run.wrong.synchronized(run.wrong(name) = msg)
      def checkTables(tag: String, dst: Path, tables: Seq[String]): Unit = tables.par.foreach { t =>
        val (n, h) = contentHash(spark.read.parquet(dst.resolve(s"$t.parquet").toString).drop("chunk_id"))
        check(s"$tag:$t")(n == ref(t).rows && h == ref(t).hash,
          s"destination rows/hash $n/$h != source ${ref(t).rows}/${ref(t).hash}")
      }
      def checkManifest(tag: String, path: String, tables: Seq[String]): Unit = {
        val m = Manifest.load(path)
        tables.foreach { t =>
          val want = ref(t).maxPk.getOrElse(ref(t).rows)
          check(s"$tag:watermark:$t")(m.watermark(t).contains(want), s"manifest ${m.watermark(t)} != $want")
        }
      }

      // 1. uninterrupted whole-database pull
      val full = op(run, spark, "pull", "Transfer", p) {
        Transfer.pull(spark, src.toString, dst1.toString, man1).map(_.rows).sum
      }
      if (full.ok) offClock(run) { checkTables("pull", dst1, Tables.names); checkManifest("pull", man1, Tables.names) }

      // 2. a pull that stops after a fixed subset has committed, then a resume
      val part = op(run, spark, "pull_committed", "Transfer", p) {
        Transfer.pull(spark, src.toString, dst2.toString, man2, tables = Committed).map(_.rows).sum
      }
      var skipped = Seq.empty[String]
      var redone = 0L
      val resume = op(run, spark, "resume", "Transfer", p) {
        val rs = Transfer.pull(spark, src.toString, dst2.toString, man2)
        skipped = rs.filter(_.skipped).map(_.table)
        redone = rs.filter(r => !r.skipped && Committed.contains(r.table)).map(_.rows).sum
        rs.filterNot(_.skipped).map(_.rows).sum
      }
      if (part.ok && resume.ok) offClock(run) {
        check("resume:skipped")(skipped.sorted == Committed.sorted,
          s"skipped ${skipped.sorted.mkString(",")} != committed ${Committed.sorted.mkString(",")}")
        checkTables("resume", dst2, Tables.names)
        checkManifest("resume", man2, Tables.names)
      }
      run.add("tables_skipped", skipped.size.toDouble)
      run.add("rows_redone", redone.toDouble)

      // 3. chunked pull of the largest single-integer-pk table: drain, then resume
      var chunks = 0
      val drain = op(run, spark, "chunked_drain", "Transfer", p) {
        val rs = Transfer.pullChunked(spark, src.toString, dst3.toString, man3, ChunkTable,
          chunks = Chunks, maxChunks = Chunks / 2)
        chunks += rs.size
        rs.map(_.rows).sum
      }
      val cres = op(run, spark, "chunked_resume", "Transfer", p) {
        val rs = Transfer.pullChunked(spark, src.toString, dst3.toString, man3, ChunkTable, chunks = Chunks)
        chunks += rs.size
        rs.map(_.rows).sum
      }
      if (drain.ok && cres.ok) offClock(run) {
        check("chunked:chunks")(chunks == Chunks, s"$chunks chunks committed, want $Chunks")
        checkTables("chunked", dst3, Seq(ChunkTable))
        checkManifest("chunked", man3, Seq(ChunkTable))
      }
      run.add("chunks", chunks.toDouble)
      if (full.ok) run.add("pull_s", full.wall)
      if (resume.ok) run.add("resume_s", resume.wall)
      if (drain.ok && cres.ok) run.add("chunked_s", drain.wall + cres.wall)

      // 4. push into Derby, one table per operation from at most nproc client
      // threads, then a partitioned read of each pushed table
      val pool = Executors.newFixedThreadPool(math.min(cpus, JdbcTables.size))
      val (pushes, pushWall) = timed {
        try pool.invokeAll(JdbcTables.map { t =>
          (() => op(run, spark, s"push:$t", "Jdbc", p) {
            Transfer.pullToJdbc(spark, jsrc.toString, url, Seq(t), parallelism = 1).map(_.rows).sum
          }): Callable[OpRec]
        }.asJava).asScala.map(_.get()).toSeq
        finally pool.shutdown()
      }
      val pushed = pushes.filter(_.ok)
      val reads = pushed.map { r =>
        val t = r.name.stripPrefix("push:")
        val meta = Tables.metaOf(t)
        val srcSchema = Tables.load(spark, jsrc.toString, t).schema
        def readBack() = {
          val bounds = meta.primaryKey match {
            case Seq(pk) => for { lo <- Jdbc.queryLong(url, s"SELECT min($pk) FROM $t")
                                  hi <- Jdbc.queryLong(url, s"SELECT max($pk) FROM $t") } yield (lo, hi)
            case _ => None
          }
          Jdbc.read(spark, Jdbc.readPlan(url, meta, bounds, numPartitions = cpus))
            .select(srcSchema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
        }
        val rec = op(run, spark, s"read:$t", "Jdbc", p) {
          val df = readBack()
          df.write.format("noop").mode("overwrite").save()
          r.rows
        }
        if (rec.ok) offClock(run) {
          val (n, h) = contentHash(readBack())
          check(s"jdbc:$t")(n == jref(t).rows && h == jref(t).hash,
            s"read-back rows/hash $n/$h != source ${jref(t).rows}/${jref(t).hash}")
        }
        rec
      }
      pushed.foreach(r => check(s"push-rows:${r.name}")(r.rows == jref(r.name.stripPrefix("push:")).rows,
        s"pushed ${r.rows} rows, source has ${jref(r.name.stripPrefix("push:")).rows}"))
      run.add("push_wall_s", pushWall)
      run.add("read_wall_s", reads.map(_.wall).sum)
      run.add("pushed_rows", pushed.map(_.rows).sum.toDouble)
      run.add("read_rows", reads.filter(_.ok).map(_.rows).sum.toDouble)
      offClock(run) {
        run.add("output_bytes", dirBytes(dst1).toDouble)
        run.put("source_bytes", Json.num(dirBytes(src).toDouble))
        rmrf(w)
      }
    }
  }
}

/** Peak post-GC heap in use, from GC notifications, while armed. */
object Heap {
  @volatile private var armed = false
  @volatile var peakBytes = 0L
  @volatile var gcs = 0

  def install(): Unit =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (armed && n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
            synchronized { gcs += 1; if (used > peakBytes) peakBytes = used }
          }
        }, null, null)
      case _ => ()
    }

  def start(): Unit = { peakBytes = 0L; gcs = 0; armed = true }

  /** Disarm after one explicit collection, so a timed phase with no GC still
    * reports the heap it left in use. */
  def stop(): Unit = {
    System.gc()
    Thread.sleep(200)
    armed = false
  }
}
