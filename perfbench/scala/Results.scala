package perfbench

import scala.collection.mutable

import Main.Run

/** Turns one run's records into the result file `run.py` reads: the gated
  * end-to-end metrics, the per-layer metrics of traced pass 0, the
  * workload's own report (with sample counts) and the host-health readings. */
object Results {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The gated metrics over the passes `sel` picks and their operations.
    * A pass's time is the union of its operations' intervals, so the checks
    * run between operations do not count. */
  def endToEnd(run: Run, sel: (Int, Boolean) => Boolean): Map[String, Double] = {
    val picked = run.ops.filter(o => sel(o.pass, o.traced)).toSeq
    val walls = picked.filter(_.ok).map(_.wall)
    val passTimes = picked.groupBy(_.pass).values.map(os =>
      Tracer.unionSeconds(os.map(o => (o.start * 1000, (o.start + o.wall) * 1000)))).toSeq
    Map(
      "suite_s" -> median(passTimes),
      "cpu_s" -> median(run.passCpu.filter(p => sel(p._1, p._2)).map(_._3).toSeq),
      "op_p50_s" -> quantile(walls, 0.5),
      "op_p75_s" -> quantile(walls, 0.75))
  }

  def json(run: Run): String = {
    val untraced = endToEnd(run, (_, traced) => !traced)
    val e2e = untraced ++ Map(
      "setup_s" -> median(run.setups.map(_._1).toSeq),
      "heap_peak_mb" -> Heap.peakBytes / 1048576.0)
    val timedOps = run.ops.toSeq
    val failed = timedOps.filterNot(_.ok)
    val fields = mutable.LinkedHashMap[String, String](
      "workload" -> Json.str(run.workload),
      "seed" -> run.seed.toString,
      "e2e" -> Json.obj(e2e.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(layers(run).toSeq.map { case (k, v) => k -> Json.num(v) }),
      "self_s" -> Json.obj(selfTimes(run).map { case (k, v) => k -> Json.num(v) }),
      "attempted" -> timedOps.size.toString,
      "failed_ops" -> Json.arr(failed.map(o => Json.obj(Seq(
        "op" -> Json.str(o.name), "pass" -> o.pass.toString, "error" -> Json.str(o.err))))),
      "wrong" -> Json.obj(run.wrong.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "ops_by_name" -> Json.obj(timedOps.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, os) =>
        n -> Json.obj(Seq("n" -> os.size.toString, "failed" -> os.count(!_.ok).toString,
          "median_s" -> Json.num(median(os.filter(_.ok).map(_.wall))))) }),
      "passes" -> Json.arr(run.passes.toSeq.map { case (p, t, s) =>
        Json.obj(Seq("pass" -> p.toString, "traced" -> t.toString, "s" -> Json.num(s))) }),
      "setups" -> Json.arr(run.setups.toSeq.map { case (t, s, w) =>
        Json.obj(Seq("total_s" -> Json.num(t), "session_s" -> Json.num(s), "warm_s" -> Json.num(w))) }),
      "gen_s" -> Json.num(run.genSeconds),
      "heap_gcs" -> Heap.gcs.toString,
      "cpus" -> Main.cpus.toString,
      "master" -> Json.str(s"local[${Main.cpus}]"),
      "per_pass" -> Json.obj(run.perPass.toSeq.map { case (k, v) => k -> Json.arr(v.toSeq.map(Json.num)) }),
    )
    if (run.trace) {
      // passes 1 and 2 hold each operation once traced and once not
      val pairs = run.ops.filter(o => o.pass > 0 && o.ok).groupBy(o => (o.name, o.traced))
        .map { case (k, os) => k -> median(os.map(_.wall).toSeq) }
      val names = pairs.keys.map(_._1).toSeq.distinct.filter(n => pairs.contains((n, true)) && pairs.contains((n, false)))
      def side(t: Boolean) = names.map(n => pairs((n, t)))
      fields("trace_overhead") = Json.obj(Seq(
        "suite_s" -> Json.num(side(true).sum - side(false).sum),
        "op_p50_s" -> Json.num(quantile(side(true), 0.5) - quantile(side(false), 0.5)),
        "op_p75_s" -> Json.num(quantile(side(true), 0.75) - quantile(side(false), 0.75)),
        "ops_paired" -> names.size.toString))
    }
    run.report.foreach { case (k, v) => fields(k) = v }
    Json.obj(fields.toSeq)
  }

  /** Self time per span kind in pass 0 (phases by name): a span's duration
    * minus the part of it that its child spans cover. */
  def selfTimes(run: Run): Seq[(String, Double)] = {
    val spans = run.tracer.spans.toArray(Array.empty[Span]).toSeq.filter(_.pass == 0)
    val children = spans.groupBy(_.parent)
    spans.groupBy(s => if (s.kind == "phase") s"phase:${s.name}" else s.kind).toSeq.sortBy(_._1)
      .map { case (k, ss) =>
        k -> ss.map { s =>
          val covered = Tracer.unionSeconds(children.getOrElse(s.id, Nil)
            .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))).filter(iv => iv._2 > iv._1))
          math.max(0.0, s.dur - covered)
        }.sum
      }
  }

  /** Per-layer metrics of the first traced pass (pass 0). Layers a workload
    * does not touch read 0. */
  def layers(run: Run): Seq[(String, Double)] = {
    val spans = run.tracer.spans.toArray(Array.empty[Span]).toSeq.filter(_.pass == 0)
    val byId = spans.map(s => s.id -> s).toMap
    /** The operation span above `s`, if any. */
    def opOf(s: Span): Option[Span] = {
      var cur: Option[Span] = Some(s)
      var hops = 0
      while (cur.exists(_.kind != "op") && hops < 16) {
        cur = cur.flatMap(c => byId.get(c.parent)); hops += 1
      }
      cur.filter(_.kind == "op")
    }
    val ops = spans.filter(_.kind == "op")
    val jobs = spans.filter(_.kind == "job")
    val stages = spans.filter(_.kind == "stage")
    val tasks = spans.filter(_.kind == "task")
    val jobsByOp = jobs.groupBy(j => opOf(j).map(_.id).getOrElse(0L))
    val tasksByOp = tasks.groupBy(t => opOf(t).map(_.id).getOrElse(0L))
    def jobUnion(op: Span): Double =
      Tracer.unionSeconds(jobsByOp.getOrElse(op.id, Nil).map(j => (j.start, j.end)))
    def opsNamed(p: String => Boolean) = ops.filter(o => p(o.name))
    def wall(os: Seq[Span]) = os.map(_.dur).sum
    def driver(os: Seq[Span]) = os.map(o => math.max(0.0, o.dur - jobUnion(o))).sum
    def taskSum(os: Seq[Span], attr: String) =
      os.flatMap(o => tasksByOp.getOrElse(o.id, Nil)).map(_.attrs.getOrElse(attr, 0.0)).sum
    def taskCount(os: Seq[Span]) = os.map(o => tasksByOp.getOrElse(o.id, Nil).size).sum.toDouble
    val modules = run.ops.map(o => o.name -> o.module).toMap
    def moduleWall(m: String) = wall(ops.filter(o => modules.get(o.name).contains(m)))
    val stageStart = stages.map(s => s.id -> s.start).toMap
    val schedWait = tasks.map(t => math.max(0.0, t.start - stageStart.getOrElse(t.parent, t.start))).sum / 1000.0
    def perPass(k: String) = run.perPass.get(k).map(v => median(v.toSeq)).getOrElse(0.0)
    val isOps = run.workload.startsWith("ops")
    val planS = run.layers.getOrElse("catalyst.plan_s", 0.0)
    val jobS = ops.map(jobUnion).sum
    val pull = opsNamed(_ == "pull")
    val chunked = opsNamed(_.startsWith("chunked_"))
    val push = opsNamed(_.startsWith("push:"))
    val read = opsNamed(_.startsWith("read:"))
    val raw = Seq(
      "SparkEntry.build_s" -> run.layers.getOrElse("SparkEntry.build_s", 0.0),
      "SparkEntry.driver_s" -> (if (isOps) math.max(0.0, wall(ops) - planS - jobS) else 0.0),
      "catalyst.plan_s" -> planS,
      "spark.job_s" -> jobS,
      "spark.task_s" -> taskSum(ops, "run_s"),
      "spark.cpu_s" -> taskSum(ops, "cpu_s"),
      "spark.sched_wait_s" -> schedWait,
      "spark.shuffle_read_mb" -> taskSum(ops, "shuffle_read_mb"),
      "spark.shuffle_write_mb" -> taskSum(ops, "shuffle_write_mb"),
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.failed_tasks" -> tasks.count(_.attrs.getOrElse("failed", 0.0) > 0).toDouble,
      "spark.gc_s" -> taskSum(ops, "gc_s"),
      "Graph.s" -> moduleWall("Graph"),
      "Dedup.s" -> moduleWall("Dedup"),
      "Similarity.s" -> moduleWall("Similarity"),
      "TextAnalysis.s" -> moduleWall("TextAnalysis"),
      "relational.s" -> moduleWall("relational"),
      "taps_core.s" -> moduleWall("taps_core"),
      "Transfer.pull_s" -> wall(pull),
      "Transfer.pull_driver_s" -> driver(pull),
      "Tables.input_mb" -> taskSum(pull, "input_mb"),
      "Tables.records_read" -> taskSum(pull, "records_read"),
      "Transfer.output_mb" -> taskSum(pull, "output_mb"),
      "Transfer.resume_s" -> wall(opsNamed(_ == "resume")),
      "Transfer.chunked_s" -> wall(chunked),
      "Transfer.chunked_driver_s" -> driver(chunked),
      "Jdbc.push_s" -> wall(push),
      "Jdbc.push_task_s" -> taskSum(push, "run_s"),
      "Jdbc.push_driver_s" -> driver(push),
      "Jdbc.read_s" -> wall(read),
      "Jdbc.read_tasks" -> taskCount(read),
    )
    raw ++ Seq(
      "Transfer.tables_skipped" -> perPass("tables_skipped"),
      "Transfer.rows_redone" -> perPass("rows_redone"),
      "Transfer.chunks" -> perPass("chunks"),
      "Jdbc.failed_tables" -> run.ops.count(o => o.pass == 0 && o.name.startsWith("push:") && !o.ok).toDouble,
      "setup.session_s" -> median(run.setups.map(_._2).toSeq),
      "setup.warm_s" -> median(run.setups.map(_._3).toSeq))
  }
}
