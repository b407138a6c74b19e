package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainUtils, FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/**
 * Physical-plan audit: for every declared query, PLANS.md holds the
 * formatted final plan AND the executed plan of every SQL execution the
 * query ran while its DataFrame was built — the eager checkpoints of the
 * iterative loops, their counts and writes — so a loop whose final plan is
 * an opaque `Scan ExistingRDD` still shows the round shapes Spark ran.
 * Each query is audited at the default limits and again with
 * `graft.graph.broadcastLimitBytes=0` (every driver tier declined: the
 * twin regime); the twin section appears only where it differs. A
 * driver tier's one collect runs as a SQL execution (`Graph.collectRows`),
 * so a regime that takes one shows that collect's plan.
 * Review that:
 *  - filters/pruning reach the Parquet scan (`PushedFilters`, `ReadSchema`),
 *  - small dimensions broadcast (`BroadcastHashJoin`), facts sort-merge,
 *  - aggregations are two-phase (`HashAggregate` partial → final),
 *  - expressions stay inside `WholeStageCodegen` spans.
 *
 * Usage: sbt "runMain graft.plans.Explain [sfDir] [outFile]"
 */
object Explain {
  type Query = (SparkSession, String) => DataFrame

  private val TierLimit = "graft.graph.broadcastLimitBytes"

  /** The local session both [[Explain]] and [[ExplainSome]] audit in, with
    * the per-query fixtures prepared up front (as the bench warm-up does),
    * so no query's first build captures one-time setup writes. */
  private[plans] def session(sfDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.prepareFixtures(spark, sfDir)
    spark
  }

  /** Runs `build` and returns its result with the executed plan of every
    * SQL execution that succeeded meanwhile (checkpoints, collects,
    * counts, writes), in completion order. Listener events arrive on the
    * bus asynchronously, so the bus is drained before registering (no
    * earlier execution leaks in) and before reading. */
  def capture[T](spark: SparkSession)(build: => T): (T, Seq[SparkPlan]) = {
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        ran.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val result = build
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
      (result, ran.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** `plan` in `explain("formatted")` form; an adaptive plan renders as
    * its final physical plan. */
  def formatted(plan: SparkPlan): String = {
    val sb = new StringBuilder
    ExplainUtils.processPlan[SparkPlan](ExplainUtils.stripAQEPlan(plan),
      s => sb.append(s))
    sb.toString
  }

  /** Run-to-run noise in a rendered plan, each replaced by a placeholder:
    * expression, plan and RDD ids, lambda variable and common-subexpression
    * suffixes, object hash codes, codegen stage ids (AQE compiles stages
    * in completion order), temp-dir suffixes and source line numbers.
    * tools/plandiff.py applies the same rules across runs. */
  private val Noise = Seq(
    "#\\d+" -> "#N", "plan_id=\\d+" -> "plan_id=N", "RDD\\[\\d+\\]" -> "RDD[N]",
    "(lambda \\w+?)_\\d+" -> "$1_N", "_common_expr_\\d+" -> "_common_expr_N",
    "(\\w)@[0-9a-f]+\\b" -> "$1@N", "codegen id : \\d+" -> "codegen id : N",
    "_\\d{9,}" -> "_N", "\\.scala:\\d+" -> ".scala:N")

  /** `plan` with [[Noise]] and AQE query-stage ids (the bare `Arguments`
    * line of a `(n) …QueryStage` node) normalized, so two executions of
    * one shape compare equal. */
  private[plans] def normalize(plan: String): String = {
    var stage = false
    plan.linesIterator.map { l =>
      val n = Noise.foldLeft(l) { case (acc, (p, r)) => acc.replaceAll(p, r) }
      val out = if (stage) n.replaceAll("^Arguments: \\d+$", "Arguments: N") else n
      if (l.startsWith("(")) stage = l.matches("\\(\\d+\\) \\w*QueryStage.*")
      out
    }.mkString("\n")
  }

  private def fenced(plan: String): String = {
    // embedded binary literals (e.g. a serialized bloom filter inside
    // might_contain) can put multi-MB hex blobs on one plan line —
    // truncate for the audit file; the plan SHAPE is what's reviewed. The
    // cut is taken on the normalized line, so where it lands does not
    // depend on how many digits the ids of one run happen to have
    val lines = plan.linesIterator.map { l =>
      val n = normalize(l)
      if (n.length > 2000) n.take(2000) + s" …[truncated ${n.length - 2000} chars]"
      else l
    }
    lines.mkString("```\n", "\n", "\n```\n")
  }

  /** What one query ran in one regime: its final plan and each distinct
    * executed plan once, with how many executions ran it. */
  private final case class Regime(finalPlan: String, executed: Seq[(String, Int)]) {
    def shape: (String, Seq[(String, Int)]) =
      (normalize(finalPlan), executed.map { case (p, n) => (normalize(p), n) })

    def render: String = {
      val sb = new StringBuilder(fenced(finalPlan))
      executed.zipWithIndex.foreach { case ((p, n), i) =>
        sb.append(s"\nExecuted plan ${i + 1} of ${executed.size} " +
          s"($n execution${if (n == 1) "" else "s"}):\n\n").append(fenced(p))
      }
      sb.toString
    }
  }

  /** Builds `q` under capture; Left is the failure message. */
  private def regime(spark: SparkSession, sfDir: String, q: Query): Either[String, Regime] =
    try {
      val (df, ran) = capture(spark)(q(spark, sfDir))
      val distinct = scala.collection.mutable.LinkedHashMap[String, (String, Int)]()
      ran.map(formatted).foreach { p =>
        val k = normalize(p)
        distinct(k) = distinct.get(k).fold((p, 1)) { case (first, n) => (first, n + 1) }
      }
      Right(Regime(df.queryExecution.explainString(FormattedMode), distinct.values.toSeq))
    } catch {
      case e: Throwable => Left(String.valueOf(e.getMessage))
    }

  /** The audit section of one query: the default regime, plus the twin
    * regime where any of its plans differ. */
  private[plans] def audit(spark: SparkSession, sfDir: String, q: Query): String = {
    def render(r: Either[String, Regime]) = r.fold(e => s"FAILED: $e\n", _.render)
    val default = regime(spark, sfDir, q)
    spark.conf.set(TierLimit, "0")
    val twin = try regime(spark, sfDir, q) finally spark.conf.unset(TierLimit)
    if (twin.map(_.shape) == default.map(_.shape)) render(default)
    else render(default) + s"\n### Twin regime (`$TierLimit=0`)\n\n" + render(twin)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = session(sfDir)
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by graft.plans.Explain)\n\n")
    sb.append(s"Source: `$sfDir` — per query, the final plan and every distinct " +
      "plan it executed while being built, at the default limits and, where " +
      s"different, with `$TierLimit=0`. Review for pushdown/broadcast/codegen.\n")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, q) =>
      sb.append(s"\n## $name\n\n").append(audit(spark, sfDir, q))
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[explain] wrote $out")
    spark.stop()
  }
}
