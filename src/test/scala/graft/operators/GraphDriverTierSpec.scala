package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Edge-case insurance for the driver-resident graph tiers (the
  * broadcast-gated fast paths added in round 18): empty inputs, single
  * nodes/edges, and self-loop-only graphs must return well-formed empty
  * or trivial frames with the documented schemas — not throw — on the
  * DEFAULT (gated) path, which on these tiny inputs is the driver tier.
  * Result-correctness against brute force is pinned in GraphSpec; this
  * spec pins the degenerate shapes and the tier contract of Graph.scala's
  * header: every operator behind the shared edge collector returns the
  * same schema and rows on both paths, over a table of adversarial
  * inputs (GraphBasketTierSpec holds the basket tiers' table). */
class GraphDriverTierSpec extends AnyFunSuite with SparkSpec {

  private def emptyPairs = {
    val sq = spark
    import sq.implicits._
    Seq.empty[(Long, Long)].toDF("u", "v")
  }

  private def emptyWeighted = {
    val sq = spark
    import sq.implicits._
    Seq.empty[(Long, Long, Long)].toDF("u", "v", "w")
  }

  test("empty inputs return empty frames with the documented columns") {
    assert(Graph.kcorePeel(emptyPairs, "u", "v", k = 2, rounds = 2)
      .columns.toSeq == Seq("node", "degree"))
    assert(Graph.kcorePeel(emptyPairs, "u", "v", k = 2, rounds = 2)
      .collect().isEmpty)
    assert(Graph.ssspBounded(emptyWeighted, "u", "v", "w", rounds = 2)
      .collect().isEmpty)
    assert(Graph.pathCounts(emptyPairs, "u", "v", nSources = 2,
      maxDepth = 2).collect().isEmpty)
    assert(Graph.betweennessSampled(emptyPairs, "u", "v", nSources = 2,
      maxDepth = 2).collect().isEmpty)
    assert(Graph.connectedComponentsMinLabel(emptyPairs, "u", "v")
      .collect().isEmpty)
    assert(Graph.multiSourceBfs(emptyPairs, "u", "v", nSources = 2,
      maxDepth = 2).collect().isEmpty)
    assert(Graph.labelPropagate(emptyPairs, "u", "v", rounds = 2)
      .collect().isEmpty)
    assert(Graph.bfsLevelsUndirected(emptyPairs, "u", "v", maxDepth = 3)
      .collect().isEmpty)
    assert(Graph.pagerankUndirected(emptyPairs, "u", "v", iters = 2)
      .collect().isEmpty)
    assert(Graph.personalizedPagerank(emptyPairs, "u", "v", iters = 2,
      nSeeds = 2).collect().isEmpty)
    assert(Graph.louvainLevels(emptyWeighted, "u", "v", "w", maxLevels = 3)
      .collect().isEmpty)
    assert(Graph.trussPeel(emptyPairs, "u", "v", k = 4, rounds = 1)
      .collect().isEmpty)
    assert(Graph.sccPivot(emptyPairs, "u", "v", maxDepth = 3)
      .collect().isEmpty)
  }

  test("single-edge and self-loop-only graphs take the trivial answers") {
    val sq = spark
    import sq.implicits._
    val one = Seq((1L, 2L)).toDF("u", "v")
    // one edge: both nodes degree 1, peeled at k=2 after round 1
    assert(Graph.kcorePeel(one, "u", "v", k = 2, rounds = 1)
      .collect().isEmpty)
    // min-label CC: both nodes label 1
    assert(Graph.connectedComponentsMinLabel(one, "u", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L))
    // BFS from node 1 reaches node 2 at level 1
    assert(Graph.bfsLevelsUndirected(one, "u", "v", maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap ==
      Map(1L -> 0, 2L -> 1))
    // Louvain on a self-loop-only graph: zero moves, identity partition
    val selfLoop = Seq((7L, 7L, 5L)).toDF("u", "v", "w")
    assert(Graph.louvainLevels(selfLoop, "u", "v", "w", maxLevels = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(7L -> 7L))
    // SCC pivot on a 2-cycle: both nodes in the component
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("s", "t")
    assert(Graph.sccPivot(cyc, "s", "t", maxDepth = 3)
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  /** (u, v, w) edge rows for the tier-contract table; None is a NULL. */
  private val base = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
    (5L, 6L), (6L, 4L), (2L, 5L)).map { case (u, v) => (Option(u), Option(v)) }
  private val inputs: Seq[(String, Seq[(Option[Long], Option[Long])], Boolean)] = Seq(
    ("NULL endpoints", base ++ Seq((None, Some(2L)), (Some(5L), None),
      (None, None)), false),
    ("empty", Nil, false),
    ("single edge", Seq((Some(1L), Some(2L))), false),
    ("self-loops", base ++ Seq((Some(1L), Some(1L)), (Some(4L), Some(4L))),
      false),
    ("duplicate pairs", base ++ base.take(3), false),
    ("INT ids", base, true))

  private def edgeFrame(rows: Seq[(Option[Long], Option[Long])],
                        intIds: Boolean): DataFrame = {
    val sq = spark
    import sq.implicits._
    val df = rows.map { case (u, v) =>
        (u, v, u.zip(v).map { case (a, b) => (a + b) % 3 + 1 }.getOrElse(1L))
      }.toDF("u", "v", "w")
    if (intIds) df.select(col("u").cast("int").as("u"),
      col("v").cast("int").as("v"), col("w"))
    else df
  }

  /** Every edge-list operator with a driver tier behind the shared edge
    * collector, plus the twin-only `hitsBipartite` and `trussPeel`: their
    * one path must survive the same adversarial inputs in both regimes. */
  private val operators: Seq[(String, DataFrame => DataFrame)] = Seq(
    "bfsLevelsUndirected" -> (Graph.bfsLevelsUndirected(_, "u", "v", 3)),
    "pagerankUndirected" -> (Graph.pagerankUndirected(_, "u", "v", 3)),
    "personalizedPagerank" -> (Graph.personalizedPagerank(_, "u", "v", 3, 2)),
    "hitsBipartite" -> (Graph.hitsBipartite(_, "u", "v", 3, 10)),
    "louvainLevels" -> (Graph.louvainLevels(_, "u", "v", "w", 3)),
    "louvainModularity" -> (Graph.louvainModularity(_, "u", "v", "w", 3)),
    "sccPivot" -> (Graph.sccPivot(_, "u", "v", 3)),
    "labelPropagate" -> (Graph.labelPropagate(_, "u", "v", 2)),
    "connectedComponentsMinLabel" ->
      (Graph.connectedComponentsMinLabel(_, "u", "v")),
    "multiSourceBfs" -> (Graph.multiSourceBfs(_, "u", "v", 2, 3)),
    "pathCounts" -> (Graph.pathCounts(_, "u", "v", 2, 3)),
    "betweennessSampled" -> (Graph.betweennessSampled(_, "u", "v", 2, 3)),
    "ssspBounded" -> (Graph.ssspBounded(_, "u", "v", "w", 3)),
    "weightedPersonalizedPagerank" ->
      (Graph.weightedPersonalizedPagerank(_, "u", "v", "w", 3, 2)),
    "trussPeel" -> (Graph.trussPeel(_, "u", "v", 3, 1)),
    "kcorePeel" -> (Graph.kcorePeel(_, "u", "v", 2, 2)))

  test("tier contract: every collector-using operator returns the same " +
      "schema and rows at the default limits and with the twins pinned, " +
      "on NULL endpoints, empty input, a single edge, self-loops, " +
      "duplicate pairs and INT ids") {
    def run(op: DataFrame => DataFrame, df: DataFrame) = scala.util.Try {
      val out = op(df)
      (out.schema.map(f => f.name -> f.dataType),
        out.collect().map(_.toSeq.mkString("|")).sorted.toSeq)
    }.toEither.left.map(_.toString)
    val mismatches = for {
      (inName, rows, intIds) <- inputs
      (opName, op) <- operators
      df = edgeFrame(rows, intIds)
      tier = run(op, df)
      twin = withTwins(run(op, df))
      if tier != twin || tier.isLeft
    } yield s"$opName on $inName: tier $tier vs twin $twin"
    assert(mismatches.isEmpty, mismatches.mkString("\n"))
  }
}
