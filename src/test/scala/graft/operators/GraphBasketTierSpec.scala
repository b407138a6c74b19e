package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import graft.SparkSpec

/** The r19 FromBaskets driver tiers (shared [[Graph.collectBaskets]]
  * substrate) pinned against their distributed twins: the tier consumes
  * the RAW (group, item) stream — duplicates and all — and must return
  * row-for-row (and for the rounded doubles BIT-for-bit) what the
  * distributed basket-fold + edge-derivation pipeline returns. Also pins
  * the gate fallbacks (row cap, pair-expansion cap, NULL group, non-BIGINT
  * ids) and the driver replica of Spark's round(x, 6). */
class GraphBasketTierSpec extends AnyFunSuite with SparkSpec {

  /** Random basket stream WITH duplicate (group, item) rows — the raw
    * form the tiers must dedup exactly like the distributed distinct. */
  private def randomBaskets(seed: Int, nGroups: Int, nItems: Int,
                            rows: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    (1 to rows).map { _ =>
      (rnd.nextInt(nGroups).toLong + 10L, rnd.nextInt(nItems).toLong + 500L)
    }
  }

  private def basketDf(rows: Seq[(Long, Long)]): DataFrame = {
    val sq = spark
    import sq.implicits._
    rows.toDF("g", "i")
  }

  private def rowSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** Few hub groups: 300 rows whose group pairs, at 8 B a pair, outgrow a
    * limit the rows fit at 16 B a row. */
  private def hubs: DataFrame = basketDf(randomBaskets(43, 4, 30, 300))
  private val hubLimit = 300L * 16

  /** The tier-contract table: small (group, item) frames, each ≤ 400
    * rows, whether every operator must find pairs in it, and the tier
    * limit its default run takes (None: the default limit). */
  private def frames: Seq[(String, DataFrame, Boolean, Option[Long])] = {
    val sq = spark
    import sq.implicits._
    val rows = randomBaskets(41, nGroups = 25, nItems = 18, rows = 350) ++
      randomBaskets(41, 25, 18, 49) // extra duplicates
    // the twin's sorted sets drop a NULL item; the tier must skip it too
    val dupNull = (rows.map { case (g, i) => (g, Option(i)) } :+ ((10L, None)))
      .toDF("g", "i")
    Seq(
      ("duplicate rows and a NULL item", dupNull, true, None),
      ("empty", Seq.empty[(Long, Long)].toDF("g", "i"), false, None),
      ("single-item groups", Seq((1L, 7L), (2L, 8L), (3L, 9L), (3L, 9L))
        .toDF("g", "i"), false, None),
      // the twin keeps a NULL group as its own basket beside group 0
      ("a NULL group beside group 0", Seq[(Option[Long], Long)](
        (Some(0L), 1L), (Some(0L), 2L), (Some(0L), 3L), (Some(0L), 4L),
        (None, 2L), (None, 3L), (None, 4L), (None, 5L),
        (Some(1L), 1L), (Some(1L), 5L), (Some(2L), 3L), (Some(2L), 5L))
        .toDF("g", "i"), false, None),
      ("INT ids", basketDf(randomBaskets(53, 20, 15, 200))
        .select(col("g").cast("int").as("g"), col("i").cast("int").as("i")),
        false, None),
      ("hub groups past the pair budget", hubs, true, Some(hubLimit)))
  }

  test("FromBaskets tiers equal their distributed twins bit-for-bit " +
      "(duplicate rows, random baskets)") {
    def run(f: DataFrame => DataFrame, df: DataFrame) = scala.util.Try {
      val out = f(df)
      (out.schema.map(c => c.name -> c.dataType), rowSet(out))
    }.toEither.left.map(_.toString)
    val operators = Seq[(String, DataFrame => DataFrame)](
      "triangles" -> (Graph.triangleCountFromBaskets(_, "g", "i")),
      "clustering" -> (Graph.clusteringFromBaskets(_, "g", "i")),
      "transitivity" -> (Graph.transitivityFromBaskets(_, "g", "i")),
      "edgeJaccard" -> (Graph.edgeJaccardTopKFromBaskets(_, "g", "i", k = 15)),
      "trussPeel" -> (Graph.trussPeelFromBaskets(_, "g", "i", k = 4, rounds = 1)),
      "bipartite" -> (Graph.bipartiteProjectionTopK(_, "g", "i", topK = 15)))
    val all = frames
    assert(Graph.collectBaskets(all.head._2, "g", "i").isDefined)
    // the hub frame's rows fit its limit and its pairs do not
    val hubPairs = withTierLimit(Long.MaxValue)(
      Graph.collectBaskets(hubs, "g", "i").get.pairExpansionCount)
    assert(hubPairs * 8 > hubLimit)
    assert(withTierLimit(hubLimit)(Graph.collectBaskets(hubs, "g", "i")).isEmpty)
    val mismatches = for {
      (inName, df, rich, limit) <- all
      (opName, f) <- operators
      tier = limit.fold(run(f, df))(withTierLimit(_)(run(f, df)))
      twin = withTwins(run(f, df))
      if tier != twin || tier.isLeft || (rich && tier.exists(_._2.isEmpty))
    } yield s"$opName on $inName: tier $tier vs twin $twin"
    assert(mismatches.isEmpty, mismatches.mkString("\n"))
  }

  test("FromBaskets tiers: empty and trivial inputs") {
    val sq = spark
    import sq.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("g", "i")
    assert(Graph.triangleCountFromBaskets(empty, "g", "i")
      .collect().map(_.getLong(0)).toSeq == Seq(0L))
    assert(Graph.clusteringFromBaskets(empty, "g", "i").collect().isEmpty)
    val tr = Graph.transitivityFromBaskets(empty, "g", "i").collect()(0)
    assert(tr.getLong(0) == 0L && tr.getLong(1) == 0L && tr.isNullAt(2))
    assert(Graph.edgeJaccardTopKFromBaskets(empty, "g", "i", 5)
      .collect().isEmpty)
    assert(Graph.bipartiteProjectionTopK(empty, "g", "i", 5)
      .collect().isEmpty)
    // single-item groups: no pairs anywhere
    val singles = Seq((1L, 7L), (2L, 8L), (3L, 9L)).toDF("g", "i")
    assert(Graph.bipartiteProjectionTopK(singles, "g", "i", 5)
      .collect().isEmpty)
    assert(Graph.triangleCountFromBaskets(singles, "g", "i")
      .collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("gate declines fall back to the distributed twin: pair-expansion " +
      "and row caps, a NULL group, non-BIGINT ids") {
    // the pair budget itself is a row of the tier-contract table above
    val df = hubs
    val conf = spark.conf
    val wasB = conf.getOption("graft.graph.broadcastLimitBytes")
    try {
      // at any limit the expansion must fit the one array expandPairs
      // fills: 65,537 items in one group expand to 2,147,516,416 pairs,
      // past Int.MaxValue − 8
      conf.set("graft.graph.broadcastLimitBytes", Long.MaxValue.toString)
      val hub = spark.range(65537L).select(lit(1L).as("g"), col("id").as("i"))
      assert(Graph.collectBaskets(hub, "g", "i").isEmpty)
      conf.set("graft.graph.broadcastLimitBytes", "64") // capRows = 4
      assert(Graph.collectBaskets(df, "g", "i").isEmpty)
      val triViaTwin = Graph.triangleCountFromBaskets(df, "g", "i")
      val triTwin = withTwins(Graph.triangleCountFromBaskets(df, "g", "i"))
      assert(rowSet(triViaTwin) == rowSet(triTwin))
    } finally {
      wasB.fold(conf.unset("graft.graph.broadcastLimitBytes"))(
        conf.set("graft.graph.broadcastLimitBytes", _))
    }
    // a NULL group is its own basket in the twin, which the packed group
    // index cannot tell from a real group 0
    val sq = spark
    import sq.implicits._
    val nullGroup = Seq[(Option[Long], Long)]((Some(0L), 1L), (Some(0L), 2L),
      (None, 2L), (None, 3L)).toDF("g", "i")
    assert(Graph.collectBaskets(nullGroup, "g", "i").isEmpty)
    // non-BIGINT ids decline to the twin
    val strDf = Seq(("a", "x"), ("a", "y"), ("b", "x")).toDF("g", "i")
    assert(Graph.collectBaskets(strDf, "g", "i").isEmpty)
    assert(rowSet(Graph.bipartiteProjectionTopK(strDf, "g", "i", 5)) ==
      withTwins(rowSet(Graph.bipartiteProjectionTopK(strDf, "g", "i", 5))))
  }

  test("a limit below one row declines before any job, empty input included") {
    val items = spark.range(400L)
      .select((col("id") % 25).as("g"), (col("id") % 18).as("i"))
    val (_, ran) = withTwins(graft.plans.Explain.capture(spark)(
      Graph.edgeJaccardTopKFromBaskets(items, "g", "i", k = 5)))
    assert(!ran.exists(_.toString.contains("CollectLimit")),
      ran.map(_.toString).mkString("\n"))
    assert(withTwins(Graph.collectBaskets(items.limit(0), "g", "i")).isEmpty)
  }

  test("sparkRound6 is bit-equal to the SQL round(x, 6)") {
    val sq = spark
    import sq.implicits._
    val rnd = new scala.util.Random(47)
    // random magnitudes around [0, 1] (the cosine/jaccard range) plus
    // adversarial half-way points and representability edges
    val xs = (1 to 2000).map(_ => rnd.nextDouble()) ++
      (1 to 500).map(_ => rnd.nextInt(2000000).toDouble / 2000000.0) ++
      Seq(0.0000005, 0.0000015, 0.1234565, 0.9999995, 1.0, 0.5,
        2.0 / 3.0, 1.0 / 3.0, 0.3333335, 0.0000004999999999,
        Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val got = xs.map(Graph.sparkRound6)
    val want = xs.toDF("x").select(round(col("x"), 6)).collect()
      .map(_.getDouble(0))
    got.zip(want).zip(xs).foreach { case ((g, w), x) =>
      assert(java.lang.Double.doubleToLongBits(g) ==
        java.lang.Double.doubleToLongBits(w) ||
        (g.isNaN && w.isNaN), s"round mismatch at x=$x: got $g want $w")
    }
  }
}
