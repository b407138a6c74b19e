package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

class GraphSpec extends AnyFunSuite with SparkSpec {

  /** The PageRank recurrence in plain Scala over an undirected pair
    * list: the distinct both-orientation adjacency, every node starts at
    * 1_000_000 and restarts with 150_000,
    * pr'(v) = 150_000 + (17 · Σ_{u–v} pr(u) div deg(u)) div 20. */
  private def pagerankReference(pairs: Seq[(Long, Long)],
                                iters: Int): Map[Long, Long] = {
    val adj = pairs.flatMap { case (u, v) => Seq(u -> v, v -> u) }.distinct
      .groupMap(_._1)(_._2)
    var pr = adj.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val c = adj.toSeq.flatMap { case (u, ts) => ts.map(_ -> pr(u) / ts.size) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      pr = pr.keys.map(n => n -> (150000L + 17L * c(n) / 20L)).toMap
    }
    pr
  }

  /** pagerankUndirected at the default limits and with the twin pinned. */
  private def pagerankBoth(df: org.apache.spark.sql.DataFrame,
                           iters: Int): (Map[Long, Long], Map[Long, Long]) = {
    def run() = Graph.pagerankUndirected(df, "u", "v", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (run(), withTwins(run()))
  }

  test("pagerank: hand-computed integer recurrence on an undirected star") {
    import spark.implicits._
    // star 1–2, 1–3; degree 1:2, 2:1, 3:1
    val df = Seq((1L, 2L), (1L, 3L)).toDF("u", "v")
    // iter1: pr(1) = 150000 + 17·2000000/20 = 1850000; pr(2) = pr(3) =
    //        150000 + 17·500000/20 = 575000
    val one = Map(1L -> 1850000L, 2L -> 575000L, 3L -> 575000L)
    assert(pagerankBoth(df, 1) == ((one, one)))
    // iter2: pr(1) = 150000 + (17·1150000) div 20 = 1127500;
    //        pr(2) = pr(3) = 150000 + (17·925000) div 20 = 936250
    val two = Map(1L -> 1127500L, 2L -> 936250L, 3L -> 936250L)
    assert(pagerankBoth(df, 2) == ((two, two)))
  }

  test("pagerank is partition-invariant (integer arithmetic, no float sums)") {
    import spark.implicits._
    val pairs = (1L to 40L).map(i => (i, i % 40 + 1))
    val df = pairs.toDF("u", "v")
    val (a, aTwin) = pagerankBoth(df, 3)
    val (b, bTwin) = pagerankBoth(df.repartition(7), 3)
    assert(a == b && aTwin == a && bTwin == a && a.size == 40)
    assert(a == pagerankReference(pairs, 3))
  }

  test("pagerankUndirected equals the plain-Scala recurrence over both " +
      "orientations; duplicate and reversed pairs change nothing") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val pairs = (1 to 200).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
      .distinct
    val want = pagerankReference(pairs, 3)
    assert(pagerankBoth(pairs.toDF("u", "v"), 3) == ((want, want)))
    val noisy = pairs ++ pairs.take(20) ++ pairs.takeRight(20).map(_.swap)
    assert(pagerankBoth(noisy.toDF("u", "v"), 3) == ((want, want)))
  }

  test("bfsLevelsUndirected: levels match the directed run from min id; " +
      "empty edge set yields an empty frame (no NPE)") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 5L), (6L, 7L))
    val df = pairs.toDF("u", "v")
    val both = df.select($"u".as("s"), $"v".as("t"))
      .unionByName(df.select($"v".as("s"), $"u".as("t")))
    val want = Graph.bfsLevels(both, "s", "t", 1L, 6)
      .collect().map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    val got = Graph.bfsLevelsUndirected(df, "u", "v", 6)
      .collect().map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    assert(got == want)
    assert(got == Map(1L -> 0L, 2L -> 1L, 5L -> 1L, 3L -> 2L, 4L -> 3L))
    val empty = Graph.bfsLevelsUndirected(
      Seq.empty[(Long, Long)].toDF("u", "v"), "u", "v", 6)
    assert(empty.collect().isEmpty)
    assert(empty.columns.toSeq == Seq("node", "lvl"))
  }

  test("kcorePeel equals the brute-force bounded peel (k=2 and k=3)") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val pairs = (1 to 150).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
      .distinct
    val df = pairs.toDF("u", "v")
    for (k <- Seq(2, 3); rounds <- Seq(1, 4)) {
      val got = Graph.kcorePeel(df, "u", "v", k, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      var es = pairs
      for (_ <- 1 to rounds) {
        val deg = es.flatMap(p => Seq(p._1, p._2)).groupBy(identity)
          .map { case (n, xs) => n -> xs.size }
        val keep = deg.filter(_._2 >= k).keySet
        es = es.filter(p => keep(p._1) && keep(p._2))
      }
      val want = es.flatMap(p => Seq(p._1, p._2)).groupBy(identity)
        .map { case (n, xs) => n -> xs.size.toLong }
      assert(got == want, s"k=$k rounds=$rounds")
      // shuffle semi-join path (billion-node graphs): identical result
      val shuffled = withTwins(Graph.kcorePeel(df, "u", "v", k, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      assert(shuffled == want, s"k=$k rounds=$rounds shuffle path")
    }
  }

  test("labelPropagate equals the brute-force r-hop min-label fold, and " +
      "duplicate pairs change nothing (min-fold multiplicity-invariant)") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val pairs = (1 to 120).map(_ => (rnd.nextInt(35).toLong, rnd.nextInt(35).toLong))
      .filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
      .distinct
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val nbrs = nodes.map { n =>
      n -> pairs.collect {
        case (u, v) if u == n => v
        case (u, v) if v == n => u
      }.toSet
    }.toMap
    for (rounds <- Seq(1, 3)) {
      var lab = nodes.map(n => n -> n).toMap
      for (_ <- 1 to rounds)
        lab = nodes.map(n =>
          n -> (nbrs(n).map(lab) + lab(n)).min).toMap
      val got = Graph.labelPropagate(pairs.toDF("u", "v"), "u", "v", rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == lab, s"rounds=$rounds")
      // duplicated pair stream → same labels
      val dup = (pairs ++ pairs.take(40)).toDF("u", "v")
      val got2 = Graph.labelPropagate(dup, "u", "v", rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got2 == lab, s"rounds=$rounds with duplicate pairs")
      // billion-node twin: the shuffled-frontier path (no broadcast,
      // source-partitioned edges) folds to the same labels
      val got3 = withTwins(Graph.labelPropagate(pairs.toDF("u", "v"), "u",
          "v", rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      assert(got3 == lab, s"rounds=$rounds twin")
    }
  }

  test("assortativity equals directly computed Pearson moments; a regular " +
      "graph (zero degree variance) yields NULL") {
    import spark.implicits._
    val (es, _) = randomGraph(31, 28, 260)
    val deg = es.flatMap(p => Seq(p._1, p._2)).groupBy(identity)
      .map { case (n, xs) => n -> xs.size.toLong }
    val ends = es.flatMap(p => Seq((p._1, p._2), (p._2, p._1)))
      .map { case (a, b) => (deg(a), deg(b)) }
    val n = ends.size.toDouble
    val sx = ends.map(_._1).sum.toDouble
    val sxy = ends.map(p => p._1 * p._2).sum.toDouble
    val sx2 = ends.map(p => p._1 * p._1).sum.toDouble
    val want = BigDecimal((n * sxy - sx * sx) / (n * sx2 - sx * sx))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // a distinct edge list is a valid pair stream
    val row = Graph.assortativityFromPairs(es.toDF("u", "v"), "u", "v")
      .collect()(0)
    assert(row.getLong(0) == ends.size.toLong)
    assert(math.abs(row.getDouble(1) - want) < 2e-6)
    // 4-cycle: every degree is 2 → zero variance → NULL r (both engines)
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("u", "v")
    assert(Graph.assortativityFromPairs(ring, "u", "v").collect()(0).isNullAt(1))
  }

  test("single-pass pair-stream forms equal the edge-set forms: " +
      "degreeHistogram / neighborDegreeFromPairs / assortativityFromPairs " +
      "(duplicate pairs in the stream, both join paths)") {
    import spark.implicits._
    val (es, _) = randomGraph(37, 30, 300)
    // raw pair stream with cross-row duplicates — the itemPairs shape
    val raw = (es ++ es.take(70)).toDF("u", "v")
    val deg = es.flatMap(p => Seq(p._1, p._2)).groupBy(identity)
      .map { case (n, xs) => n -> xs.size.toLong }
    val ends = es.flatMap(p => Seq((p._1, p._2), (p._2, p._1)))
      .map { case (a, b) => (deg(a), deg(b)) }
    // the edge-set forms, computed directly off the distinct edges
    val wantHist = deg.values.groupBy(identity)
      .map { case (d, xs) => d -> xs.size.toLong }
    val gotHist = Graph.degreeHistogram(raw, "u", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotHist == wantHist)
    val wantProfile = ends.groupBy(_._1).map { case (d, ps) =>
      d -> ((ps.size.toLong, ps.map(_._2).sum))
    }
    def profile = Graph.neighborDegreeFromPairs(raw, "u", "v")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(profile == wantProfile, "broadcast joins")
    assert(withShuffleJoins(profile) == wantProfile, "shuffle joins")
    val n = ends.size.toDouble
    val sx = ends.map(_._1).sum.toDouble
    val sxy = ends.map(p => p._1 * p._2).sum.toDouble
    val sx2 = ends.map(p => p._1 * p._1).sum.toDouble
    val wantR = BigDecimal((n * sxy - sx * sx) / (n * sx2 - sx * sx))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val gotR = Graph.assortativityFromPairs(raw, "u", "v").collect()(0)
    assert(gotR.getLong(0) == ends.size.toLong)
    assert(math.abs(gotR.getDouble(1) - wantR) < 2e-6)
  }

  test("itemPairs equals the self-join + distinct formulation (same edge " +
      "set the graph oracles replay) and emits per-group-unique pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val rows = (1 to 500).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(25).toLong))
    val df = rows.toDF("g", "item")
    val got = Graph.itemPairs(df, "g", "item")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // per-group pairs are unique by construction (collect_set + i < j)
    assert(got.length == got.distinct.length)
    val want = rows.distinct.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      val items = rs.map(_._2).distinct.sorted
      for (i <- items.indices; j <- i + 1 until items.size)
        yield (g, items(i), items(j))
    }
    assert(got.toSet == want.toSet && got.forall(p => p._2 < p._3))
    // the distinct edge set matches the self-join's DISTINCT output
    val edges = Graph.itemPairs(df, "g", "item")
      .select("u", "v").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges == want.map(p => (p._2, p._3)).toSet)
  }

  // random canonical (u < v) edge set + its brute-force triangle triples
  private def randomGraph(seed: Int, nodes: Int, draws: Int)
      : (Seq[(Long, Long)], Seq[(Long, Long, Long)]) = {
    val rnd = new scala.util.Random(seed)
    val es = (1 to draws)
      .map(_ => (rnd.nextInt(nodes).toLong, rnd.nextInt(nodes).toLong))
      .filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
      .distinct
    val set = es.toSet
    val ns = es.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val tris = for {
      i <- ns.indices; j <- i + 1 until ns.size
      if set((ns(i), ns(j)))
      k <- j + 1 until ns.size
      if set((ns(j), ns(k))) && set((ns(i), ns(k)))
    } yield (ns(i), ns(j), ns(k))
    (es, tris)
  }

  test("triangleCount equals brute-force closed-triple enumeration, " +
      "broadcast and shuffle-join paths alike") {
    import spark.implicits._
    for (seed <- Seq(3, 17)) {
      val (es, tris) = randomGraph(seed, 25, 400)
      val df = es.toDF("u", "v")
      val got = Graph.triangleCount(df, "u", "v").collect()
      assert(got.length == 1 && got(0).getLong(0) == tris.size.toLong,
        s"seed=$seed want=${tris.size}")
      val shuffled = withShuffleJoins(Graph.triangleCount(df, "u", "v")
        .collect()(0).getLong(0))
      assert(shuffled == tris.size.toLong, s"seed=$seed shuffle joins")
    }
  }

  test("clusteringCoefficients: per-node triangle counts and cc match " +
      "brute force; zero-triangle d>=2 nodes kept, d<2 nodes dropped") {
    import spark.implicits._
    val (es, tris) = randomGraph(7, 20, 150)
    val df = es.toDF("u", "v")
    val deg = es.flatMap(p => Seq(p._1, p._2)).groupBy(identity)
      .map { case (n, xs) => n -> xs.size.toLong }
    val triPerNode = tris.flatMap(t => Seq(t._1, t._2, t._3))
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    val want = deg.collect { case (n, d) if d >= 2 =>
      val t = triPerNode.getOrElse(n, 0L)
      val cc = BigDecimal(2.0 * t / (d.toDouble * (d.toDouble - 1.0)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      n -> ((t, d, cc))
    }
    val got = Graph.clusteringCoefficients(df, "u", "v").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == want.keySet)
    for ((n, (t, d, cc)) <- want) {
      val (gt, gd, gcc) = got(n)
      assert(gt == t && gd == d, s"node $n counts")
      assert(math.abs(gcc - cc) < 2e-6, s"node $n cc $gcc vs $cc")
    }
    // shuffle joins: identical frame
    val shuffled = withShuffleJoins(Graph.clusteringCoefficients(df, "u", "v")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap)
    assert(shuffled == got)
  }

  test("neighborDegreeProfile matches brute force (degree classes, end " +
      "counts, neighbor-degree sums), both join paths") {
    import spark.implicits._
    val (es, _) = randomGraph(23, 30, 300)
    val df = es.toDF("u", "v")
    val deg = es.flatMap(p => Seq(p._1, p._2)).groupBy(identity)
      .map { case (n, xs) => n -> xs.size.toLong }
    val ends = es.flatMap(p => Seq((p._1, p._2), (p._2, p._1)))
    val want = ends.groupBy(p => deg(p._1)).map { case (d, ps) =>
      d -> ((ps.size.toLong, ps.map(p => deg(p._2)).sum))
    }
    // a distinct edge list is a valid pair stream
    def got = Graph.neighborDegreeFromPairs(df, "u", "v")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == want, "broadcast joins")
    assert(withShuffleJoins(got) == want, "shuffle joins")
  }

  test("connectedComponentsMinLabel equals brute-force components and the " +
      "star-contraction variant; duplicate pairs ride free") {
    import spark.implicits._
    // several components of different diameters: a path, a cycle, a
    // clique, an isolated edge
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),            // path, diameter 4
      (10L, 11L), (11L, 12L), (10L, 12L),                 // triangle
      (20L, 21L), (20L, 22L), (20L, 23L), (21L, 22L), (21L, 23L), (22L, 23L),
      (30L, 31L))
    def bruteCC(es: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      es.flatMap(p => Seq(p._1, p._2)).distinct.map(n => n -> find(n)).toMap
    }
    val want = bruteCC(pairs)
    val got = Graph.connectedComponentsMinLabel(
        (pairs ++ pairs.take(5)).toDF("u", "v"), "u", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    val gotShuffle = withTwins(Graph.connectedComponentsMinLabel(
        pairs.toDF("u", "v"), "u", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(gotShuffle == want, "twin")
    val star = graft.operators.Dedup.connectedComponentsStar(
        pairs.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == want)
  }

  test("multiSourceBfs equals per-source bfsLevelsUndirected restricted " +
      "to the smallest source ids") {
    import spark.implicits._
    val (es, _) = randomGraph(41, 30, 120)
    val df = es.toDF("u", "v")
    val nodes = es.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val srcs = nodes.take(3)
    val got = Graph.multiSourceBfs(df, "u", "v", nSources = 3, maxDepth = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // the all-distributed twin (state past broadcast range) must match
    val gotDist = withTwins(Graph.multiSourceBfs(df, "u", "v", nSources = 3,
        maxDepth = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap)
    assert(gotDist == got, "twin")
    // brute-force BFS per source
    val nbrs = nodes.map { n =>
      n -> es.collect { case (a, b) if a == n => b; case (a, b) if b == n => a }.toSet
    }.toMap
    val want = srcs.flatMap { s =>
      var lvl = Map(s -> 0)
      var frontier = Set(s)
      for (i <- 1 to 4) {
        val next = frontier.flatMap(nbrs).diff(lvl.keySet)
        next.foreach(n => lvl += n -> i)
        frontier = next
      }
      lvl.map { case (n, l) => (s, n) -> l }
    }.toMap
    assert(got == want)
  }

  test("multiSourceBfs' twin checkpoints every round: at maxDepth 8 no " +
      "executed plan nests more than a handful of InMemoryRelations, and " +
      "it equals the driver tier") {
    import spark.implicits._
    // a 12-node path plus the chord 3-7: node 12 is 8 hops from node 1,
    // so all 8 rounds discover nodes
    val es = (1L until 12L).map(i => (i, i + 1)) :+ ((3L, 7L))
    val df = es.toDF("u", "v")
    def levels(out: org.apache.spark.sql.DataFrame) = out.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val tier = levels(Graph.multiSourceBfs(df, "u", "v", nSources = 3,
      maxDepth = 8))
    val (twin, ran) = withTwins(graft.plans.Explain.capture(spark)(
      levels(Graph.multiSourceBfs(df, "u", "v", nSources = 3, maxDepth = 8))))
    assert(twin == tier)
    assert(tier.keySet.map(_._1) == Set(1L, 2L, 3L) && tier((1L, 12L)) == 8)
    val nested = ran.map(p => "InMemoryRelation".r.findAllIn(p.toString).size)
    assert(ran.nonEmpty && nested.max <= 4,
      s"InMemoryRelation nodes per executed plan: ${nested.mkString(", ")}")
  }

  test("labelPropagate's twin checkpoints every round: at rounds 8 no " +
      "executed plan nests more than a handful of InMemoryRelations, and " +
      "it equals the driver tier") {
    import spark.implicits._
    // a 12-node path plus the chord 3-7: node 12 is 8 hops from node 1,
    // so label 1 reaches it in the 8th round
    val es = (1L until 12L).map(i => (i, i + 1)) :+ ((3L, 7L))
    val df = es.toDF("u", "v")
    def labels(out: org.apache.spark.sql.DataFrame) = out.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tier = labels(Graph.labelPropagate(df, "u", "v", rounds = 8))
    val (twin, ran) = withTwins(graft.plans.Explain.capture(spark)(
      labels(Graph.labelPropagate(df, "u", "v", rounds = 8))))
    assert(twin == tier)
    assert(tier == (1L to 12L).map(_ -> 1L).toMap)
    val nested = ran.map(p => "InMemoryRelation".r.findAllIn(p.toString).size)
    assert(ran.nonEmpty && nested.max <= 4,
      s"InMemoryRelation nodes per executed plan: ${nested.mkString(", ")}")
  }

  test("labelPropagate (frontier-delta rounds) equals the retained " +
      "full-table fold chain on seeded random graphs, every round count") {
    import spark.implicits._
    for (seed <- Seq(3, 17, 91)) {
      val (es, _) = randomGraph(seed, 28, 130)
      val df = es.toDF("u", "v")
      val nodes = es.flatMap(p => Seq(p._1, p._2)).distinct
      val nbrs = nodes.map { n =>
        n -> es.collect {
          case (a, b) if a == n => b
          case (a, b) if b == n => a
        }.toSet
      }.toMap
      var lab = nodes.map(n => n -> n).toMap
      for (r <- 1 to 4) {
        lab = nodes.map(n => n -> (nbrs(n).map(lab) + lab(n)).min).toMap
        val got = Graph.labelPropagate(df, "u", "v", rounds = r)
          .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
        assert(got == lab, s"seed=$seed rounds=$r")
      }
    }
  }

  test("pathCounts equals brute-force shortest-path counting (Brandes " +
      "forward pass) from the smallest sources; duplicate pairs fold in") {
    import spark.implicits._
    val (es, _) = randomGraph(53, 24, 150)
    val df = es.toDF("u", "v")
    val nodes = es.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val srcs = nodes.take(3)
    val nbrs = nodes.map { n =>
      n -> es.collect { case (a, b) if a == n => b; case (a, b) if b == n => a }
    }.toMap
    val maxDepth = 4
    val want = srcs.flatMap { s =>
      var lvl = Map(s -> 0)
      var sig = Map(s -> 1L)
      var frontier = Seq(s)
      for (i <- 1 to maxDepth) {
        val contrib = scala.collection.mutable.Map.empty[Long, Long]
        frontier.foreach(p => nbrs(p).foreach { n =>
          if (!lvl.contains(n))
            contrib(n) = contrib.getOrElse(n, 0L) + sig(p)
        })
        contrib.foreach { case (n, c) => lvl += n -> i; sig += n -> c }
        frontier = contrib.keys.toSeq
      }
      lvl.map { case (n, l) => (s, n) -> ((l, sig(n))) }
    }.toMap
    val got = Graph.pathCounts(df, "u", "v", nSources = 3, maxDepth = maxDepth)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getInt(2), r.getLong(3))))
      .toMap
    assert(got == want)
  }

  test("louvainFirstLevel: integer argmax matches brute force; ties go " +
      "to the smaller neighbor; all-negative scores stay put") {
    import spark.implicits._
    val wes = Seq((1L, 2L, 5L), (1L, 3L, 1L), (2L, 3L, 4L), (3L, 4L, 2L),
      (4L, 5L, 7L), (2L, 5L, 1L))
    val df = wes.toDF("u", "v", "w")
    val nbrs = wes.flatMap { case (u, v, w) => Seq(u -> (v, w), v -> (u, w)) }
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2) }
    val k = nbrs.map { case (n, xs) => n -> xs.map(_._2).sum }
    val m2 = k.values.sum
    val want = nbrs.map { case (n, xs) =>
      val scored = xs.map { case (j, w) => (m2 * w - k(n) * k(j), j) }
      val best = scored.minBy { case (s, j) => (-s, j) }
      n -> (if (best._1 > 0) best._2 else n)
    }
    val got = Graph.louvainFirstLevel(df, "u", "v", "w")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // the Graph header's NULL rule: an edge with a NULL endpoint is
    // dropped, so it adds nothing to node 2's strength or to 2m
    val withNull = (wes.map { case (u, v, w) => (u, Option(v), w) } :+
      ((2L, Option.empty[Long], 50L))).toDF("u", "v", "w")
    val gotNull = Graph.louvainFirstLevel(withNull, "u", "v", "w")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotNull == want)
  }

  test("sccPivot: the pivot's SCC is exactly fwd ∩ bwd reach with hop " +
      "distances; nodes outside the SCC are absent; empty input is empty") {
    import spark.implicits._
    // cycle 1→2→3→1 (the pivot SCC), escape 3→4, cycle 4→5→4 (separate)
    val d = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 4L))
      .toDF("s", "t")
    val got = Graph.sccPivot(d, "s", "t", maxDepth = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(got == Set((1L, 0, 0), (2L, 1, 2), (3L, 2, 1)))
    val empty = Graph.sccPivot(Seq.empty[(Long, Long)].toDF("s", "t"),
      "s", "t", 5)
    assert(empty.collect().isEmpty)
    assert(empty.columns.toSeq == Seq("node", "lvl_fwd", "lvl_bwd"))
  }

  test("sccPivot strided fused loop: exact hop levels vs driver-side BFS " +
      "on a random directed graph, including odd maxDepth truncation") {
    import spark.implicits._
    val rnd = new scala.util.Random(173)
    val des = (1 to 260)
      .map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2).distinct
    def bfs(adj: Map[Long, Seq[Long]], src: Long, cap: Int): Map[Long, Int] = {
      var lvl = Map(src -> 0); var frontier = Seq(src); var d = 0
      while (frontier.nonEmpty && d < cap) {
        d += 1
        val next = frontier.flatMap(n => adj.getOrElse(n, Nil))
          .distinct.filterNot(lvl.contains)
        next.foreach(n => lvl += n -> d)
        frontier = next
      }
      lvl
    }
    val pivot = des.flatMap(p => Seq(p._1, p._2)).min
    val fwdAdj = des.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val bwdAdj = des.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
    for (cap <- Seq(3, 4, 10)) { // odd, even, and diameter-exceeding
      val f = bfs(fwdAdj, pivot, cap); val b = bfs(bwdAdj, pivot, cap)
      val want = (f.keySet intersect b.keySet)
        .map(n => (n, f(n), b(n))).toSet
      val got = Graph.sccPivot(des.toDF("s", "t"), "s", "t", maxDepth = cap)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      assert(got == want, s"maxDepth=$cap: ${got.diff(want)} spurious, " +
        s"${want.diff(got)} missed")
      // the all-distributed twin (label table past broadcast range)
      // must match the driver-resident default row-for-row
      val gotDist = withTwins(Graph.sccPivot(des.toDF("s", "t"), "s", "t",
          maxDepth = cap)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet)
      assert(gotDist == want, s"maxDepth=$cap twin")
    }
  }

  test("louvainLevels matches the sequential multi-level reference " +
      "(integer argmax move, pointer-CC min label, self-loop contraction)" +
      " on random weighted graphs; distributed twin matches") {
    import spark.implicits._
    def brute(edges0: Seq[(Long, Long, Long)], maxLevels: Int): Map[Long, Long] = {
      var es = edges0
      val nodes0 = edges0.flatMap(e => Seq(e._1, e._2)).distinct
      var mapping: Map[Long, Long] = null
      var level = 0
      var moved = true
      while (level < maxLevels && moved) {
        val k = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
        es.foreach { case (a, b, w) =>
          if (a == b) k(a) += 2 * w else { k(a) += w; k(b) += w } }
        val m2 = k.values.sum
        val nbr = scala.collection.mutable.Map.empty[Long, List[(Long, Long)]]
          .withDefaultValue(Nil)
        es.foreach { case (a, b, w) => if (a != b) {
          nbr(a) = (b, w) :: nbr(a); nbr(b) = (a, w) :: nbr(b) } }
        val p = k.keys.map { s =>
          val scoredN = nbr(s).map { case (t, w) => (t, m2 * w - k(s) * k(t)) }
          val best = scoredN.sortBy { case (t, sc) => (-sc, t) }.headOption
          s -> (best match {
            case Some((t, sc)) if sc > 0 => t
            case _ => s
          })
        }.toMap
        moved = p.exists { case (n, q) => n != q }
        if (moved) {
          val parent = scala.collection.mutable.Map.empty[Long, Long]
          def find(x: Long): Long = {
            var r = x; while (parent(r) != r) r = parent(r); r
          }
          p.foreach { case (n, q) =>
            parent.getOrElseUpdate(n, n); parent.getOrElseUpdate(q, q)
            val (rn, rq) = (find(n), find(q))
            if (rn != rq) parent(math.max(rn, rq)) = math.min(rn, rq)
          }
          val minOf = scala.collection.mutable.Map.empty[Long, Long]
          p.keys.foreach { n =>
            val r = find(n); minOf(r) = math.min(minOf.getOrElse(r, n), n) }
          val cc = p.keys.map(n => n -> minOf(find(n))).toMap
          mapping = if (mapping == null) cc
            else mapping.map { case (o, c) => o -> cc(c) }
          es = es.map { case (a, b, w) =>
              (math.min(cc(a), cc(b)), math.max(cc(a), cc(b)), w) }
            .groupBy(e => (e._1, e._2))
            .map { case ((a, b), xs) => (a, b, xs.map(_._3).sum) }.toSeq
          level += 1
        }
      }
      if (mapping == null) nodes0.map(n => n -> n).toMap else mapping
    }
    for (seed <- Seq(11, 47, 83)) {
      val (es, _) = randomGraph(seed, 24, 120)
      val rnd = new scala.util.Random(seed + 1000)
      val wes = es.map { case (a, b) => (a, b, 1L + rnd.nextInt(9)) }
      val want = brute(wes, maxLevels = 5)
      val df = wes.toDF("u", "v", "w")
      val got = Graph.louvainLevels(df, "u", "v", "w", maxLevels = 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"seed=$seed driver path")
      val gotDist = withTwins(Graph.louvainLevels(df, "u", "v", "w",
          maxLevels = 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      assert(gotDist == want, s"seed=$seed twin")
    }
    // level-capped: one level must equal the pointer-CC closure of the
    // single-level move phase (louvainFirstLevel's argmax)
    val (es1, _) = randomGraph(7, 16, 60)
    val wes1 = es1.map { case (a, b) => (a, b, 2L) }
    val want1 = brute(wes1, maxLevels = 1)
    val got1 = Graph.louvainLevels(wes1.toDF("u", "v", "w"), "u", "v", "w",
        maxLevels = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got1 == want1, "maxLevels=1")
  }

  test("louvainModularity: per-community W/K/contribution match the " +
      "brute recompute over louvainLevels' own partition, and " +
      "Σ q_contrib / (2m)² is the textbook Q") {
    import spark.implicits._
    val (es, _) = randomGraph(59, 22, 100)
    val rnd = new scala.util.Random(59)
    val wes = es.map { case (a, b) => (a, b, 1L + rnd.nextInt(5)) }
    val df = wes.toDF("u", "v", "w")
    val comm = Graph.louvainLevels(df, "u", "v", "w", maxLevels = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s2m = 2L * wes.map(_._3).sum
    val k = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    wes.foreach { case (a, b, w) => k(a) += w; k(b) += w }
    val want = comm.values.toSeq.distinct.map { c =>
      val members = comm.collect { case (n, cc) if cc == c => n }.toSet
      val wIn = wes.collect {
        case (a, b, w) if members(a) && members(b) => w }.sum
      val kTot = members.toSeq.map(k).sum
      c -> (members.size.toLong, wIn, kTot, 2 * s2m * wIn - kTot * kTot)
    }.toMap
    val got = Graph.louvainModularity(df, "u", "v", "w", maxLevels = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == want)
    // the all-distributed twin matches row-for-row
    val gotDist = withTwins(Graph.louvainModularity(df, "u", "v", "w",
        maxLevels = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap)
    assert(gotDist == want, "twin")
    // the scaled contributions recompose to the float Q exactly
    val q = got.values.map(_._4).sum.toDouble / (s2m.toDouble * s2m)
    val qBrute = want.values.map { case (_, wIn, kTot, _) =>
      2.0 * wIn / s2m - math.pow(kTot.toDouble / s2m, 2) }.sum
    assert(math.abs(q - qBrute) < 1e-12)
  }

  test("weightedPersonalizedPagerank with uniform weights equals the " +
      "unweighted operator (the scale cancels inside the floor)") {
    import spark.implicits._
    val (es, _) = randomGraph(91, 20, 110)
    val pairs = es.toDF("u", "v")
    val wpairs = es.map { case (u, v) => (u, v, 7L) }.toDF("u", "v", "w")
    val want = Graph.personalizedPagerank(pairs, "u", "v", iters = 3,
        nSeeds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Graph.weightedPersonalizedPagerank(wpairs, "u", "v", "w",
        iters = 3, nSeeds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // the all-distributed twin (rank state past broadcast range) must
    // match the driver-resident default row-for-row
    val gotDist = withTwins(Graph.weightedPersonalizedPagerank(wpairs, "u",
        "v", "w", iters = 3, nSeeds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(gotDist == want, "twin")
  }

  test("resourceAllocationTopK matches brute force over non-adjacent " +
      "pairs with integer 2^20 div deg shares") {
    import spark.implicits._
    val (es, _) = randomGraph(29, 18, 90)
    val eset = es.toSet
    val nbrs = (es ++ es.map(_.swap)).groupBy(_._1)
      .map { case (n, xs) => n -> xs.map(_._2).toSet }
    val want = (for {
      a <- nbrs.keys; b <- nbrs.keys
      if a < b && !eset((a, b))
      common = nbrs(a) & nbrs(b)
      if common.nonEmpty
    } yield ((a, b), (common.toSeq.map(z => 1048576L / nbrs(z).size).sum,
        common.size.toLong))).toMap
    val wantTop = want.toSeq
      .sortBy { case ((a, b), (ra, _)) => (-ra, a, b) }.take(10)
      .map { case ((a, b), (ra, cn)) => (a, b, ra, cn) }
    val got = Graph.resourceAllocationTopK(es.toDF("u", "v"), "u", "v",
        topK = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == wantTop)
  }

  test("betweennessSampled equals brute-force Brandes with the same " +
      "fixed-point floor-division recurrence; shuffled-hash twin matches") {
    import spark.implicits._
    val (es, _) = randomGraph(67, 22, 130)
    val df = es.toDF("u", "v")
    val nodes = es.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val srcs = nodes.take(3)
    val nbrs = nodes.map { n =>
      n -> es.collect { case (a, b) if a == n => b; case (a, b) if b == n => a }
    }.toMap
    val maxDepth = 4
    val scale = 1L << 20
    val want = scala.collection.mutable.Map.empty[Long, Long]
    srcs.foreach { s =>
      // forward: levels + sigma
      var lvl = Map(s -> 0)
      var sig = Map(s -> 1L)
      var frontier = Seq(s)
      for (i <- 1 to maxDepth) {
        val contrib = scala.collection.mutable.Map.empty[Long, Long]
        frontier.foreach(p => nbrs(p).foreach { n =>
          if (!lvl.contains(n)) contrib(n) = contrib.getOrElse(n, 0L) + sig(p)
        })
        contrib.foreach { case (n, c) => lvl += n -> i; sig += n -> c }
        frontier = contrib.keys.toSeq
      }
      // backward: c = (SCALE + delta) div sigma, delta = sigma * sum c(succ)
      val c = scala.collection.mutable.Map.empty[Long, Long]
      for (l <- maxDepth to 1 by -1) {
        lvl.collect { case (n, `l`) => n }.foreach { n =>
          val f = nbrs(n).filter(w => lvl.get(w).contains(l + 1))
            .map(c).sum
          val delta = sig(n) * f
          c(n) = (scale + delta) / sig(n)
          want(n) = want.getOrElse(n, 0L) + delta
        }
      }
    }
    def key(r: org.apache.spark.sql.DataFrame) =
      r.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val got = key(Graph.betweennessSampled(df, "u", "v", 3, maxDepth))
    assert(got == want.toMap)
    assert(withTwins(key(Graph.betweennessSampled(df, "u", "v", 3,
      maxDepth))) == want.toMap)
  }

  test("pathCounts and betweennessSampled read the simple graph: a raw " +
      "pair stream with repeats in both orientations equals the distinct " +
      "input, driver tier and twin alike") {
    import spark.implicits._
    val (es, _) = randomGraph(41, 19, 120)
    val distinctDf = es.toDF("u", "v")
    // repeat every third pair and reverse every fifth — both must
    // collapse or the σ sums double (a repeated pair is a parallel path)
    val rawDf = (es ++ es.zipWithIndex.collect { case (p, i) if i % 3 == 0 => p }
        ++ es.zipWithIndex.collect { case ((u, v), i) if i % 5 == 0 => (v, u) })
      .toDF("u", "v")
    def paths(df: org.apache.spark.sql.DataFrame) =
      Graph.pathCounts(df, "u", "v", 3, 4).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getInt(2), r.getLong(3))))
        .toMap
    def betweenness(df: org.apache.spark.sql.DataFrame) =
      Graph.betweennessSampled(df, "u", "v", 3, 4).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val basePaths = paths(distinctDf)
    val baseBetweenness = betweenness(distinctDf)
    assert(paths(rawDf) == basePaths, "pathCounts driver tier")
    assert(betweenness(rawDf) == baseBetweenness, "betweennessSampled driver tier")
    withTwins {
      assert(paths(rawDf) == basePaths, "pathCounts twin")
      assert(paths(distinctDf) == basePaths, "pathCounts twin, distinct input")
      assert(betweenness(rawDf) == baseBetweenness, "betweennessSampled twin")
    }
  }

  test("pathCounts edge cases: maxDepth = 0 is the seed rows only; " +
      "nSources beyond the node count uses every node; empty input " +
      "yields empty output") {
    import spark.implicits._
    val df = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    val d0 = Graph.pathCounts(df, "u", "v", nSources = 2, maxDepth = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(d0.toSet == Set((1L, 1L, 0, 1L), (2L, 2L, 0, 1L)))
    val all = Graph.pathCounts(df, "u", "v", nSources = 99, maxDepth = 1)
      .collect()
    assert(all.map(_.getLong(0)).distinct.sorted.toSeq == Seq(1L, 2L, 3L))
    val empty = Graph.pathCounts(Seq.empty[(Long, Long)].toDF("u", "v"),
      "u", "v", 3, 2)
    assert(empty.collect().isEmpty)
    assert(empty.columns.toSeq == Seq("src", "node", "lvl", "paths"))
  }

  test("assocRules: rules re-derive from their own supports and both " +
      "directions' confidences are consistent with lift") {
    import spark.implicits._
    // small basket fixture with a known strong pair
    val li = Seq(
      (1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 10L), (3L, 20L),
      (4L, 10L), (4L, 30L), (5L, 20L), (5L, 30L))
      .toDF("l_orderkey", "l_partkey")
    val rows = Graph.assocRules(li, "l_orderkey", "l_partkey", topK = 10)
      .collect()
    assert(rows.nonEmpty)
    val top = rows.head
    assert((top.getLong(0), top.getLong(1), top.getLong(2)) == (10L, 20L, 3L))
    rows.foreach { r =>
      val (s, sa, sb) = (r.getLong(2), r.getLong(3), r.getLong(4))
      val (cab, cba, lift) = (r.getDouble(5), r.getDouble(6), r.getDouble(7))
      assert(math.abs(cab - s.toDouble / sa) < 1e-6)
      assert(math.abs(cba - s.toDouble / sb) < 1e-6)
      // lift = N * conf_ab / s_b (N = 5 baskets)
      assert(math.abs(lift - 5.0 * s / (sa.toDouble * sb)) < 1e-5)
    }
  }

  test("ssspBounded equals brute-force bounded Bellman-Ford on weighted " +
      "edges; empty input yields an empty frame") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val wes = (1 to 120)
      .map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
      .distinct
      .map { case (u, v) => (u, v, 1L + rnd.nextInt(9).toLong) }
    val df = wes.toDF("u", "v", "w")
    val src = wes.flatMap(e => Seq(e._1, e._2)).min
    val rounds = 3
    var dist = Map(src -> 0L)
    for (_ <- 1 to rounds) {
      var next = dist
      wes.foreach { case (u, v, w) =>
        dist.get(u).foreach(d =>
          if (!next.get(v).exists(_ <= d + w)) next += v -> (d + w))
        dist.get(v).foreach(d =>
          if (!next.get(u).exists(_ <= d + w)) next += u -> (d + w))
      }
      dist = next
    }
    val got = Graph.ssspBounded(df, "u", "v", "w", rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == dist)
    val gotShuffle = withTwins(Graph.ssspBounded(df, "u", "v", "w", rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(gotShuffle == dist, "twin")
    val empty = Graph.ssspBounded(
      Seq.empty[(Long, Long, Long)].toDF("u", "v", "w"), "u", "v", "w", 2)
    assert(empty.collect().isEmpty)
    assert(empty.columns.toSeq == Seq("node", "dist"))
  }

  test("edgeSupport equals brute-force common-neighbor counts per edge, " +
      "both join paths; trussPeel equals the brute-force edge peel") {
    import spark.implicits._
    val (es, _) = randomGraph(47, 22, 200)
    val df = es.toDF("u", "v")
    val set = es.toSet
    val nodes = es.flatMap(p => Seq(p._1, p._2)).distinct
    def nbrs(edges: Set[(Long, Long)]): Map[Long, Set[Long]] =
      nodes.map { n =>
        n -> edges.collect { case (a, b) if a == n => b; case (a, b) if b == n => a }
      }.toMap
    def bruteSupport(edges: Set[(Long, Long)]): Map[(Long, Long), Long] = {
      val nb = nbrs(edges)
      edges.map(e => e -> (nb(e._1) intersect nb(e._2)).size.toLong).toMap
    }
    val want = bruteSupport(set)
    // brute truss peel (k=4, 1 round) + induced support histogram
    val survivors = set.filter(e => want(e) >= 2)
    val wantHist = bruteSupport(survivors).values
      .groupBy(identity).map { case (s, xs) => s -> xs.size.toLong }
    def got = Graph.edgeSupport(df, "u", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def gotHist = Graph.trussPeel(df, "u", "v", k = 4, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, "broadcast joins")
    assert(gotHist == wantHist, "peel, broadcast joins")
    withShuffleJoins {
      assert(got == want, "shuffle joins")
      assert(gotHist == wantHist, "peel, shuffle joins")
    }
  }

  test("edgeJaccardTopK and transitivitySummary equal brute force") {
    import spark.implicits._
    val (es, tris) = randomGraph(53, 20, 160)
    val df = es.toDF("u", "v")
    val nodes = es.flatMap(p => Seq(p._1, p._2)).distinct
    val nb = nodes.map { n =>
      n -> es.collect { case (a, b) if a == n => b; case (a, b) if b == n => a }.toSet
    }.toMap
    val wantJac = es.map { case (u, v) =>
      val c = (nb(u) intersect nb(v)).size
      val j = BigDecimal(c.toDouble / (nb(u).size + nb(v).size - c).toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (u, v, c.toLong, j)
    }.sortBy(t => (-t._4, t._1, t._2)).take(10)
    val gotJac = Graph.edgeJaccardTopK(df, "u", "v", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(gotJac.map(t => (t._1, t._2, t._3)).toSeq ==
      wantJac.map(t => (t._1, t._2, t._3)))
    gotJac.zip(wantJac).foreach { case (g, w) =>
      assert(math.abs(g._4 - w._4) < 2e-6) }
    val wedges = nodes.map(n => nb(n).size.toLong).map(d => d * (d - 1) / 2).sum
    val row = Graph.transitivitySummary(df, "u", "v").collect()(0)
    assert(row.getLong(0) == wedges && row.getLong(1) == tris.size.toLong)
    val wantT = BigDecimal(3.0 * tris.size / wedges.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(row.getDouble(2) - wantT) < 2e-6)
  }

  test("personalizedPagerank equals the hand-rolled seed-teleport integer " +
      "recurrence; non-seed components hold rank 0") {
    import spark.implicits._
    val (es, _) = randomGraph(59, 20, 80)
    // append an isolated component far from the smallest ids: it must
    // hold 0 through every round (no uniform teleport mass)
    val pairs = es ++ Seq((900L, 901L), (901L, 902L))
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val seeds = nodes.take(3).toSet
    val nbrs = nodes.map { n =>
      n -> pairs.collect {
        case (a, b) if a == n => b
        case (a, b) if b == n => a
      }
    }.toMap
    val od = nodes.map(n => n -> nbrs(n).size.toLong).toMap
    var pr = nodes.map(n => n -> (if (seeds(n)) 1000000L else 0L)).toMap
    for (_ <- 1 to 3) {
      val contrib = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for (u <- nodes; v <- nbrs(u)) contrib(v) += pr(u) / od(u)
      pr = nodes.map(n =>
        n -> ((if (seeds(n)) 150000L else 0L) + 17L * contrib(n) / 20L)).toMap
    }
    val got = Graph.personalizedPagerank(pairs.toDF("u", "v"), "u", "v",
        iters = 3, nSeeds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == pr)
    assert(got(900L) == 0L && got(901L) == 0L && got(902L) == 0L)
  }

  test("triangleCount on a triangle-free and an empty graph is 0") {
    import spark.implicits._
    // path graph 1-2-3-4: no triangles
    assert(Graph.triangleCount(
        Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v"), "u", "v")
      .collect()(0).getLong(0) == 0L)
    val empty = spark.range(0)
      .select($"id".as("u"), $"id".as("v"))
    assert(Graph.triangleCount(empty, "u", "v").collect()(0).getLong(0) == 0L)
    assert(Graph.clusteringCoefficients(empty, "u", "v").collect().isEmpty)
  }

  /** Plain-Scala unnormalized HITS over bipartite pairs. */
  private def hitsRef(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val e = edges.distinct
    var h = e.map(_._1).distinct.map(_ -> 1L).toMap
    var a = Map.empty[Long, Long]
    (1 to iters).foreach { _ =>
      a = e.groupBy(_._2).map { case (p, es) => p -> es.map(x => h(x._1)).sum }
      h = e.groupBy(_._1).map { case (c, es) => c -> es.map(x => a(x._2)).sum }
    }
    a
  }

  test("hitsBipartite matches the brute-force recurrence and tiebreaks by id") {
    import spark.implicits._
    // deterministic pseudo-random bipartite graph, 20 hubs x 12 authorities
    val edges = for {
      c <- 1L to 20L; p <- 1L to 12L
      if (c * 7 + p * 13) % 5 != 0
    } yield (c, p + 100L)
    val want = hitsRef(edges, 2).toSeq
      .sortBy { case (p, s) => (-s, p) }.take(5)
    val got = Graph.hitsBipartite(edges.toDF("c", "p"), "c", "p",
      iters = 2, topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want)
    // the co-partitioned shuffle twin (node dims past broadcast range)
    val gotShuffle = withTwins(Graph.hitsBipartite(edges.toDF("c", "p"),
      "c", "p", iters = 2, topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(gotShuffle == want)
  }

  test("commonNeighborTopK matches brute force, excludes existing edges, " +
      "and is duplicate-invariant") {
    import spark.implicits._
    // deterministic sparse graph on 30 nodes
    val edges = (for {
      u <- 1L to 30L; v <- (u + 1) to 30L
      if (u * 11 + v * 7) % 9 == 0
    } yield (u, v)).toSeq
    val eset = edges.toSet
    val nbrs = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val want = (for {
      a <- 1L to 30L; b <- (a + 1) to 30L
      if !eset.contains((a, b))
      cn = (nbrs.getOrElse(a, Set.empty) & nbrs.getOrElse(b, Set.empty)).size
      if cn > 0
    } yield (a, b, cn.toLong))
      .sortBy { case (a, b, cn) => (-cn, a, b) }.take(5)
    def run(in: Seq[(Long, Long)]) =
      Graph.commonNeighborTopK(in.toDF("u", "v"), "u", "v", 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val got = run(edges)
    assert(got == want)
    // duplicate pairs and swapped orientations change nothing
    assert(run(edges ++ edges.map(_.swap) ++ edges) == want)
    // no returned pair is an existing edge
    assert(got.forall { case (a, b, _) => !eset.contains((a, b)) })
  }

  test("hitsBipartite edge cases: iters = 1 is the plain indegree ranking; " +
      "empty input yields empty output") {
    import spark.implicits._
    val edges = Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 11L), (2L, 11L),
      (1L, 12L))
    val got = Graph.hitsBipartite(edges.toDF("c", "p"), "c", "p",
        iters = 1, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((10L, 3L), (11L, 2L), (12L, 1L)))
    val empty = Seq.empty[(Long, Long)].toDF("c", "p")
    assert(Graph.hitsBipartite(empty, "c", "p", 2, 5).collect().isEmpty)
  }

  test("commonNeighborTopK: empty and all-adjacent graphs yield empty " +
      "(no non-edge candidates)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("u", "v")
    assert(Graph.commonNeighborTopK(empty, "u", "v", 5).collect().isEmpty)
    // complete graph on 4 nodes: every wedge pair is already an edge
    val k4 = (for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)).toDF("u", "v")
    assert(Graph.commonNeighborTopK(k4, "u", "v", 5).collect().isEmpty)
  }

  test("hitsBipartite is invariant to duplicate input pairs (distinct inside)") {
    import spark.implicits._
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (3L, 12L))
    val once = Graph.hitsBipartite(edges.toDF("c", "p"), "c", "p", 2, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val dup = Graph.hitsBipartite((edges ++ edges ++ edges).toDF("c", "p"),
      "c", "p", 2, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(once == dup)
    // hand check: a1 = indeg {10:2, 11:1, 12:1}; h1 = {1:3, 2:2, 3:1};
    // a2 = {10:5, 11:3, 12:1}
    assert(once == Seq((10L, 5L), (11L, 3L), (12L, 1L)))
  }
}
