package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Cross-operator INVARIANTS over random graphs — each operator is
  * already pinned against brute force in GraphSpec; this spec ties the
  * family together, so a drift in any one shows up as an inconsistency
  * with its neighbors (the mutual-witness pattern):
  *  - Σ_edges support(e) = 3 · |triangles| (every triangle has 3 edges);
  *  - Σ_d d · n_nodes(d) = 2|E| (degree histogram mass);
  *  - transitivitySummary's wedge/triangle counts re-derive from the
  *    degree histogram and triangleCount;
  *  - clusteringCoefficients' per-node n_tri sums to 3 · |triangles|;
  *  - connectedComponentsMinLabel component count + sizes agree with
  *    labelPropagate run past the diameter;
  *  - pagerank mass: Σ pr ≤ n · 1_000_000 and every pr ≥ 150_000
  *    (uniform teleport), while personalizedPagerank roots mass on the
  *    seeds only. */
class GraphInvariantSpec extends AnyFunSuite with SparkSpec {

  private def randomEdges(seed: Int, nodes: Int, draws: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    (1 to draws)
      .map(_ => (rnd.nextInt(nodes).toLong, rnd.nextInt(nodes).toLong))
      .filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
      .distinct
  }

  test("triangle / support / degree / transitivity invariants hold on " +
      "random graphs") {
    import spark.implicits._
    for (seed <- Seq(2, 19, 71)) {
      val es = randomEdges(seed, 24, 220)
      val df = es.toDF("u", "v")
      val tri = Graph.triangleCount(df, "u", "v").collect()(0).getLong(0)
      val supSum = Graph.edgeSupport(df, "u", "v")
        .agg(sum(col("support"))).collect()(0).getLong(0)
      assert(supSum == 3 * tri, s"seed=$seed support mass")
      val hist = Graph.degreeHistogram(df, "u", "v")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(hist.map { case (d, n) => d * n }.sum == 2L * es.size,
        s"seed=$seed degree mass")
      val wedges = hist.map { case (d, n) => n * d * (d - 1) / 2 }.sum
      val row = Graph.transitivitySummary(df, "u", "v").collect()(0)
      assert(row.getLong(0) == wedges && row.getLong(1) == tri,
        s"seed=$seed transitivity counts")
      val ccTriSum = Graph.clusteringCoefficients(df, "u", "v")
        .agg(sum(col("n_tri"))).collect()(0).getLong(0)
      assert(ccTriSum == 3 * tri, s"seed=$seed clustering corner mass")
    }
  }

  test("components equal label propagation past the diameter; pagerank " +
      "mass bounds hold, personalized mass roots on seeds") {
    import spark.implicits._
    val es = randomEdges(5, 30, 60) // sparse -> several components
    val df = es.toDF("u", "v")
    val cc = Graph.connectedComponentsMinLabel(df, "u", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute-force the diameter bound, then run labelPropagate just past it
    val nodes = es.flatMap(p => Seq(p._1, p._2)).distinct
    val nbrs = nodes.map { n =>
      n -> es.collect { case (a, b) if a == n => b; case (a, b) if b == n => a }
    }.toMap
    var lab0 = nodes.map(n => n -> n).toMap
    var rounds = 0
    var changed = true
    while (changed) {
      val next = nodes.map(n => n -> (nbrs(n).map(lab0) :+ lab0(n)).min).toMap
      changed = next != lab0
      lab0 = next
      rounds += 1
    }
    val lp = Graph.labelPropagate(df, "u", "v", rounds = rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == lp)
    val n = cc.size.toLong
    val pr = Graph.pagerankUndirected(df, "u", "v", 3)
      .collect().map(r => r.getLong(1))
    assert(pr.forall(_ >= 150000L), "uniform teleport floor")
    assert(pr.sum <= n * 1000000L, "damping never creates mass")
    val ppr = Graph.personalizedPagerank(df, "u", "v", 3, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val seeds = cc.keySet.toSeq.sorted.take(2).toSet
    val seedComps = seeds.map(cc)
    // nodes outside the seeds' components hold exactly 0
    ppr.foreach { case (node, v) =>
      if (!seedComps(cc(node))) assert(v == 0L, s"node $node off-seed mass")
    }
    assert(seeds.forall(s => ppr(s) >= 150000L), "seed teleport floor")
  }

  test("modularity accounting closes over the declared key (sf0.001): " +
      "Σ d_sum = 2m, Σ e_in <= m, q_num re-derives, singletons have no " +
      "internal edge") {
    val rows = graft.SparkEntry.queries("ext_modularity")(
        spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // recompute m from the degree identity, then every row's q_num
    val dSum = rows.map(_._3).sum
    assert(dSum % 2 == 0, "degree mass is even")
    val m = dSum / 2
    assert(rows.map(_._2).sum <= m, "within-community edges bounded by m")
    rows.foreach { case (_, eIn, dc, qNum) =>
      assert(qNum == 4L * m * eIn - dc * dc, "q_num identity")
    }
    // singleton communities have e_in = 0
    rows.filter(_._1 == 1L).foreach { case (_, eIn, _, _) =>
      assert(eIn == 0L, "singleton has no internal edge")
    }
  }
}
