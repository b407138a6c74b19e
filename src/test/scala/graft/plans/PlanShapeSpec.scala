package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkSpec, SparkEntry}

/** Scale-shape assertions on the physical plans of headline queries: these
  * pin the properties that matter at 1000 executors, not just the results. */
class PlanShapeSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("star join: dims broadcast BY HINT, fact join shuffles when nothing auto-broadcasts") {
    // at real scale nothing is under the auto-broadcast threshold; simulate by
    // disabling it — the explicit broadcast() hints must still carry the dims,
    // and the lineitem⋈orders fact join must become a shuffle join
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = planOf("join_star_5way")
      assert(p.contains("BroadcastHashJoin"), s"hinted dims must broadcast:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"fact join must be a shuffle join:\n$p")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("grouped aggregation is two-phase (partial map-side combine)") {
    val p = planOf("agg_group_returnflag")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"expect partial+final:\n$p")
  }

  test("projection pruning reaches the scan (ReadSchema excludes unused columns)") {
    val p = planOf("project_header_order")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("c_custkey") && !read.contains("c_nationkey"),
      s"scan must prune to the projected columns:\n$read")
  }

  test("keyset watermark predicate is pushed to the Parquet scan") {
    val p = planOf("scan_keyset_chunk")
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(o_orderkey,5000)"),
      s"watermark must push down:\n$p")
  }

  test("top-k plans as TakeOrderedAndProject (no global sort materialization)") {
    val p = planOf("topk_orders_by_price")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must be a heap merge:\n$p")
  }

  test("distributed ntile matches the built-in and avoids the single-partition window") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val orders = graft.Tables.load(spark, sf, "orders").select(col("o_orderkey"))
    val builtin = orders.select(col("o_orderkey"),
      ntile(4).over(Window.orderBy(col("o_orderkey"))).as("quartile"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    val twoPhase = SparkEntry.queries("window_ntile_orders")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(twoPhase == builtin && twoPhase.nonEmpty)
    val p = planOf("window_ntile_orders")
    assert(!p.contains("SinglePartition"), s"ntile must not funnel to one task:\n$p")
    assert(!p.contains("Window"), s"two-phase ntile needs no window exec:\n$p")
  }

  test("distributed ntile: uneven buckets match the built-in (N % n != 0)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val sq = spark
    import sq.implicits._
    // 10 rows into 4 buckets → sizes 3,3,2,2; also exercises n=3 (10%3=1)
    val df = (1 to 10).map(_.toLong).toDF("k").repartition(4)
    for (n <- Seq(3, 4, 7, 10, 12)) {
      val builtin = df.select(col("k"), ntile(n).over(Window.orderBy(col("k"))).as("t"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      val twoPhase = graft.operators.Query.ntileDistributed(df, n, Seq("k"), "t")
        .select(col("k"), col("t"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      assert(twoPhase == builtin, s"n=$n")
    }
  }

  test("whole-stage codegen covers the hot aggregation path") {
    val p = SparkEntry.queries("agg_group_returnflag")(spark, sf)
      .queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
    assert(p.contains("WholeStageCodegen"), s"expect WholeStageCodegen subtrees:\n${p.take(800)}")
  }

  test("column profiling plans WITHOUT Expand (no k-times row multiplication)") {
    // the multi-distinct Aggregate form Expands every input row k× map-side —
    // a 100× scan blow-up on a 100-column table; the union-of-branches form
    // must plan k plain two-phase aggregates instead
    val p = planOf("ext_profile_columns")
    assert(!p.contains("Expand"), s"profiling must not Expand the scan:\n$p")
    assert(p.contains("Union"), s"expect one union-of-branches job:\n$p")
    // each branch's scan reads ONLY its own column
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.nonEmpty && reads.forall(r =>
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        .count(r.contains) == 1),
      s"every branch must prune to a single profiled column:\n${reads.mkString("\n")}")
  }

  test("bloom-pruned join applies might_contain BELOW the join exchange") {
    // the whole point of the bloom prune is shrinking the fact side BEFORE
    // the shuffle: force the shuffle join (nothing auto-broadcasts at real
    // scale) and pin Exchange → Filter(might_contain) → lineitem scan order
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import org.apache.spark.sql.functions._
      // sf0.001 has no nationkey-5 supplier (the declared query's filter
      // would fold the whole plan to empty here); pin the shape on a
      // non-empty dim side instead
      val p = graft.operators.Prune.bloomPrunedJoin(
          graft.Tables.load(spark, sf, "lineitem"),
          graft.Tables.load(spark, sf, "supplier").filter(col("s_nationkey") === 3),
          "l_suppkey", "s_suppkey")
        .queryExecution.executedPlan.toString
      val lines = p.linesIterator.toSeq
      val ex = lines.indexWhere(l => l.contains("Exchange hashpartitioning")
        && l.contains("l_suppkey"))
      val bf = lines.indexWhere(_.contains("might_contain"))
      val scan = lines.indexWhere(l => l.contains("Scan parquet") && l.contains("lineitem"))
      assert(ex >= 0 && bf > ex && scan > bf,
        s"want fact exchange above might_contain above the scan (ex=$ex bf=$bf scan=$scan):\n$p")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("bloom decontamination applies might_contain BELOW the candidate-join exchange") {
    // the scale premise: the benchmark side is too big to broadcast, so the
    // exact gram join shuffles — the bloom prune must cut the corpus gram
    // stream BEFORE that exchange, not after
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import org.apache.spark.sql.functions._
      val docs = graft.Tables.load(spark, sf, "documents")
      val p = graft.operators.Curation.decontaminateBloom(
          docs.filter(col("doc_id") % 13 =!= 0),
          docs.filter(col("doc_id") % 13 === 0),
          "doc_id", "text", n = 3)
        .queryExecution.executedPlan.toString
      val lines = p.linesIterator.toSeq
      val ex = lines.indexWhere(l => l.contains("Exchange hashpartitioning")
        && l.contains("__gh"))
      val bf = lines.indexWhere(_.contains("might_contain"))
      assert(ex >= 0 && bf > ex,
        s"want gram-join exchange above might_contain (ex=$ex bf=$bf):\n${p.take(4000)}")
      // the filter must sit on the exploded gram stream (above the Generate),
      // i.e. inside the map stage feeding the exchange
      val gen = lines.indexWhere(l => l.contains("Generate explode"), bf)
      assert(gen > bf, s"want might_contain above the Generate (bf=$bf gen=$gen)")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("cross-corpus drop joins bands by equi-key, never a nested loop") {
    // at scale neither side auto-broadcasts; the incoming×reference band
    // join must stay a shuffle EQUI-join on (band, band_sig)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = planOf("ext_dedup_drop_against_ref")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"band join degenerated:\n${p.take(4000)}")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a shuffle equi-join:\n${p.take(4000)}")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("CDC apply windows only the change log and anti-joins the snapshot once") {
    val p = planOf("ext_cdc_apply")
    assert(p.contains("LeftAnti"), s"snapshot must pass through one anti-join:\n$p")
    // the latest-per-key window subtree feeds two consumers (upserts + the
    // anti-join keyset) so it may print twice — but every Window must ride
    // the CHANGE LOG (its seq ordinal), never the full snapshot
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("seq")),
      s"every window must be over the change log (seq-ordered):\n${windows.mkString("\n")}\n$p")
  }

  test("CDC change log derives from ONE scan per consumer (explode, not 3-way union)") {
    // the change-log subtree feeds two consumers (upserts + the anti-join
    // keyset), each scanning orders once, plus the snapshot scan = 3 scans
    // total; the union-of-three-filtered-scans form cost 7 (1 + 2×3)
    val p = planOf("ext_cdc_apply")
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") || l.contains("FileScan parquet"))
    assert(scans <= 3, s"expected ≤3 parquet scans (snapshot + change log ×2 consumers), got $scans:\n$p")
  }

  test("embedding near-dup join is a bucket EQUI-join, never a nested loop") {
    val p = planOf("ext_embedding_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"pair generation must never plan an all-pairs join:\n$p")
    assert(p.contains("bucket"), s"pairs must join on the LSH bucket:\n$p")
    // the CC variant materializes the pair graph eagerly (checkpoint) —
    // its FINAL plan is the kept-id anti-join; still no all-pairs anywhere
    val pc = planOf("ext_embedding_dedup_cc")
    assert(!pc.contains("BroadcastNestedLoopJoin") && !pc.contains("CartesianProduct"),
      s"semantic dedup must never plan an all-pairs join:\n$pc")
  }

  test("fused minhash signatures stay inside whole-stage codegen") {
    // the native MinHashSigs expression must not fall back to interpreted
    // evaluation. doGenCode registers its seed tables via
    // addReferenceObj("minhashA", ...), and generated sources annotate every
    // reference slot with its name — so the name appearing in the codegen
    // dump proves the fused loop was actually compiled into the span.
    import org.apache.spark.sql.functions._
    // a literal local relation would constant-fold at optimization time —
    // range() forces a real codegen'd Project
    val df = spark.range(64).select(array(col("id"), col("id") + 1).as("__harr"))
    val (as, bs) = (0 until 16).map(graft.operators.Dedup.sigAffine).unzip
    val p = df.select(org.apache.spark.sql.graft.MinHashSigs
        .of(col("__harr"), as, bs, graft.operators.Dedup.SigMod).as("sigs"))
      .queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
    assert(p.contains("WholeStageCodegen"), s"expect a codegen span:\n${p.take(800)}")
    assert(p.contains("minhashA"), s"fused minhash loop must be IN the generated code:\n${p.take(1200)}")
  }

  test("token-budget mix never shuffles the corpus: broadcast thresholds + map filter") {
    // the corpus side must go scan → filter → broadcast-join with the tiny
    // driver-computed threshold table; any Exchange on the corpus side
    // would mean the mixture is shuffling 100 TB to apply a map predicate
    val p = planOf("ext_token_budget_mix")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("Exchange hashpartitioning"),
      s"corpus must not shuffle for a broadcast-threshold mix:\n${p.take(2000)}")
  }

  test("winsorize: quantile table broadcasts; clip is a map above the corpus scan") {
    val p = planOf("ext_winsorize_events")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    // exactly ONE exchange — the two-phase percentile aggregate; the data
    // rows themselves never hash-partition
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"want only the quantile aggregate's exchange, got $exchanges:\n${p.take(2000)}")
  }

  test("fixed-k sample is TakeOrderedAndProject straight off the scan") {
    val p = planOf("ext_sample_fixed_k")
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
    assert(!p.contains("Exchange"), s"no shuffle for a driver-sized top-k:\n${p.take(1500)}")
  }

  test("the tier limit picks the path and nothing else: edgeSupport and " +
      "assocRules execute the same plans at the default limit and at 1 byte") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    val li = graft.Tables.load(spark, sf, "lineitem")
    val edges = li.select(col("l_orderkey").as("u"), col("l_partkey").as("v"))
      .filter(col("u") < col("v"))
    val items = li.select(col("l_orderkey"), col("l_partkey"))
    def support = graft.operators.Graph.edgeSupport(edges, "u", "v")
    def rules = graft.operators.Graph.assocRules(items, "l_orderkey", "l_partkey", 20)
    // the rows and every normalized plan executed while building and
    // collecting the frame, at `limit` (None: the default)
    def ran(limit: Option[String])(build: => DataFrame): (Set[Seq[Any]], Seq[String]) = {
      limit.foreach(spark.conf.set("graft.graph.broadcastLimitBytes", _))
      try {
        val (rows, plans) = Explain.capture(spark)(build.collect().map(_.toSeq).toSet)
        (rows, plans.map(p => Explain.normalize(Explain.formatted(p))))
      } finally spark.conf.unset("graft.graph.broadcastLimitBytes")
    }
    // nothing auto-broadcasts: a BroadcastHashJoin below could only be a
    // graft-side hint
    withShuffleJoins {
      for ((name, build) <- Seq[(String, () => DataFrame)](
          "edgeSupport" -> (() => support), "assocRules" -> (() => rules))) {
        val (a, pa) = ran(None)(build())
        val (b, pb) = ran(Some("1"))(build())
        assert(a.nonEmpty && a == b, s"$name must return the same rows")
        assert(pa == pb, s"$name must execute the same plans at any limit:\n" +
          pa.zipAll(pb, "", "").find { case (x, y) => x != y }
            .fold("")(d => s"${d._1.take(1500)}\nvs\n${d._2.take(1500)}"))
      }
    }
  }

  test("assoc rules: item-support lookups join shuffled-hash at every " +
      "limit (no sort, no broadcast of a 100x-SF catalog dimension)") {
    import org.apache.spark.sql.functions.col
    val items = graft.Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    def rules = graft.operators.Graph.assocRules(items, "l_orderkey", "l_partkey", 20)
    // nothing auto-broadcasts: the asserted shapes are the hinted ones
    withShuffleJoins {
      for ((regime, p) <- Seq(
          "default" -> rules.queryExecution.executedPlan.toString,
          "twin" -> withTwins(rules.queryExecution.executedPlan.toString))) {
        assert("ShuffledHashJoin".r.findAllIn(p).size >= 2,
          s"$regime: both support joins must be shuffled-hash:\n${p.take(1500)}")
        assert(!p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
          s"$regime: no support side may broadcast or sort:\n${p.take(1500)}")
      }
    }
  }

  test("association rules: the basket count reaches the pair stream as a " +
      "broadcast, the item supports as shuffled-hash joins, and the top-20 " +
      "is a heap merge") {
    withShuffleJoins {
      val p = planOf("ext_assoc_rules")
      assert("ShuffledHashJoin".r.findAllIn(p).size >= 2 && !p.contains("BroadcastHashJoin"),
        s"both support joins must be shuffled-hash:\n${p.take(1500)}")
      // the one-row basket count rides a broadcast nested-loop cross join
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"the basket count must broadcast:\n${p.take(1500)}")
      assert(p.contains("TakeOrderedAndProject"),
        s"top-20 must be a heap merge:\n${p.take(1500)}")
    }
  }

  test("the plan capture records a twin's loop rounds and no loop plan " +
      "for the driver tier") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L), (7L, 7L))
      .toDF("u", "v")
    def plans(): Seq[String] = Explain.capture(spark)(
      graft.operators.Graph.connectedComponentsMinLabel(edges, "u", "v")
    )._2.map(_.toString)
    val twin = withTwins(plans())
    assert(twin.exists(_.contains("Exchange hashpartitioning")),
      s"the twin's rounds must show their shuffles:\n${twin.mkString("\n").take(3000)}")
    val tier = plans()
    assert(!tier.exists(_.contains("Exchange hashpartitioning")),
      s"the driver tier runs no loop:\n${tier.mkString("\n").take(3000)}")
    // the tier's one collect is a SQL execution the capture records
    assert(tier.size == 1,
      s"the driver tier runs exactly its collect:\n${tier.mkString("\n").take(3000)}")
  }

  test("Q6: date range + residual predicates reach the Parquet scan") {
    // the single-scan filter-aggregate lives or dies on pushdown at 100 TB:
    // the shipdate range must appear in PushedFilters (row-group pruning
    // via min/max statistics), not only as a post-scan Filter
    val p = planOf("sql_q6_forecast")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("l_shipdate") && pushed.contains("l_quantity"),
      s"Q6 predicates must push into the scan:\n$pushed")
  }

  test("Q8: region/nation/part dims broadcast; no dim ever shuffles the spine") {
    // the 7-way star must resolve every dimension via broadcast — a shuffle
    // against nation (25 rows) would repartition the lineitem spine
    val p = planOf("sql_q8_market_share")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      s"Q8 dims must broadcast:\n${p.take(2000)}")
  }

  test("OHLC: hash aggregate (no SortAggregate demotion), tie-free precondition holds") {
    // the scalar-ts ordering key exists to KEEP min_by hash-mutable; a
    // struct key silently demotes the plan to SortAggregate (two extra
    // sorts). Guard both the plan and the uniqueness precondition the
    // scalar key relies on.
    val p = planOf("ext_ohlc_hourly")
    assert(p.contains("HashAggregate"), s"expect hash agg:\n${p.take(1200)}")
    assert(!p.contains("SortAggregate"),
      s"min_by ordering key must stay hash-mutable:\n${p.take(1200)}")
    import org.apache.spark.sql.functions._
    val dup = graft.Tables.load(spark, sf, "events")
      .groupBy(col("user_id"), col("ts")).count()
      .filter(col("count") > 1).count()
    assert(dup == 0, s"(user_id, ts) must be tie-free, found $dup duplicate keys")
  }

  test("hive-partitioned read prunes partitions at planning time") {
    val p = planOf("source_hive_partitioned")
    val part = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(part.contains("event_type"),
      s"partition-column predicate must land in PartitionFilters:\n$part")
    // and NOT survive as a post-scan data filter on the partition column
    assert(!p.linesIterator.exists(l => l.trim.startsWith("+- Filter") &&
      l.contains("event_type")), s"no residual data filter expected:\n${p.take(1500)}")
  }

  test("inverted index: postings rank-limit becomes a partial WindowGroupLimit " +
      "below the exchange (a stopword ships k·tasks rows, never its df)") {
    val p = planOf("ext_inverted_index")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"expect partial+final WindowGroupLimit around the token exchange:\n${p.take(2000)}")
  }

  test("Q13: LEFT OUTER keeps zero-order customers (count rows vs customer table)") {
    import org.apache.spark.sql.functions._
    val dist = SparkEntry.queries("sql_q13_custdist")(spark, sf)
      .agg(sum(col("custdist"))).collect()(0).getLong(0)
    val nCust = graft.Tables.load(spark, sf, "customer").count()
    assert(dist == nCust, s"every customer must land in exactly one bucket: $dist != $nCust")
  }

  test("kmeans assignment: centroids broadcast, vectors never shuffled " +
      "(the only exchange carries the (id, dist, cluster) argmin)") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = planOf("ext_kmeans_assign")
      assert(p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastHashJoin"),
        s"centroid table must broadcast even with auto-broadcast off:\n${p.take(1500)}")
      assert(!p.contains("SortMergeJoin"),
        s"no vector-side shuffle join allowed:\n${p.take(1500)}")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("PPS weighted sample: the corpus side is never exchanged — one " +
      "1-row aggregate broadcasts back, then a pure map filter") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = planOf("ext_weighted_sample")
      // the only exchange allowed is the single-row total's partial agg
      val exchanges = "Exchange".r.findAllIn(p).size
      assert(exchanges <= 2, s"corpus must not shuffle (got $exchanges exchanges):\n${p.take(1500)}")
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
        s"the scalar total must broadcast:\n${p.take(1500)}")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
