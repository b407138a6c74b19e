package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ByteType, DoubleType, IntegerType, LongType, ShortType, StructField, StructType}

/**
 * Iterative graph computation on plain DataFrames — the PageRank loop every
 * engine demo runs, built the way a 1000-executor job needs it: each
 * iteration is ONE hash join (edges ⋈ the score frame on the source — the
 * out-degree rides IN the score frame, folded once before the loop) plus
 * ONE aggregation (contributions by target) plus a node-keyed left join
 * restoring in-edge-less nodes, so an iteration's cost is node-keyed
 * exchanges only and the edge table is never replicated. Spark's lazy lineage chains the iterations into one
 * DAG; for dozens of iterations, localCheckpoint every ~10 to cut lineage
 * (documented, not needed at the fixed small iteration counts a batch
 * pipeline uses).
 *
 * All arithmetic is INTEGER fixed-point (scores in millionths; damping
 * 0.85 applied as (17·x) div 20; per-edge contribution pr div outdeg):
 * floor division is exact and associative-safe, so the result is
 * bit-identical cross-run, cross-partitioning, AND cross-engine — a
 * DuckDB oracle replays the same three chained CTE iterations integer for
 * integer. (Float PageRank sums doubles in partition order:
 * nondeterministic everywhere.)
 *
 * DRIVER TIER vs TWIN. Every analytic here has at most two paths. The
 * driver tier collects the edge list once ([[collectEdges]]) into
 * primitive arrays and computes on the driver; the twin is the
 * distributed plan that runs at any scale, and each operator builds its
 * own twin input (the FromBaskets family via [[basketEdges]]). A tier
 * stays only while it beats its twin by 1.3× on its own query, so some
 * analytics are twin-only ([[hitsBipartite]], the edge-set
 * [[trussPeel]]). Every driver-tier collect goes through
 * [[collectRows]], a SQL execution the plan audit records. The
 * contract both paths keep:
 *  - the gate: the tier runs only when the id columns are BIGINT and
 *    [[resolveBroadcast]] passes (the edge frame, times a per-operator
 *    state factor, fits `graft.graph.broadcastLimitBytes`; 0 pins the
 *    twin). Any other id type takes the twin, which handles every type.
 *    The basket tiers ([[collectBaskets]]) spend the same byte budget:
 *    16 B a collected (group, item) row, 8 B an expanded item pair, and
 *    Dedup's bitmap tier gates its rep table on it too. That limit is
 *    the only path selector of the codebase and it selects nothing but
 *    the tier: no twin reads it, so inside a twin Spark chooses every
 *    join strategy from observed sizes. There is no per-call override;
 *  - NULLs: an edge with a NULL endpoint (or NULL weight) is dropped —
 *    the collector skips it and every twin input carries the same
 *    [[nonNull]] filter;
 *  - both paths return the same schema and rows (GraphDriverTierSpec).
 */
object Graph {

  /** The edge list a driver tier computes on: parallel primitive columns,
    * one entry per collected edge (`w` is empty without a weight column),
    * plus the dense id index — `ids` sorted distinct, so the id at index
    * i is ids(i) and index order is id order (every min-id rule becomes a
    * min-index rule); `iu`/`iv` are each edge's endpoint indices. */
  private final class Edges(val u: Array[Long], val v: Array[Long],
                            val w: Array[Long]) {
    def m: Int = u.length
    lazy val ids: Array[Long] = denseIds(u, v)
    def n: Int = ids.length
    lazy val iu: Array[Int] = indexOf(ids, u)
    lazy val iv: Array[Int] = indexOf(ids, v)
  }

  /** Sorted distinct ids over `cols` — the dense index of a driver tier. */
  private def denseIds(cols: Array[Long]*): Array[Long] = {
    val all = Array.concat(cols: _*)
    java.util.Arrays.copyOf(all, sortDedup(all))
  }

  private def indexOf(ids: Array[Long], xs: Array[Long]): Array[Int] =
    xs.map(java.util.Arrays.binarySearch(ids, _))

  /** The edge filter of the NULL rule, shared by collector and twins. */
  private def nonNull(cols: String*): Column =
    cols.map(col(_).isNotNull).reduce(_ && _)

  /** THE gate and collect of every graph driver tier: None (take the
    * twin) unless `uCol`/`vCol` are BIGINT and [[resolveBroadcast]]
    * passes on `df` scaled by `factor`; otherwise ONE collect of the
    * non-NULL (u, v[, w]) rows, read off the deserialized InternalRows
    * straight into primitive columns (no external-Row conversion, no
    * boxing). The weight is cast to BIGINT, as every twin casts it. */
  private def collectEdges(df: DataFrame, uCol: String, vCol: String,
                           wCol: Option[String] = None,
                           factor: Long = 1L): Option[Edges] = {
    if (df.schema(uCol).dataType != LongType ||
        df.schema(vCol).dataType != LongType ||
        !resolveBroadcast(df, factor)) return None
    val rows = collectRows(df.filter(nonNull(Seq(uCol, vCol) ++ wCol: _*))
      .select(Seq(col(uCol), col(vCol)) ++ wCol.map(col(_).cast("bigint")): _*))
    def column(i: Int): Array[Long] = {
      val a = new Array[Long](rows.length)
      var r = 0
      while (r < rows.length) { a(r) = rows(r).getLong(i); r += 1 }
      a
    }
    Some(new Edges(column(0), column(1),
      if (wCol.isDefined) column(2) else Array.emptyLongArray))
  }

  /** The one driver-tier collect: the deserialized InternalRows of `df`,
    * run as a SQL execution so the plan audit's listener records it like
    * any other action (`executeCollect` alone posts no execution event). */
  private def collectRows(df: DataFrame)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val qe = df.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(
      qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** `array_sort(collect_set(c))` with the primitive-long native fold
    * ([[org.apache.spark.sql.graft.SortedLongSet]] — no per-value boxing,
    * one sort at eval) when the element type is integral; elements widen
    * to LONG on that path, the same widening the SortedPairs kernel
    * applies. Non-integral ids keep the generic collect_set form.
    * Sorted-ascending distinct either way; NULL inputs dropped. */
  private def sortedSetOf(df: DataFrame, c: String): Column =
    df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        org.apache.spark.sql.graft.SortedLongSet.of(col(c))
      case _ => array_sort(collect_set(col(c)))
    }

  /** Per-group unordered item pairs (u < v) generated IN-ROW: group rows
    * by `groupCol`, collect the DISTINCT items, and expand the sorted
    * basket's pairs with a nested array transform — ONE exchange (the
    * groupBy) where the classic self-join-plus-DISTINCT formulation pays
    * a join exchange AND a pair-wide distinct exchange. Baskets are small
    * and bounded (an order's lineitems), so the O(b²) in-row expansion is
    * trivia; output rows are (groupCol, u, v), unique per group by
    * construction — a support count needs NO further dedup, and a global
    * edge set is one `.distinct()` away. At 100 TB the same holds as long
    * as baskets stay bounded — a hub group (one key containing millions
    * of items) would need the quadratic output capped upstream, which is
    * true of every pair-emitting formulation including the self-join.
    *
    * Element types: integral `itemCol` types ride the native
    * [[org.apache.spark.sql.graft.SortedPairs]] kernel (int/smallint
    * implicit-cast to long — `u`/`v` are always BIGINT on that path);
    * any other orderable type (string, date, …) falls back to the
    * element-equal HOF expansion the kernel replaced, preserving the
    * element type. */
  def itemPairs(df: DataFrame, groupCol: String, itemCol: String): DataFrame =
    // explicit-count repartition on the GROUP key: the basket stream is
    // byte-light but the in-row expansion is compute-dense, so AQE's
    // byte-based coalescing would run the final agg + pair emit on 1-2
    // tasks (skill-book shape). The aggregation reuses this exchange —
    // same keys — so the pin costs no extra shuffle.
    // pair expansion via the native SortedPairs kernel — the HOF chain
    // (flatten(transform(…slice…))) interprets its lambdas per element
    // and allocates a slice per outer item; the kernel is one compiled
    // loop, spec-pinned element-equal (SortedPairsSpec)
    {
      val integralItems = df.schema(itemCol).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      def pairsOf(items: Column): Column =
        if (integralItems) org.apache.spark.sql.graft.SortedPairs.of(items)
        else // HOF fallback for non-integral element types (string, date):
          // element-equal to the kernel, interpreted per element — fine for
          // the rare non-long caller, spec-pinned in SortedPairsSpec
          flatten(transform(items, (x, i) =>
            transform(slice(items, i + lit(2), size(items)),
              y => struct(x.as("u"), y.as("v")))))
      df.repartition(df.sparkSession.sparkContext.defaultParallelism,
          col(groupCol))
        .groupBy(col(groupCol))
        .agg(sortedSetOf(df, itemCol).as("__items"))
        .select(col(groupCol), explode(pairsOf(col("__items"))).as("__e"))
        .select(col(groupCol), col("__e.u").as("u"), col("__e.v").as("v"))
    }

  /** ASSOCIATION RULES from pair supports: confidence both ways and lift
    * for the top-`topK` support pairs — pair supports from the in-row
    * [[itemPairs]] stream (one exchange, per-group-unique pairs so no
    * dedup), item supports from one item-keyed countDistinct, the basket
    * count a one-row broadcast scalar. The two item-support lookups are
    * shuffled-hash joins (the item side is catalog-dimension-sized and
    * outgrows a broadcast at 100× SF): the pair stream exchanges on the
    * item key it already carries, no sort of either side (spec-pinned in
    * PlanShapeSpec). Ratios are exact-integer-valued double divisions,
    * rounded once — cross-engine stable. */
  def assocRules(items: DataFrame, orderCol: String, itemCol: String,
                 topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val li = items.select(col(orderCol), col(itemCol))
    val sab = itemPairs(li, orderCol, itemCol)
      .groupBy(col("u").as("part_a"), col("v").as("part_b"))
      .agg(count(lit(1)).as("support"))
    val sa = li.groupBy(col(itemCol))
      .agg(countDistinct(col(orderCol)).as("__s"))
    val nb = li.agg(countDistinct(col(orderCol)).as("__N"))
    sab
      .join(sa.select(col(itemCol).as("part_a"), col("__s").as("s_a"))
        .hint("shuffle_hash"), "part_a")
      .join(sa.select(col(itemCol).as("part_b"), col("__s").as("s_b"))
        .hint("shuffle_hash"), "part_b")
      .crossJoin(broadcast(nb))
      .orderBy(col("support").desc, col("part_a"), col("part_b"))
      .limit(topK)
      .select(col("part_a"), col("part_b"), col("support"),
        col("s_a"), col("s_b"),
        round(col("support").cast("double") / col("s_a").cast("double"), 6)
          .as("conf_ab"),
        round(col("support").cast("double") / col("s_b").cast("double"), 6)
          .as("conf_ba"),
        round((col("__N").cast("double") * col("support").cast("double")) /
          (col("s_a").cast("double") * col("s_b").cast("double")), 6)
          .as("lift"))
  }

  /** Breadth-first levels from `source` over a DIRECTED edge list
    * (`srcCol`, `dstCol`; undirected graphs pass both orientations):
    * (node, lvl) with lvl = min hop count ≤ `maxDepth`; unreachable nodes
    * are absent. Level-synchronous frontier expansion — the BFS every
    * distributed graph engine runs: each round joins the CURRENT frontier
    * (nodes first reached last round) against the edge list and folds the
    * discoveries in with a min-aggregate, so a round costs one node-keyed
    * join + one aggregate over the label table, never a traversal. All
    * arithmetic is integer — bit-identical cross-run, cross-partitioning,
    * and cross-engine (a DuckDB WITH RECURSIVE ... UNION oracle replays
    * the same levels; Spark's recursive CTE is UNION ALL-only as of 4.1,
    * which path-explodes on cyclic graphs — hence the iterative form).
    * Edge list and per-round labels are localCheckpointed like
    * [[pagerank]]'s loop inputs. */
  def bfsLevels(edges: DataFrame, srcCol: String, dstCol: String,
                source: Long, maxDepth: Int): DataFrame = {
    val par = edges.sparkSession.sparkContext.defaultParallelism
    val e = edges.select(col(srcCol).as("__s"), col(dstCol).as("__t"))
      .repartition(par, col("__s"))
      .localCheckpoint()
    bfsLoop(e, seed(e.sparkSession, source), 1L, Nil, maxDepth)
  }

  /** BFS over an UNDIRECTED pair list (`uCol` < `vCol`), source = the
    * minimum node id: both orientations expand IN-ROW (one explode over
    * the pair stream — the pair pipeline runs ONCE, where a
    * union-of-two-selects re-runs whatever produced it per orientation),
    * and the source scalar reads the already-materialized checkpoint
    * instead of a second pass. Duplicate pairs are ALLOWED and left in
    * place: the per-round min-fold is multiplicity-invariant, so the
    * distinct every other graph consumer pays would be a wasted
    * full-stream exchange here. Empty edge set → empty result (no NPE
    * on the null min). The twin runs [[bfsLoop]] with AQE off: the
    * rounds are fixed-shape node-keyed exchanges where adaptivity has
    * nothing to decide, and each would become its own job barrier
    * (measured at sf0.1, `local[4]`, `maxDepth` 6: 18 jobs AQE off vs
    * 26 on). */
  def bfsLevelsUndirected(pairs: DataFrame, uCol: String, vCol: String,
                          maxDepth: Int): DataFrame =
    collectEdges(pairs, uCol, vCol) match {
      case Some(g) =>
        // one CSR walk from the minimum id (index 0); a dead frontier
        // makes the remaining rounds no-ops
        val rows =
          if (g.m == 0) Nil
          else {
            val (off, nbr) = driverCsr(g, dedup = false)
            val lvl = csrLevels(off, nbr, 0, maxDepth)
            lvl.indices.collect { case i if lvl(i) >= 0 => Row(g.ids(i), lvl(i)) }
          }
        localDf(pairs.sparkSession, StructType(Seq(StructField("node", LongType),
          StructField("lvl", IntegerType, nullable = false))), rows)
      case None =>
        val e = orientedAdjacency(pairs.filter(nonNull(uCol, vCol)), uCol, vCol)
          .localCheckpoint()
        // one scalar off the materialized blocks — index-sized, not a re-run
        val srcRow = e.agg(min(col("__s"))).head()
        if (srcRow.isNullAt(0)) {
          Dedup.freeCheckpoints(e)
          e.sparkSession.range(0)
            .select(col("id").as("node"), col("id").cast("int").as("lvl"))
        } else withoutAqe(e.sparkSession)(
          bfsLoop(e, seed(e.sparkSession, srcRow.get(0)), 1L, Nil, maxDepth))
    }

  /** The one-row level-0 label table of a single-source BFS. */
  private def seed(sess: SparkSession, source: Any): DataFrame =
    sess.range(1).select(lit(source).as("__n"), lit(0).as("__lvl"))

  /** Shared level-synchronous loop over a CHECKPOINTED (__s, __t) edge
    * frame pre-partitioned on __s. `seeds` is the level-0 label table —
    * (keys…, __n, __lvl = 0), `nSeeds` rows — where `keys` name the
    * searches that share the loop: none for a single source, the source
    * id for a multi-source BFS, whose labels are then keyed
    * (keys…, __n). Each round joins the round-(i−1) frontier against the
    * edge list and folds discoveries in with the min-aggregate. ONE
    * barrier per round: the label table is lazily checkpoint-marked and
    * the liveness `count()` is the action that materializes it, so every
    * round plans over the previous round's blocks and the plan does not
    * grow with the round count. Returns (keys…, node, lvl); frees `e`
    * and every round's blocks before returning. */
  private def bfsLoop(e: DataFrame, seeds: DataFrame, nSeeds: Long,
                      keys: Seq[String], maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    val k = keys.map(col)
    var labels = seeds.localCheckpoint()
    val spent = scala.collection.mutable.ArrayBuffer(e, labels)
    // early exit on a dead frontier — a diameter-3 graph pays 3 rounds,
    // not maxDepth; the label count comes from the SAME job that
    // materializes the round's checkpoint blocks
    var known = nSeeds
    var i = 1
    var frontierAlive = true
    while (i <= maxDepth && frontierAlive) {
      val frontier = labels.filter(col("__lvl") === i - 1)
        .select(k :+ col("__n").as("__s"): _*)
      val next = e.join(frontier, Seq("__s"))
        .select(k :+ col("__t").as("__n") :+ lit(i).as("__lvl"): _*)
      labels = labels.unionByName(next)
        .groupBy(k :+ col("__n"): _*).agg(min(col("__lvl")).as("__lvl"))
        .localCheckpoint(eager = false)
      spent += labels
      val now = labels.count()
      frontierAlive = now > known
      known = now
      i += 1
    }
    val result = labels
      .select(k :+ col("__n").as("node") :+ col("__lvl").as("lvl"): _*)
      .localCheckpoint()
    Dedup.freeCheckpoints(spent.toSeq: _*)
    result
  }

  /** `iters` rounds of damped PageRank over a DIRECTED edge list
    * (`srcCol`, `dstCol`); undirected graphs pass both orientations.
    * Scores start at 1_000_000 per node; each round:
    * pr'(v) = 150_000 + (17 · Σ_{u→v} (pr(u) div outdeg(u))) div 20.
    * Nodes with no in-edges keep the 150_000 base (left join). Returns
    * (node, pagerank). Truncation loses < 1 millionth per edge per round —
    * irrelevant for ranking, and the price of exactness. */
  def pagerank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // materialize the iteration INPUTS once: every round references the
    // edge list, and lazy lineage would re-run whatever produced it (an
    // expensive self-join, a dedup…) once per round — measured 7.1 s at
    // sf0.1 un-checkpointed vs edges-computed-once after. localCheckpoint
    // blocks don't survive executor loss; a long-running production loop
    // swaps in reliable checkpointing, same shape (the CC precedent).
    // both loop inputs are checkpointed PRE-PARTITIONED on their join
    // keys via ckpt() (plain localCheckpoint under AQE would capture
    // UnknownPartitioning — see checkpointPartitioned), so every
    // iteration's edge join reads e co-located on __s and the restore
    // join reads base co-located on __n — the exchanges happen once
    // here, not once per round (the bucketed-join recipe applied to an
    // iterative loop).
    val par = edges.sparkSession.sparkContext.defaultParallelism
    val e = edges.select(col(srcCol).as("__s"), col(dstCol).as("__t"))
      .repartition(par, col("__s"))
      .ckpt()
    // outdeg is FOLDED into the node frame once, before the loop: the
    // score frame carries (__n, __od, __pr), so each iteration joins the
    // edge list against ONE frame instead of scores-then-outdeg — one
    // join + one __s-keyed exchange fewer per round (r9 verdict item).
    // __od = 0 marks sink nodes; they never match the edge join's __s
    // side, so the div never sees a zero.
    val outd = e.groupBy(col("__s")).agg(count(lit(1)).as("__od"))
    val base = e.select(col("__s").as("__n"))
      .union(e.select(col("__t").as("__n"))).distinct()
      .join(outd.withColumnRenamed("__s", "__n"), Seq("__n"), "left")
      .select(col("__n"), coalesce(col("__od"), lit(0L)).as("__od"))
      .repartition(par, col("__n"))
      .ckpt()
    var pr = base.withColumn("__pr", lit(1000000L))
    (1 to iters).foreach { _ =>
      val contrib = e
        .join(pr.select(col("__n").as("__s"), col("__od"), col("__pr")), Seq("__s"))
        .groupBy(col("__t"))
        .agg(sum(expr("__pr div __od")).as("__c"))
      pr = base.join(contrib.withColumnRenamed("__t", "__n"), Seq("__n"), "left")
        .select(col("__n"), col("__od"),
          (lit(150000L) + expr("(17 * coalesce(__c, 0L)) div 20")).as("__pr"))
    }
    // the returned frame is itself checkpointed so the input blocks can
    // be freed NOW (they're invisible to catalog.clearCache and would
    // otherwise starve the next memory-hungry job — the r5 leak lesson)
    val result = pr.select(col("__n").as("node"), col("__pr").as("pagerank"))
      .ckpt()
    Dedup.freeCheckpoints(e, base)
    result
  }

  /** Driver CSR PageRank rounds shared by [[pagerankUndirected]] and
    * [[personalizedPagerank]]'s driver tiers — the identical integer
    * recurrence pr'(v) = restart(v) + (17 · Σ pr(u) div od(u)) div 20
    * over the deduped adjacency (od = CSR degree; every value positive,
    * so Scala `/` ≡ the SQL `div`). */
  private def driverPrRounds(off: Array[Int], nbr: Array[Int], iters: Int,
                             pr0: Array[Long],
                             restart: Int => Long): Array[Long] = {
    val n = off.length - 1
    var pr = pr0
    var it = 0
    while (it < iters) {
      val contrib = new Array[Long](n)
      var s = 0
      while (s < n) {
        val od = (off(s + 1) - off(s)).toLong
        if (od > 0) {
          val share = pr(s) / od
          var j = off(s)
          while (j < off(s + 1)) { contrib(nbr(j)) += share; j += 1 }
        }
        s += 1
      }
      val nxt = new Array[Long](n)
      var v = 0
      while (v < n) {
        nxt(v) = restart(v) + (17L * contrib(v)) / 20L
        v += 1
      }
      pr = nxt
      it += 1
    }
    pr
  }

  /** [[pagerank]] specialized to an UNDIRECTED pair list (`uCol`,
    * `vCol`) that MAY contain duplicate pairs (they are deduplicated
    * in-pipeline, exchange-free — see the adjacency-build comment):
    * same integer recurrence, same results as feeding both distinct
    * orientations to [[pagerank]] (spec-pinned), but the structure
    * exploits what undirectedness guarantees —
    *  - both orientations expand IN-ROW with one explode, so the pair
    *    pipeline upstream runs ONCE (a union of two selects re-runs it
    *    per orientation);
    *  - every node has an out-edge AND an in-edge (its own reversed
    *    orientation), so the node base IS the out-degree aggregate — no
    *    union-distinct node discovery, no left-join restore, no
    *    coalesce — and base needs no checkpoint of its own: it derives
    *    from the checkpointed `e` by one exchange-free aggregation (`e`
    *    is pre-partitioned on __s), so re-deriving it per reference is
    *    cheaper than a barrier.
    * Net: ONE checkpoint barrier (the edge frame) + one per-iteration
    * exchange (the contribution agg — every join in the loop reads
    * co-partitioned sides). */
  def pagerankUndirected(pairs: DataFrame, uCol: String, vCol: String,
                         iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    collectEdges(pairs, uCol, vCol) match {
      case Some(g) =>
        // the exact integer recurrence over the deduped CSR
        val (off, nbr) = driverCsr(g, dedup = true)
        val pr = driverPrRounds(off, nbr, iters,
          Array.fill(g.n)(1000000L), _ => 150000L)
        nodeValueDf(pairs.sparkSession, "pagerank", g.ids, pr)
      case None =>
        // orientation-exploded DISTINCT adjacency in TWO exchanges: the
        // caller hands the raw (possibly globally-duplicated) pair stream;
        // dedup runs AFTER the explode, as an exchange-free aggregate — the
        // explicit __s repartition already satisfies the (__s, __t) distinct's
        // clustering requirement (partitioning keys ⊆ grouping keys), so the
        // classic pre-distinct on (u, v) would only add a third full-stream
        // exchange for nothing.
        val e = orientedAdjacency(pairs.filter(nonNull(uCol, vCol)), uCol, vCol)
          .distinct()
          .ckpt()
        // AQE OFF for the iteration chain (restored in finally): fixed-shape
        // node-keyed exchanges over a checkpointed co-partitioned edge frame
        // — adaptivity has nothing to decide and would turn each of the
        // chain's exchanges into its own job barrier (measured: 33 jobs /
        // 146 tasks adaptive vs a straight-line job without). The loop
        // compiles into ONE straight-line job.
        try withoutAqe(e.sparkSession) {
          val base = outdegBase(e)
          var pr = base.withColumn("__pr", lit(1000000L))
          (1 to iters).foreach { _ =>
            pr = prIteration(e, base, pr)
          }
          pr.select(col("__n").as("node"), col("__pr").as("pagerank"))
            .ckpt()
        } finally Dedup.freeCheckpoints(e) // free on the throw path too
    }
  }

  /** PERSONALIZED PageRank (the recommendation primitive: random walk
    * with restart to a SEED SET instead of uniform teleport) over an
    * undirected pair list, same integer fixed-point discipline as
    * [[pagerankUndirected]] —
    * pr₀(n) = 1_000_000·[n ∈ seeds];
    * pr'(v) = 150_000·[v ∈ seeds] + (17 · Σ_{u→v} pr(u) div od(u)) div 20
    * — bit-identical cross-run/partitioning/engine. Seeds are the
    * `nSeeds` smallest node ids (node-sized frame, broadcast into the
    * base); nodes unreachable from the seed set hold rank 0 instead of
    * the uniform base — that asymmetry is the whole point of PPR.
    * Loop mechanics identical to [[pagerankUndirected]] (one checkpoint
    * barrier, AQE off inside the fixed chain, co-partitioned joins). */
  def personalizedPagerank(pairs: DataFrame, uCol: String, vCol: String,
                           iters: Int, nSeeds: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(nSeeds >= 1, s"nSeeds must be >= 1, got $nSeeds")
    collectEdges(pairs, uCol, vCol) match {
      case Some(g) =>
        // the PPR restart vector: seeds = nSeeds smallest ids = first indices
        val (off, nbr) = driverCsr(g, dedup = true)
        val k = math.min(nSeeds, g.n)
        val pr = driverPrRounds(off, nbr, iters,
          Array.tabulate(g.n)(i => if (i < k) 1000000L else 0L),
          i => if (i < k) 150000L else 0L)
        nodeValueDf(pairs.sparkSession, "ppr", g.ids, pr)
      case None =>
        val e = orientedAdjacency(pairs.filter(nonNull(uCol, vCol)), uCol, vCol)
          .distinct()
          .ckpt()
        try withoutAqe(e.sparkSession) {
          val seeds = outdegBase(e).select(col("__n"))
            .orderBy(col("__n")).limit(nSeeds)
            .withColumn("__seed", lit(1))
          val base = outdegBase(e)
            .join(broadcast(seeds), Seq("__n"), "left")
            .select(col("__n"), col("__od"),
              coalesce(col("__seed"), lit(0)).as("__seed"))
          var pr = base.withColumn("__pr",
            when(col("__seed") === 1, lit(1000000L)).otherwise(lit(0L)))
          (1 to iters).foreach { _ =>
            val contrib = e
              .join(pr.select(col("__n").as("__s"), col("__od"), col("__pr")),
                Seq("__s"))
              .groupBy(col("__t"))
              .agg(sum(expr("__pr div __od")).as("__c"))
            pr = base.join(contrib.withColumnRenamed("__t", "__n"), Seq("__n"))
              .select(col("__n"), col("__od"), col("__seed"),
                (when(col("__seed") === 1, lit(150000L)).otherwise(lit(0L))
                  + expr("(17 * __c) div 20")).as("__pr"))
          }
          pr.select(col("__n").as("node"), col("__pr").as("ppr"))
            .ckpt()
        } finally Dedup.freeCheckpoints(e)
    }
  }

  /** HITS hubs-and-authorities over a BIPARTITE edge list (left = hubs,
    * right = authorities — e.g. customers × the parts they buy): the
    * link-analysis complement to PageRank for two-mode graphs, where a
    * part is authoritative when well-connected customers buy it and a
    * customer is a good hub when they buy authoritative parts.
    *
    * Kept in EXACT integers: h₀ ≡ 1, then per iteration
    * a(p) = Σ_{c→p} h(c) and h(c) = Σ_{c→p} a(p), UNNORMALIZED —
    * the per-step L2 normalization of textbook HITS only rescales, so
    * the top-k ORDER is identical, and dropping it keeps every score an
    * exact BIGINT (bit-identical cross-run, cross-partitioning, and
    * cross-engine — the DuckDB oracle unrolls the same recurrence).
    * Growth is bounded by (max-degree)² per iteration: ~2 iterations per
    * 19 digits of BIGINT headroom at 10⁵-degree nodes; normalize by the
    * integer score-sum (div) between iterations beyond that.
    *
    * Cluster shape: the distinct edge frame is checkpointed TWICE, once
    * per join key (hub-partitioned and authority-partitioned — bipartite
    * iteration alternates keys, so one copy would re-exchange the full
    * edge stream every round; 2× edge memory buys zero per-round edge
    * movement). The second copy is derived from the FIRST checkpoint
    * (one re-exchange of already-distinct blocks — the upstream join +
    * distinct runs once, not twice), and the h₀ ≡ 1 first authority
    * pass collapses to a plain indegree count over the
    * authority-partitioned copy (no join, exchange-free aggregation).
    * Every later half-step pays exactly ONE exchange (its aggregation),
    * because the score frame arrives partitioned by the PREVIOUS
    * aggregation's key — which is the join key. AQE off inside the
    * fixed-shape chain, one action, cleanup in finally
    * ([[pagerankUndirected]] discipline).
    *
    * No driver tier: the distributed form is the only path. A driver
    * fold over the collected edges measured only 1.18× faster at sf0.1
    * (`local[4]`) and ran the same 6 jobs — the cost is the input join,
    * not the rounds. */
  def hitsBipartite(edges: DataFrame, leftCol: String, rightCol: String,
                    iters: Int, topK: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val raw = edges.filter(nonNull(leftCol, rightCol))
      .select(col(leftCol).cast("long").as("__c"),
        col(rightCol).cast("long").as("__p"))
    // partition-by-subset-then-distinct: HashPartitioning(__p) satisfies
    // the (__c, __p) distinct's clustering, so the base copy pays one
    // exchange. The __p-keyed copy serves every h-step (iters uses); the
    // __c-keyed copy serves only the a-steps after the indegree special
    // case (iters − 1 uses), so below 2 uses it is NOT checkpointed —
    // the single consumer re-exchanges the checkpointed blocks in-plan
    // instead of paying a second materialization barrier.
    val ep = raw.repartition(col("__p")).distinct().ckpt()
    // (at iters = 2 the unmaterialized copy measured 9 → 7 jobs)
    val ecPlan = ep.repartition(col("__c"))
    val ec = if (iters >= 3) ecPlan.ckpt() else ecPlan
    try withoutAqe(ec.sparkSession) {
      // iteration 1 with h0 ≡ 1 is the indegree count — exchange-free
      // over the __p-partitioned copy, no join, no h0 frame at all.
      // The hub half-step is built only where a LATER authority step
      // consumes it (rounds 2..iters) — the returned frame derives from
      // `a` alone, so a trailing h would be dead plan construction.
      // Score frames are node-dimension-sized, so each half-step joins
      // them co-partitioned against the edge copy keyed on the join key.
      var a = ep.groupBy(col("__p")).agg(count(lit(1)).cast("bigint").as("__as"))
      (2 to iters).foreach { _ =>
        val h = ep.join(a, "__p").groupBy(col("__c"))
          .agg(sum(col("__as")).as("__hs"))
        a = ec.join(h, "__c").groupBy(col("__p"))
          .agg(sum(col("__hs")).as("__as"))
      }
      a.orderBy(col("__as").desc, col("__p").asc).limit(topK)
        .select(col("__p").as("part"), col("__as").as("authority"))
        .ckpt()
    } finally Dedup.freeCheckpoints(ec, ep)
  }

  /** ONE LEVEL of Louvain community detection over a weighted pair list
    * — the first-pass move phase with every node starting in its own
    * singleton community: node i moves to neighbor j's community when
    * the modularity gain is positive, taking the argmax neighbor. With
    * singleton communities the gain comparison reduces to the exact
    * INTEGER score 2m·w_ij − k_i·k_j (the 1/2m² normalization only
    * rescales), so the whole level is one broadcast-decorated pass over
    * the oriented edge stream + a struct-min argmax riding the source
    * partitioning — no iteration, no floats, bit-identical cross-engine
    * (the DuckDB twin replays the argmax as a row_number window). Ties
    * break to the smaller neighbor id; score ≤ 0 everywhere → node
    * stays. Returns (node, community). */
  def louvainFirstLevel(wpairs: DataFrame, uCol: String, vCol: String,
                        wCol: String): DataFrame = {
    val par = wpairs.sparkSession.sparkContext.defaultParallelism
    val e = wpairs.select(explode(array(
        struct(col(uCol).as("__s"), col(vCol).as("__t"),
          col(wCol).cast("bigint").as("__w")),
        struct(col(vCol).as("__s"), col(uCol).as("__t"),
          col(wCol).cast("bigint").as("__w")))).as("__e"))
      .select(col("__e.__s").as("__s"), col("__e.__t").as("__t"),
        col("__e.__w").as("__w"))
      .repartition(par, col("__s"))
      .ckpt()
    // weighted degree (strength) — rides the __s partitioning
    val wd = e.groupBy(col("__s")).agg(sum(col("__w")).as("__k"))
    val m2 = wd.agg(sum(col("__k")).as("__m2"))
    val result = e
      .join(broadcast(wd.select(col("__s"), col("__k").as("__ki"))), "__s")
      .join(broadcast(wd.select(col("__s").as("__t"), col("__k").as("__kj"))),
        "__t")
      .crossJoin(broadcast(m2))
      .select(col("__s"), col("__t"),
        (col("__m2") * col("__w") - col("__ki") * col("__kj")).as("__sc"))
      // argmax neighbor, ties to the smaller id: min over (−score, j)
      .groupBy(col("__s"))
      .agg(min(struct((-col("__sc")).as("s"), col("__t").as("j"))).as("__b"))
      .select(col("__s").as("node"),
        when(col("__b.s") < 0, col("__b.j")).otherwise(col("__s"))
          .as("community"))
      .ckpt()
    Dedup.freeCheckpoints(e)
    result
  }

  /** The one-shot move phase over an arbitrary AGGREGATED weighted
    * canonical pair list (a ≤ b, one row per pair, self-loops allowed —
    * the shape [[louvainLevels]]' contraction emits): every node starts
    * in its own community and takes the argmax-gain neighbor, exactly
    * [[louvainFirstLevel]]'s integer score 2m·w_ij − k_i·k_j. Self-loops
    * count DOUBLE into the strength (the doubled orientation emits a
    * self-loop twice — the 2m = Σk convention real Louvain contraction
    * relies on) but are excluded as move candidates. Returns
    * (__n, __p): __p = argmax neighbor when its score > 0, else __n —
    * every node of the doubled orientation appears. */
  private def louvainMovePlan(eLvl: DataFrame): DataFrame = {
    val we = eLvl.select(explode(array(
        struct(col("__u").as("__s"), col("__v").as("__t"), col("__w")),
        struct(col("__v").as("__s"), col("__u").as("__t"), col("__w"))))
        .as("__e"))
      .select(col("__e.__s").as("__s"), col("__e.__t").as("__t"),
        col("__e.__w").as("__w"))
    val wd = we.groupBy(col("__s")).agg(sum(col("__w")).as("__k"))
    val m2 = wd.agg(sum(col("__k")).as("__m2"))
    val best = we.filter(col("__s") =!= col("__t"))
      .join(broadcast(wd.select(col("__s"), col("__k").as("__ki"))), "__s")
      .join(broadcast(wd.select(col("__s").as("__t"), col("__k").as("__kj"))),
        "__t")
      .crossJoin(broadcast(m2))
      .select(col("__s"), col("__t"),
        (col("__m2") * col("__w") - col("__ki") * col("__kj")).as("__sc"))
      .groupBy(col("__s"))
      .agg(min(struct((-col("__sc")).as("s"), col("__t").as("j"))).as("__b"))
      .select(col("__s"), when(col("__b.s") < 0, col("__b.j")).as("__j"))
    // self-loop-only nodes never reach the scored stream — left join
    // from the full strength-table node set, absent/≤0 argmax → stay
    wd.select(col("__s")).join(best, Seq("__s"), "left")
      .select(col("__s").as("__n"), coalesce(col("__j"), col("__s")).as("__p"))
  }

  /** FULL multi-level Louvain (Blondel et al. 2008) to the move-phase
    * fixpoint, capped at `maxLevels` — the multi-level completion of
    * [[louvainFirstLevel]]. Per level over the current contracted graph:
    * (1) the one-shot integer argmax move phase ([[louvainMovePlan]] —
    * singleton-community gain 2m·w_ij − k_i·k_j, exact BIGINT, ties to
    * the smaller id); (2) communities = connected components of the
    * pointer graph {(i, argmax(i))}, labeled by MINIMUM member id
    * (mutual-best pairs and pointer chains merge — the deterministic
    * parallel-Louvain resolution); (3) contraction: community nodes,
    * edge weights summed, INTERNAL weight kept as a self-loop (so the
    * next level's strength counts it twice — the 2m bookkeeping real
    * Louvain contraction requires); (4) stop when nobody moves (the
    * modularity-gain fixpoint: every later level would be an identity
    * no-op, so an engine early-exit equals a fixed unroll — the DuckDB
    * twin unrolls exactly `maxLevels` levels). Output: every input node
    * with its final community (= min original member id).
    *
    * Input must be an AGGREGATED canonical pair list (one row per
    * undirected pair, like the co-purchase support table) — duplicate
    * pair rows would score per-row instead of per-pair.
    *
    * Two paths (see the header): the driver tier ([[driverLouvain]])
    * runs the whole level loop off one collect; the twin
    * ([[louvainTwin]]) keeps every stream cluster-side, shrinking
    * geometrically with contraction, and runs the per-level label CC
    * and mapping composition distributed. */
  def louvainLevels(wpairs: DataFrame, uCol: String, vCol: String,
                    wCol: String, maxLevels: Int): DataFrame = {
    require(maxLevels >= 1, s"maxLevels must be >= 1, got $maxLevels")
    // the ×2 factor: node-sized state on top of the pair list
    collectEdges(wpairs, uCol, vCol, Some(wCol), factor = 2) match {
      case Some(g) =>
        val comm = driverLouvain(g, maxLevels)
        localDf(wpairs.sparkSession, StructType(Seq(
            StructField("node", LongType, nullable = false),
            StructField("community", LongType, nullable = false))),
          comm.indices.collect { case i if comm(i) >= 0 =>
            Row(g.ids(i), g.ids(comm(i))) })
      case None =>
        louvainTwin(wpairs.filter(nonNull(uCol, vCol, wCol))
          .select(col(uCol).cast("long").as("__u"),
            col(vCol).cast("long").as("__v"), col(wCol).cast("bigint").as("__w")),
          maxLevels)
    }
  }

  /** The FULLY driver-resident multi-level fold behind [[louvainLevels]]'
    * tier — strength fold, integer argmax move, pointer-graph union-find,
    * contraction — off ONE collect with no per-level cluster job.
    * Arithmetic identical to [[louvainMovePlan]]: per-node strength
    * counts a self-loop twice (both orientations of the doubled stream),
    * gain 2m·w_ij − k_i·k_j exact BIGINT, ties to the smaller j, absent
    * or ≤ 0 argmax stays. Returns each node index's final community (its
    * minimum member index), or −1 for a node outside the level-0 graph
    * (zero strength). */
  private def driverLouvain(g: Edges, maxLevels: Int): Array[Int] = {
    val n = g.n
    var m = g.m
    var eu = g.iu
    var ev = g.iv
    var ew = g.w
    var mapping: Array[Int] = null
    val wd = new Array[Long](n)
    val bestSc = new Array[Long](n)
    val bestJ = new Array[Int](n)
    val ptr = new Array[Int](n)
    val parent = new Array[Int](n)
    var level = 0
    var moved = true
    while (level < maxLevels && moved) {
      java.util.Arrays.fill(wd, 0L)
      java.util.Arrays.fill(bestJ, -1)
      var i = 0
      while (i < m) { wd(eu(i)) += ew(i); wd(ev(i)) += ew(i); i += 1 }
      var m2 = 0L
      i = 0
      while (i < n) { m2 += wd(i); i += 1 }
      // argmax move: best (score, j) per node — max score then min j
      // (min INDEX = min id); self-loops never score
      i = 0
      while (i < m) {
        if (eu(i) != ev(i)) {
          val sc = m2 * ew(i) - wd(eu(i)) * wd(ev(i))
          val (a, b) = (eu(i), ev(i))
          if (bestJ(a) < 0 || sc > bestSc(a) ||
              (sc == bestSc(a) && b < bestJ(a))) {
            bestSc(a) = sc; bestJ(a) = b }
          if (bestJ(b) < 0 || sc > bestSc(b) ||
              (sc == bestSc(b) && a < bestJ(b))) {
            bestSc(b) = sc; bestJ(b) = a }
        }
        i += 1
      }
      // pointer p(i) = argmax j when gain > 0 else stay; level membership
      // = wd > 0 (weights are positive at every level)
      moved = false
      i = 0
      while (i < n) {
        ptr(i) =
          if (wd(i) > 0 && bestJ(i) >= 0 && bestSc(i) > 0) bestJ(i) else i
        if (ptr(i) != i) moved = true
        i += 1
      }
      if (moved) {
        // min-label CC over the pointer graph (it has cycles — mutual-best
        // pairs), then freeze each member's community into parent
        i = 0
        while (i < n) { parent(i) = i; i += 1 }
        i = 0
        while (i < n) { if (wd(i) > 0) unionMin(parent, i, ptr(i)); i += 1 }
        i = 0
        while (i < n) { if (wd(i) > 0) parent(i) = findRoot(parent, i); i += 1 }
        if (mapping == null)
          mapping = Array.tabulate(n)(j => if (wd(j) > 0) parent(j) else -1)
        else {
          i = 0
          while (i < n) {
            if (mapping(i) >= 0) mapping(i) = parent(mapping(i))
            i += 1
          }
        }
        // contraction: community edges summed, internal weight kept as
        // a self-loop (so the next level's strength counts it twice)
        val agg = new LongAddMap(m)
        i = 0
        while (i < m) {
          val cu = parent(eu(i)); val cv = parent(ev(i))
          agg.addTo((math.min(cu, cv).toLong << 32) | math.max(cu, cv).toLong,
            ew(i))
          i += 1
        }
        m = agg.size
        eu = new Array[Int](m); ev = new Array[Int](m)
        ew = new Array[Long](m)
        var wj = 0
        agg.foreachEntry { (k, w) =>
          eu(wj) = (k >>> 32).toInt
          ev(wj) = (k & 0xffffffffL).toInt
          ew(wj) = w
          wj += 1
        }
        level += 1
      }
    }
    // zero moves at level 0: every node is its own community
    if (mapping == null) Array.tabulate(n)(i => if (wd(i) > 0) i else -1)
    else mapping
  }

  /** [[louvainLevels]]' distributed twin over a cast (__u, __v, __w)
    * frame: all heavy streams (doubled orientation, scored argmax,
    * contraction fold) and the node-sized state stay cluster-side. */
  private def louvainTwin(e: DataFrame, maxLevels: Int): DataFrame = {
    val sess = e.sparkSession
    val par = sess.sparkContext.defaultParallelism
    var eLvl = e
      .repartition(par, col("__u"))
      .ckpt()
    try withoutAqe(sess) {
      // per-level CC via the min-label loop, mapping composed as a
      // checkpointed frame
      val spent = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      var mapping: DataFrame = null
      var level = 0
      var moved = true
      while (level < maxLevels && moved) {
        val p = louvainMovePlan(eLvl).ckpt()
        spent += p
        moved = p.filter(col("__n") =!= col("__p")).limit(1).count() > 0
        if (moved) {
          val ptr = p.filter(col("__n") =!= col("__p"))
          val ccPart = connectedComponentsTwin(ptr, "__n", "__p",
            maxRounds = 50)
          val cc = p.select(col("__n"))
            .join(ccPart.withColumnRenamed("node", "__n"), Seq("__n"), "left")
            .select(col("__n").as("__x"),
              coalesce(col("component"), col("__n")).as("__c"))
            .ckpt()
          spent += cc
          mapping =
            if (mapping == null) cc.select(col("__x").as("node"),
              col("__c").as("community")).ckpt()
            else mapping.join(
                cc.select(col("__x").as("community"), col("__c")).hint("shuffle_hash"),
                Seq("community"))
              .select(col("node"), col("__c").as("community")).ckpt()
          spent += mapping
          val contracted = eLvl
            .join(cc.select(col("__x").as("__u"), col("__c").as("__cu"))
              .hint("shuffle_hash"), "__u")
            .join(cc.select(col("__x").as("__v"), col("__c").as("__cv"))
              .hint("shuffle_hash"), "__v")
            .groupBy(least(col("__cu"), col("__cv")).as("__u2"),
              greatest(col("__cu"), col("__cv")).as("__v2"))
            .agg(sum(col("__w")).as("__w"))
            .select(col("__u2").as("__u"), col("__v2").as("__v"), col("__w"))
            .ckpt()
          Dedup.freeCheckpoints(eLvl)
          eLvl = contracted
          level += 1
        }
      }
      val result =
        if (mapping == null)
          louvainMovePlan(eLvl)
            .select(col("__n").as("node"), col("__n").as("community"))
            .ckpt()
        else mapping.ckpt()
      Dedup.freeCheckpoints(spent.toSeq: _*)
      result
    } finally Dedup.freeCheckpoints(eLvl)
  }

  /** MODULARITY audit of the final [[louvainLevels]] partition — the
    * "was the clustering any good" report a production community pass
    * ships. Per community c: member count, internal edge weight W_c,
    * total strength K_c, and the EXACT-integer modularity contribution
    * Q_c·(2m)² = 2·(2m)·W_c − K_c² (so Q = Σ q_contrib / (2m)² — the
    * (2m)² scaling keeps every term BIGINT and fold-order-free, the
    * same trick as the integer Louvain gain; overflow bound:
    * 2m ≤ ~2^31 keeps both terms under 2^63). Input contract matches
    * [[louvainLevels]]: an aggregated canonical pair list without
    * self-loops (the level-0 shape), so each node's strength is the
    * plain incident-weight sum. Loop and audit take ONE decision: the
    * driver tier folds the audit in index space off the collect
    * [[driverLouvain]] ran on; the twin joins the edge stream against
    * the node-sized community map (one pass for W_c, one for strength). */
  def louvainModularity(wpairs: DataFrame, uCol: String, vCol: String,
                        wCol: String, maxLevels: Int): DataFrame = {
    // ONE materialization of the (often expensive) upstream pair build:
    // the Louvain loop and both audit folds read these blocks — without
    // it the support aggregation runs twice inside one key
    val e = wpairs.filter(nonNull(uCol, vCol, wCol))
      .select(col(uCol).cast("long").as("__u"),
        col(vCol).cast("long").as("__v"), col(wCol).cast("bigint").as("__w"))
      .ckpt()
    // one decision for loop and audit: the same gate [[louvainLevels]]
    // applies, on the same frame
    collectEdges(e, "__u", "__v", Some("__w"), factor = 2) match {
      case Some(g) =>
        Dedup.freeCheckpoints(e)
        val comm = driverLouvain(g, maxLevels)
        val k = new Array[Long](g.n)
        val wIn = new Array[Long](g.n)
        var m2 = 0L
        var i = 0
        while (i < g.m) {
          val (u, v, w) = (g.iu(i), g.iv(i), g.w(i))
          k(u) += w; k(v) += w; m2 += 2 * w
          if (comm(u) >= 0 && comm(u) == comm(v)) wIn(comm(u)) += w
          i += 1
        }
        val kTot = new Array[Long](g.n)
        val nNodes = new Array[Long](g.n)
        i = 0
        while (i < g.n) {
          if (comm(i) >= 0) { kTot(comm(i)) += k(i); nNodes(comm(i)) += 1 }
          i += 1
        }
        localDf(wpairs.sparkSession,
          StructType(Seq("community", "n_nodes", "w_internal", "k_total",
            "q_contrib").map(StructField(_, LongType, nullable = false))),
          nNodes.indices.collect { case c if nNodes(c) > 0 =>
            Row(g.ids(c), nNodes(c), wIn(c), kTot(c),
              2 * m2 * wIn(c) - kTot(c) * kTot(c)) })
      case None =>
        val comm = louvainTwin(e, maxLevels)
        val we = e.select(explode(array(
            struct(col("__u").as("__s"), col("__w")),
            struct(col("__v").as("__s"), col("__w")))).as("__e"))
          .select(col("__e.__s").as("__s"), col("__e.__w").as("__w"))
        val k = we.groupBy(col("__s")).agg(sum(col("__w")).as("__k"))
        val s2m = we.agg(sum(col("__w")).as("__m2"))
        val kc = k.join(comm.withColumnRenamed("node", "__s").hint("shuffle_hash"), "__s")
          .groupBy(col("community"))
          .agg(sum(col("__k")).as("k_total"), count(lit(1)).as("n_nodes"))
        val wc = e
          .join(comm.select(col("node").as("__u"),
            col("community").as("__ca")).hint("shuffle_hash"), "__u")
          .join(comm.select(col("node").as("__v"),
            col("community").as("__cb")).hint("shuffle_hash"), "__v")
          .filter(col("__ca") === col("__cb"))
          .groupBy(col("__ca").as("community"))
          .agg(sum(col("__w")).as("w_in"))
        val result = kc.join(wc.hint("shuffle_hash"), Seq("community"), "left")
          .crossJoin(broadcast(s2m))
          .select(col("community"), col("n_nodes"),
            coalesce(col("w_in"), lit(0L)).as("w_internal"), col("k_total"),
            (lit(2) * col("__m2") * coalesce(col("w_in"), lit(0L))
              - col("k_total") * col("k_total")).as("q_contrib"))
          .localCheckpoint()
        Dedup.freeCheckpoints(e)
        result
    }
  }

  /** The pivot step of forward-backward SCC decomposition over a
    * DIRECTED edge list: the strongly connected component containing
    * the graph's minimum node id = fwd-reach(pivot) ∩ bwd-reach(pivot)
    * (Fleischer/Hendrickson/Pinar's FW-BW kernel — the step every
    * parallel SCC algorithm recurses on). Output rows carry both hop
    * distances. The DuckDB twin runs two depth-capped recursive UNION
    * BFS CTEs and min-folds the levels.
    *
    * The twin runs the two reaches FUSED: both orientations
    * live in ONE edge frame tagged with a direction column (dir 0 =
    * forward s→t, dir 1 = t→s), the label table is keyed (dir, node),
    * and each round's frontier join / min-fold serves both reaches at
    * once — serial rounds drop from depth_fwd + depth_bwd to
    * max(depth_fwd, depth_bwd), with per-round volume unchanged (the
    * two directions never mix: dir is part of every join and group
    * key). Early exit on a dead frontier per round, liveness count =
    * the materializing action, as in [[bfsLoop]]. A 2-hop doubling
    * stride was MEASURED NET-NEGATIVE here (warm 5.1 → 13 s at sf0.1):
    * the un-deduped 2-hop candidate stream multiplies by the hub
    * degree on this transitions graph — barrier savings can't buy back
    * a frontier-squared exchange. */
  def sccPivot(dedges: DataFrame, srcCol: String, dstCol: String,
               maxDepth: Int): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    // the (dir, node)-keyed label table is ≤ 2 × node-sized
    collectEdges(dedges, srcCol, dstCol, factor = 2) match {
      case Some(g) =>
        // both depth-capped reaches as primitive walks from the minimum id
        // over two directed CSRs — directions never mix, as in the fused
        // (dir, node) loop
        val rows =
          if (g.m == 0) Nil
          else {
            val (fOff, fNbr) = csr(g.n, g.iu, g.iv)
            val (bOff, bNbr) = csr(g.n, g.iv, g.iu)
            val lvlF = csrLevels(fOff, fNbr, 0, maxDepth)
            val lvlB = csrLevels(bOff, bNbr, 0, maxDepth)
            (0 until g.n).collect { case i if lvlF(i) >= 0 && lvlB(i) >= 0 =>
              Row(g.ids(i), lvlF(i), lvlB(i)) }
          }
        localDf(dedges.sparkSession, StructType(Seq(
            StructField("node", LongType, nullable = false),
            StructField("lvl_fwd", IntegerType, nullable = false),
            StructField("lvl_bwd", IntegerType, nullable = false))), rows)
      case None =>
        val par = dedges.sparkSession.sparkContext.defaultParallelism
        // ONE materialization of the (often expensive) upstream edge build:
        // the direction-tagged doubled orientation is written directly —
        // the pivot scalar and every round read these blocks
        val e = dedges.filter(nonNull(srcCol, dstCol)).select(explode(array(
            struct(lit(0).as("__dir"), col(srcCol).cast("long").as("__s"),
              col(dstCol).cast("long").as("__t")),
            struct(lit(1).as("__dir"), col(dstCol).cast("long").as("__s"),
              col(srcCol).cast("long").as("__t")))).as("__e"))
          .select(col("__e.__dir").as("__dir"), col("__e.__s").as("__s"),
            col("__e.__t").as("__t"))
          .repartition(par, col("__dir"), col("__s"))
          .ckpt()
        // index-sized scalar off the materialized blocks (both node sides
        // appear as __s in the doubled orientation)
        val row = e.agg(min(col("__s"))).head()
        if (row.isNullAt(0)) {
          Dedup.freeCheckpoints(e)
          return e.limit(0).select(col("__s").as("node"),
            lit(0).as("lvl_fwd"), lit(0).as("lvl_bwd"))
        }
        val pivot = row.getLong(0)
        val sess = e.sparkSession
        var labels = sess.range(1)
          .select(explode(array(lit(0), lit(1))).as("__dir"),
            lit(pivot).as("__n"), lit(0).as("__lvl"))
          .localCheckpoint()
        val spent = scala.collection.mutable.ArrayBuffer(e, labels)
        var known = 2L
        var done = 0
        var frontierAlive = true
        while (done < maxDepth && frontierAlive) {
          // frontier = the rows discovered last round, in BOTH directions
          val f = labels.filter(col("__lvl") === done)
            .select(col("__dir"), col("__n").as("__s"))
          val cand = e.join(f, Seq("__dir", "__s"))
            .select(col("__dir"), col("__t").as("__n"),
              lit(done + 1).as("__lvl"))
          labels = labels.unionByName(cand)
            .groupBy(col("__dir"), col("__n")).agg(min(col("__lvl")).as("__lvl"))
            .localCheckpoint(eager = false)
          spent += labels
          val now = labels.count()
          frontierAlive = now > known
          known = now
          done += 1
        }
        // one (node)-keyed fold replaces the fwd ⋈ bwd join: each (dir, n)
        // appears once, so the min-when picks that direction's level; inner
        // semantics = both levels present
        val result = labels
          .groupBy(col("__n"))
          .agg(min(when(col("__dir") === 0, col("__lvl"))).as("lvl_fwd"),
            min(when(col("__dir") === 1, col("__lvl"))).as("lvl_bwd"))
          .filter(col("lvl_fwd").isNotNull && col("lvl_bwd").isNotNull)
          .select(col("__n").as("node"), col("lvl_fwd"), col("lvl_bwd"))
          .localCheckpoint()
        Dedup.freeCheckpoints(spent.toSeq: _*)
        result
    }
  }

  /** WEIGHTED personalized PageRank — [[personalizedPagerank]] with
    * edge-weight-proportional contribution splits:
    * pr'(v) = 150_000·[v ∈ seeds]
    *        + (17 · Σ_{u→v} (pr(u)·w(u,v) div W(u))) div 20,
    * W(u) = Σ_t w(u,t) the strength. The per-edge floor division keeps
    * every score an exact BIGINT (sums of integers are fold-order-free),
    * so the DuckDB twin unrolls the identical recurrence — bit-identical
    * cross-engine.
    *
    * r16 shape — ONE barrier, no per-round node join: the strength
    * W(u) rides the edge checkpoint as a window sum over the same
    * HashPartitioning(__s) the repartition already paid (no separate
    * degree frame, no second checkpoint), the nSeeds seed ids COLLECT
    * to the driver (index-sized by contract — the pathCounts seed
    * trade) and become an `isin` literal inside the round body, and
    * each round is exactly e ⋈ pr (co-partitioned: pr arrives
    * HashPartitioning(__t) from the previous round's aggregation,
    * aliased to __s) + one __t-keyed aggregation — ONE exchange per
    * round, the whole iters-round chain executing as a single job.
    * The doubled orientation guarantees every node has in-edges, so
    * seeding pr₀ over distinct(__s) keeps every node present in every
    * round's output (zero-valued contributions still form groups) —
    * the restart mask needs no outer join.
    *
    * Driver tier: the collected edges ([[collectEdges]], weight cast to
    * BIGINT) run the same recurrence in index space — seeds are the
    * `nSeeds` smallest indices, and a zero-rank source is skipped, since
    * its per-edge share (0·w) div W is 0. Exact (overflow-checked) long
    * arithmetic keeps the twin's ANSI failures. */
  def weightedPersonalizedPagerank(wpairs: DataFrame, uCol: String,
                                   vCol: String, wCol: String,
                                   iters: Int, nSeeds: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(nSeeds >= 1, s"nSeeds must be >= 1, got $nSeeds")
    collectEdges(wpairs, uCol, vCol, Some(wCol)) match {
      case Some(g) =>
        val (iu, iv, w) = (g.iu, g.iv, g.w)
        val strength = new Array[Long](g.n)
        var i = 0
        while (i < g.m) {
          strength(iu(i)) = Math.addExact(strength(iu(i)), w(i))
          strength(iv(i)) = Math.addExact(strength(iv(i)), w(i))
          i += 1
        }
        val k = math.min(nSeeds, g.n)
        var pr = Array.tabulate(g.n)(t => if (t < k) 1000000L else 0L)
        (1 to iters).foreach { _ =>
          val c = new Array[Long](g.n)
          def push(s: Int, t: Int, wt: Long): Unit = if (pr(s) != 0L)
            c(t) = Math.addExact(c(t), Math.multiplyExact(pr(s), wt) / strength(s))
          i = 0
          while (i < g.m) {
            push(iu(i), iv(i), w(i)); push(iv(i), iu(i), w(i)); i += 1 }
          pr = Array.tabulate(g.n)(t =>
            (if (t < k) 150000L else 0L) + Math.multiplyExact(17L, c(t)) / 20)
        }
        nodeValueDf(wpairs.sparkSession, "wppr", g.ids, pr)
      case None =>
        val par = wpairs.sparkSession.sparkContext.defaultParallelism
        // node ids cast to long: the seed collect below reads getLong,
        // and non-BIGINT ids take this path
        val e = wpairs.filter(nonNull(uCol, vCol, wCol))
          .select(explode(array(
            struct(col(uCol).cast("long").as("__s"),
              col(vCol).cast("long").as("__t"),
              col(wCol).cast("bigint").as("__w")),
            struct(col(vCol).cast("long").as("__s"),
              col(uCol).cast("long").as("__t"),
              col(wCol).cast("bigint").as("__w")))).as("__e"))
          .select(col("__e.__s").as("__s"), col("__e.__t").as("__t"),
            col("__e.__w").as("__w"))
          .repartition(par, col("__s"))
          .withColumn("__wk",
            sum(col("__w")).over(Window.partitionBy(col("__s"))))
          .ckpt()
        try withoutAqe(e.sparkSession) {
          // nSeeds smallest node ids — driver-collected (nSeeds-bounded by
          // the require above; rides the checkpoint's partitioning)
          val seedIds = e.select(col("__s")).distinct()
            .orderBy(col("__s")).limit(nSeeds)
            .collect().map(_.getLong(0)).toSeq
          def seedMask(n: Column): Column =
            if (seedIds.isEmpty) lit(false) else n.isin(seedIds: _*)
          var pr = e.select(col("__s")).distinct()
            .select(col("__s"), when(seedMask(col("__s")), lit(1000000L))
              .otherwise(lit(0L)).as("__pr"))
          (1 to iters).foreach { _ =>
            pr = e
              .join(pr, Seq("__s"))
              .groupBy(col("__t"))
              .agg(sum(expr("(__pr * __w) div __wk")).as("__c"))
              .select(col("__t").as("__s"),
                (when(seedMask(col("__t")), lit(150000L)).otherwise(lit(0L))
                  + expr("(17 * __c) div 20")).as("__pr"))
          }
          pr.select(col("__s").as("node"), col("__pr").as("wppr"))
            .ckpt()
        } finally Dedup.freeCheckpoints(e)
    }
  }

  /** LINK PREDICTION by RESOURCE ALLOCATION index (Zhou/Lü/Zhang 2009):
    * top-k non-adjacent pairs by Σ_{z ∈ N(a)∩N(b)} 1/deg(z), the
    * degree-discounted sibling of [[commonNeighborTopK]] — a shared hub
    * neighbor counts for little, a shared low-degree neighbor for a lot.
    * Kept EXACT: each center z contributes the integer
    * 2^scaleBits div deg(z), summed per pair (fold-order-free), so the
    * ranking is deterministic cross-engine with no float division.
    * Same scale shape as the common-neighbor operator: neighbor sets
    * fold once, candidate pairs expand IN-ROW with the center's share
    * riding along, one pair-keyed sum, anti-join against the edge set.
    * Input must be a DISTINCT pair list (deg(z) = |N(z)|). */
  def resourceAllocationTopK(pairs: DataFrame, uCol: String, vCol: String,
                             topK: Int, scaleBits: Int = 20): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(scaleBits >= 1 && scaleBits <= 40,
      s"scaleBits must be in [1, 40], got $scaleBits")
    val scale = 1L << scaleBits
    val adjRa = orientedAdjacency(pairs, uCol, vCol)
    val cand = adjRa
      .groupBy(col("__s")).agg(sortedSetOf(adjRa, "__t").as("__nbrs"))
      .select(expr(s"$scale div size(__nbrs)").as("__ra"),
        explode(expr(
          "flatten(transform(__nbrs, (x, i) -> " +
            "transform(slice(__nbrs, i + 2, size(__nbrs)), " +
            "y -> struct(x AS a, y AS b))))")).as("__p"))
      .select(col("__p.a").as("a"), col("__p.b").as("b"), col("__ra"))
      .groupBy(col("a"), col("b"))
      .agg(sum(col("__ra")).as("ra_scaled"),
        count(lit(1)).as("common_neighbors"))
    val e = pairs.select(least(col(uCol), col(vCol)).as("a"),
      greatest(col(uCol), col(vCol)).as("b"))
    cand.join(e, Seq("a", "b"), "left_anti")
      .orderBy(col("ra_scaled").desc, col("a"), col("b"))
      .limit(topK)
      .select(col("a").as("part_u"), col("b").as("part_v"),
        col("ra_scaled"), col("common_neighbors"))
  }

  /** LINK PREDICTION by common-neighbor count: the top-k NON-adjacent
    * node pairs ranked by how many neighbors they share — the classic
    * "who should be connected" recommender baseline (Liben-Nowell &
    * Kleinberg 2003), integer-exact so the ranking is deterministic
    * cross-engine (ties broken by the pair ids).
    *
    * Scale shape: neighbor sets fold in ONE node-keyed exchange
    * (collect_set dedups inside the aggregation — duplicate input pairs
    * cost nothing extra), candidate pairs are generated IN-ROW from each
    * sorted neighbor array (a < b canonical by construction, so no
    * least/greatest pass), then one pair-keyed count and an anti-join
    * against the canonicalized edge set. Per-node work is d²/2 — the
    * wedge stream materializes only as the aggregation input, never as
    * a joined intermediate. Hub hazard: a 10⁵-degree hub emits 5·10⁹
    * pairs from one row; on hub-heavy graphs cap the center degree
    * (drop hubs — the standard LP denoising) or go to the
    * degree-oriented corner formulation ([[trussPeel]]'s edgeSupport)
    * which bounds per-task work by orientation. */
  def commonNeighborTopK(pairs: DataFrame, uCol: String, vCol: String,
                         topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val adjCn = orientedAdjacency(pairs, uCol, vCol)
    val cand = adjCn
      .groupBy(col("__s")).agg(sortedSetOf(adjCn, "__t").as("__nbrs"))
      .select(explode(expr(
        "flatten(transform(__nbrs, (x, i) -> " +
          "transform(slice(__nbrs, i + 2, size(__nbrs)), " +
          "y -> struct(x AS a, y AS b))))")).as("__p"))
      .select(col("__p.a").as("a"), col("__p.b").as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common_neighbors"))
    val e = pairs.select(least(col(uCol), col(vCol)).as("a"),
      greatest(col(uCol), col(vCol)).as("b"))
    cand.join(e, Seq("a", "b"), "left_anti")
      .orderBy(col("common_neighbors").desc, col("a"), col("b"))
      .limit(topK)
      .select(col("a").as("part_u"), col("b").as("part_v"),
        col("common_neighbors"))
  }

  /** Undirected node base = the out-degree aggregate (every node appears
    * as a source; exchange-free over the __s-partitioned edge frame). */
  private def outdegBase(e: DataFrame): DataFrame =
    e.groupBy(col("__s")).agg(count(lit(1)).as("__od"))
      .select(col("__s").as("__n"), col("__od"))

  /** One undirected-PageRank round: contribution agg by target, INNER
    * restore against the base (contrib covers every node — all nodes
    * have in-edges). */
  private def prIteration(e: DataFrame, base: DataFrame, pr: DataFrame): DataFrame = {
    val contrib = e
      .join(pr.select(col("__n").as("__s"), col("__od"), col("__pr")), Seq("__s"))
      .groupBy(col("__t"))
      .agg(sum(expr("__pr div __od")).as("__c"))
    base.join(contrib.withColumnRenamed("__t", "__n"), Seq("__n"))
      .select(col("__n"), col("__od"),
        (lit(150000L) + expr("(17 * __c) div 20")).as("__pr"))
  }

  /** Eager localCheckpoint that PRESERVES the frame's hash partitioning.
    * Under AQE the checkpoint captures `UnknownPartitioning(0)` — the
    * adaptive plan reports no final partitioning into the LogicalRDD —
    * so every downstream "rides the partitioning" fold or co-located
    * join silently re-exchanges the checkpointed frame. Compiling and
    * executing the checkpoint with AQE off keeps the physical
    * HashPartitioning on the scan (verified: the per-round candidate
    * fold over a target-partitioned edge frame goes from
    * exchange-per-round to zero-exchange). Used for EVERY eager
    * checkpoint in this file — harmless on result frames that are only
    * read back, and AQE contributes nothing to these checkpoint jobs
    * anyway (their plans end in explicit fixed-count repartitions). */
  private[graft] def checkpointPartitioned(df: DataFrame): DataFrame =
    withoutAqe(df.sparkSession)(df.localCheckpoint())

  /** Runs `body` with AQE off, restoring the session's setting after —
    * the fixed-shape iteration chains and partition-preserving
    * checkpoints of this file, where adaptivity has nothing to decide
    * and would turn each exchange into its own job barrier. */
  private def withoutAqe[T](sess: SparkSession)(body: => T): T = {
    val was = sess.conf.get("spark.sql.adaptive.enabled", "true")
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally sess.conf.set("spark.sql.adaptive.enabled", was)
  }

  /** `.ckpt()` = [[checkpointPartitioned]] in method position — the
    * drop-in for `.localCheckpoint()` wherever the checkpointed frame's
    * partitioning is (or may later be) relied on. */
  private[graft] implicit class CkptOps(private val df: DataFrame) {
    def ckpt(): DataFrame = checkpointPartitioned(df)
  }

  /** Materialized byte size of a frame's localCheckpoint blocks
    * (mem + disk, summed over its LogicalRDD leaves), falling back to
    * the optimizer's stats estimate when nothing is materialized yet.
    * Free — reads BlockManager accounting, runs no job. */
  private def materializedBytes(df: DataFrame): Long = {
    val ids = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet
    val info = df.sparkSession.sparkContext.getRDDStorageInfo
      .filter(i => ids.contains(i.id))
    if (info.nonEmpty) info.map(i => i.memSize + i.diskSize).sum
    else df.queryExecution.optimizedPlan.stats.sizeInBytes
      .min(BigInt(Long.MaxValue)).toLong
  }

  /** SIZE-BASED tier selection: a driver tier runs only while `proxy`
    * (the operator's input frame, whose bytes bound the driver state
    * derived from it) times `factor` fits
    * `graft.graph.broadcastLimitBytes` (default 256 MB — a frame every
    * production driver can hold); otherwise the distributed twin runs.
    * It picks the path and nothing else: no twin reads it, so a twin's
    * joins are planned by Spark from observed sizes. Its two callers are
    * the tier gates [[collectEdges]] and Dedup's bitmap gate. 0 forces
    * the twin on any non-empty proxy, a very large value lets the tier
    * run wherever its id columns are BIGINT. `factor` scales the proxy
    * where the driver state can outgrow the edge frame (multi-source
    * visited state ≈ nSources × node frame). A proxy that is not yet
    * materialized rides the optimizer's stats estimate; a checkpointed
    * one (Dedup's rep table, the Louvain audit's edges) resolves from
    * measured block sizes. */
  private[graft] def resolveBroadcast(proxy: DataFrame,
                                      factor: Long = 1L): Boolean =
    materializedBytes(proxy) <=
      broadcastLimitBytes(proxy.sparkSession) / math.max(1L, factor)

  /** `graft.graph.broadcastLimitBytes` (default 256 MB): the one byte
    * budget of every driver tier. */
  private def broadcastLimitBytes(sess: SparkSession): Long =
    sess.conf.get("graft.graph.broadcastLimitBytes", (256L << 20).toString).toLong

  private def orientedAdjacency(pairs: DataFrame, uCol: String,
                                vCol: String,
                                partitionByTarget: Boolean = false): DataFrame = {
    // partitionByTarget: loops that broadcast their frontier (the Brandes
    // twins) want the edges co-located by the CONTRIBUTION TARGET — the
    // per-round candidate fold groupBy(__n = __t) then rides this
    // partitioning through the alias and the whole round is
    // exchange-free. Shuffled-frontier loops want __s so the delta
    // equi-join is co-located instead.
    val key = if (partitionByTarget) "__t" else "__s"
    pairs.select(explode(array(
        struct(col(uCol).as("__s"), col(vCol).as("__t")),
        struct(col(vCol).as("__s"), col(uCol).as("__t")))).as("__e"))
      .select(col("__e.__s").as("__s"), col("__e.__t").as("__t"))
      .repartition(pairs.sparkSession.sparkContext.defaultParallelism,
        col(key))
  }

  /** Exact triangle count over a DISTINCT undirected edge list (u < v
    * canonical) — the degree-oriented EDGE-ITERATOR (adjacency
    * intersection), engineered so the wedge stream — the one
    * intermediate that dwarfs the graph (41 M wedges over 1.2 M edges on
    * the co-purchase fixture) — is never generated at all:
    *  - orientation: edges join the node-sized (≪ |E|) degree table
    *    TWICE. Degree orientation bounds every out-degree by O(√|E|) —
    *    the graph-analytics skew defense, and here also the intersection
    *    length bound;
    *  - adjacency: out-edges fold IN-ROW into per-node SORTED neighbor
    *    arrays (ONE s-keyed exchange of the |E| stream; node-sized
    *    result);
    *  - count: each oriented edge (s, t) picks up both endpoints'
    *    arrays and contributes |N⁺(s) ∩ N⁺(t)| via
    *    [[org.apache.spark.sql.graft.SortedLongOverlap]] — a codegen'd
    *    two-cursor primitive merge, zero allocation — summed map-side.
    *    Each triangle is counted exactly once (orientation makes it a
    *    transitive triple x→y, x→z, y→z; only the (x, y) edge sees z in
    *    both out-sets).
    * Total work is Σ_e (d⁺(s)+d⁺(t)) merge steps with NO wedge-sized
    * exchange or materialization — measured 14.3 s → ~2 s at sf0.1
    * against the node-iterator wedge expansion + hash-probe form, whose
    * 41 M-row generate/probe stages were the whole cost. All-integer →
    * bit-identical cross-run/partitioning/engine; the DuckDB oracle
    * replays the same triangle set as the portable wedge/close SQL.
    * Every join strategy is Spark's choice from observed sizes: broadcast
    * while the node-sized sides are small, shuffle joins once they
    * outgrow the broadcast threshold. */
  def triangleCount(edges: DataFrame, uCol: String, vCol: String): DataFrame = {
    val e = edges.select(col(uCol).as("u"), col(vCol).as("v"))
      .ckpt()
    val result = triangleBody(e).ckpt()
    Dedup.freeCheckpoints(e)
    result
  }

  private def triangleBody(e: DataFrame): DataFrame =
    edgesWithAdjacency(e)
      .agg(coalesce(sum(org.apache.spark.sql.graft.SortedLongOverlap
          .of(col("__na"), col("__nb"))), lit(0L))
        .cast("bigint").as("n_triangles"))

  /** Per-node clustering coefficient over the same adjacency-
    * intersection machinery as [[triangleCount]], with the intersection
    * ELEMENTS kept: per oriented edge (s, t), `array_intersect` yields
    * the closing nodes W, each w ∈ W names a triangle (s, t, w), and
    * the corner explode is 3 rows per TRIANGLE (≈|△|·3 ≪ wedges) — the
    * per-node counts fold with a map-side-combined aggregate to a
    * node-sized frame before anything exchanges. cc(n) =
    * 2·tri(n) / (d·(d−1)) over nodes with d ≥ 2 — the final division is
    * the only float op, over integer-derived operands (identical IEEE
    * both engines; round(6) is belt). Returns
    * (node, n_tri, degree, clustering). */
  def clusteringCoefficients(edges: DataFrame, uCol: String,
                             vCol: String): DataFrame = {
    val e = edges.select(col(uCol).as("u"), col(vCol).as("v"))
      .ckpt()
    val result = clusteringBody(e).ckpt()
    Dedup.freeCheckpoints(e)
    result
  }

  private def clusteringBody(e: DataFrame): DataFrame = {
    // explode(sorted merge intersect) drops empty/null W in-stage — the
    // inner-close semantics; the native kernel replaces array_intersect's
    // per-edge hash-set build with one linear merge over primitive longs
    val tri = edgesWithAdjacency(e)
      .select(col("s"), col("t"),
        explode(org.apache.spark.sql.graft.SortedLongIntersect
          .of(col("__na"), col("__nb"))).as("w"))
    val tc = tri.select(explode(array(col("s"), col("t"), col("w"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("t"))
    // tc is node-sized after the fold; LEFT into the degree frame keeps
    // zero-triangle nodes at n_tri = 0. The final projection is the SQL
    // tail's expression text verbatim, so the one float division parses
    // through the same literal/cast path
    degreeTable(e).filter(col("d") >= 2)
      .join(tc, Seq("n"), "left")
      .selectExpr("n AS node", "CAST(COALESCE(t, 0) AS BIGINT) AS n_tri",
        "CAST(d AS BIGINT) AS degree",
        "round(2.0 * COALESCE(t, 0) / " +
          "(CAST(d AS DOUBLE) * (CAST(d AS DOUBLE) - 1.0)), 6) AS clustering")
  }

  /** Degree HISTOGRAM of the distinct undirected graph implied by a raw
    * pair stream (u < v per row; duplicate pairs across rows allowed) —
    * (degree, n_nodes) — as ONE LINEAR JOB for the single-consumer case:
    * both orientations expand in-row, the oriented stream exchanges ONCE
    * on its source node, and then EVERYTHING else rides that exchange —
    * the (s, t) distinct (partitioning ⊆ grouping), the per-node degree
    * count (same key), and the final histogram fold (map-side-combined
    * to histogram size). The r11 shape routed single-pass consumers
    * through the materialized distinct EDGE set and paid a pair-keyed
    * exchange + a node-keyed exchange on top of the pair build; this is
    * the same answer with one full-stream exchange total. */
  def degreeHistogram(pairs: DataFrame, uCol: String, vCol: String): DataFrame =
    orientedAdjacency(pairs, uCol, vCol)
      .distinct()
      .groupBy(col("__s")).agg(count(lit(1)).as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("n_nodes"))
      .select(col("d").as("degree"), col("n_nodes"))

  /** The both-orientation edge-end stream of the distinct undirected
    * graph implied by a raw pair stream (u < v per row; duplicate pairs
    * across rows allowed), decorated with both endpoint degrees —
    * (__da = deg(this end), __db = deg(other end)) — and folded by
    * `fold` into the checkpointed result. The distinct adjacency folds
    * once (orientation-exploded stream, ONE node-keyed exchange,
    * `collect_set` doing the edge dedup inside it, so no pair-level
    * distinct exchange), checkpointed as a node-sized barrier; each
    * (node, nbr) end already carries its own degree, and the
    * neighbor's comes from one join of the node-sized degree
    * projection. */
  private def degreeEnds(pairs: DataFrame, uCol: String, vCol: String)
                        (fold: DataFrame => DataFrame): DataFrame = {
    val o = orientedAdjacency(pairs, uCol, vCol)
    val adj = o
      .groupBy(col("__s")).agg(sortedSetOf(o, "__t").as("__nbrs"))
      .select(col("__s").as("__n"), col("__nbrs"),
        size(col("__nbrs")).cast("bigint").as("__d"))
      .ckpt()
    val deg = adj.select(col("__n").as("__m"), col("__d").as("__db"))
    val result = fold(adj
      .select(col("__d").as("__da"), explode(col("__nbrs")).as("__m"))
      .join(deg, Seq("__m")))
      .ckpt()
    Dedup.freeCheckpoints(adj)
    result
  }

  /** Neighbor-degree (assortativity) profile of the distinct undirected
    * graph implied by a raw pair stream: for each degree class, how many
    * edge ENDS it owns and the integer sum of its neighbors' degrees —
    * (degree, n_ends, sum_nbr_degree), INTEGER-exact cross-engine; the
    * per-degree-class fold partial-combines map-side. */
  def neighborDegreeFromPairs(pairs: DataFrame, uCol: String,
                              vCol: String): DataFrame =
    degreeEnds(pairs, uCol, vCol)(_
      .groupBy(col("__da"))
      .agg(count(lit(1)).as("n_ends"),
        sum(col("__db")).cast("bigint").as("sum_nbr_degree"))
      .select(col("__da").as("degree"), col("n_ends"), col("sum_nbr_degree")))

  /** Degree assortativity coefficient (Newman's r) of the distinct
    * undirected graph implied by a raw pair stream: the Pearson
    * correlation of (deg(x), deg(y)) over all 2|E| directed edge ends —
    * THE one-number answer to "do hubs attach to hubs?". Every moment
    * (n, Σx, Σxy, Σx²) is an INTEGER sum over the end stream (the
    * symmetric marginals make Σy = Σx, Σy² = Σx²), and r is one fixed
    * IEEE-double expression over those exact integers — bit-identical
    * cross-engine. Returns one row (n_ends, assortativity). Degenerate
    * variance (regular graph) → NULL, both engines. */
  def assortativityFromPairs(pairs: DataFrame, uCol: String,
                             vCol: String): DataFrame =
    degreeEnds(pairs, uCol, vCol)(_
      .agg(count(lit(1)).cast("bigint").as("n"),
        sum(col("__da")).cast("bigint").as("sx"),
        sum(col("__da") * col("__db")).cast("bigint").as("sxy"),
        sum(col("__da") * col("__da")).cast("bigint").as("sx2"))
      .selectExpr("n AS n_ends",
        "round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) " +
          "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / " +
          "nullif(CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) " +
          "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0), 6) " +
          "AS assortativity"))

  /** Bounded-round MIN-LABEL PROPAGATION over an undirected pair list
    * (duplicate pairs allowed — the min-fold is multiplicity-invariant,
    * so the caller skips the distinct): labels start as the node's own
    * id; each round every node takes the minimum of its own and its
    * neighbors' labels. After r rounds label(n) = min node id within r
    * hops — the bounded-pass core of connected components / community
    * seeding (full CC iterates to fixpoint with a liveness count, the
    * [[bfsLoop]] pattern). Each round is ONE node-keyed join + one
    * min-aggregate over the label table: persist-marked rounds, AQE off
    * inside the fixed chain, one straight-line action. Returns (node, label),
    * integer-exact cross-engine.
    *
    * BOUNDED rounds by design: each round references the label table
    * TWICE (self ∪ contributions), so the persist chain's LOGICAL plan
    * doubles per round — fine at the single-digit round counts this
    * serves, pathological past ~15 (Catalyst walks 2^rounds nodes even
    * though persist truncates physical recompute). Unbounded iteration
    * belongs to [[connectedComponentsMinLabel]], whose per-round
    * `localCheckpoint(eager = false)` truncates the LOGICAL plan
    * too. */
  def labelPropagate(pairs: DataFrame, uCol: String, vCol: String,
                     rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    collectEdges(pairs, uCol, vCol) match {
      case Some(g) =>
        // the r-round synchronous min fold over one CSR — the twin's delta
        // rounds are semantics-free under the min-fold's idempotence, so
        // plain synchronous rounds are bit-equal; duplicate pairs ride free
        val (off, nbr) = driverCsr(g, dedup = false)
        var lab = Array.tabulate(g.n)(identity)
        var r0 = 0
        while (r0 < rounds) {
          val nxt = new Array[Int](g.n)
          var i = 0
          while (i < g.n) {
            var m0 = lab(i)
            var j = off(i)
            while (j < off(i + 1)) { m0 = math.min(m0, lab(nbr(j))); j += 1 }
            nxt(i) = m0
            i += 1
          }
          lab = nxt
          r0 += 1
        }
        nodeValueDf(pairs.sparkSession, "label", g.ids, lab.map(g.ids))
      case None =>
        val e = orientedAdjacency(pairs.filter(nonNull(uCol, vCol)), uCol, vCol)
          .ckpt()
        val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        try withoutAqe(e.sparkSession) {
          // every node appears as a source of the __s-partitioned oriented
          // frame, so the seed distinct is exchange-free.
          // FRONTIER DELTA (r12 verdict): only labels that CHANGED last round
          // push this round — an unchanged node's contribution was already
          // folded into its neighbors when it last changed, so re-pushing it
          // is a no-op by the min-fold's idempotence. Round 0 seeds the delta
          // with every node (all labels fresh); the seed is persist-marked
          // because round 1 reads it twice (label side + delta side).
          var merged = e.select(col("__s").as("__n")).distinct()
            .select(col("__n"), col("__n").as("__l"), lit(true).as("__chg"))
            .persist()
          cached += merged
          var r = 0
          while (r < rounds) {
            merged = minLabelDeltaRound(e,
              merged.select(col("__n"), col("__l")),
              merged.filter(col("__chg")).select(col("__n"), col("__l")))
              .persist()
            cached += merged
            r += 1
          }
          merged.select(col("__n").as("node"), col("__l").as("label"))
            .ckpt()
        } finally {
          cached.foreach(_.unpersist(blocking = false))
          Dedup.freeCheckpoints(e)
        }
    }
  }

  /** One FRONTIER-DELTA min-label round: push the labels that CHANGED
    * last round to their neighbors and fold with the min-aggregate. A
    * full-table round (`lab ∪ contrib → groupBy`) re-exchanges the ENTIRE
    * label table every round (the union discards `lab`'s hash
    * partitioning); here only the changed rows travel: `delta` shuffles
    * to the edge frame's __s partitioning (delta-sized), the candidate
    * fold shuffles the delta-neighborhood contribution stream (never the
    * label table), and the merge join is pinned SHUFFLED HASH so both
    * sides arrive partitioned by __n (lab from the previous round's
    * output, candidates from their own fold) — no sort of either table,
    * zero label-table movement. Returns (__n, __l, __chg): the merged
    * labels plus the changed-this-round flag the caller filters the next
    * delta from. Equivalent to the full fold by induction: an unchanged
    * node's push is a replay of the round it last changed, already
    * absorbed by every neighbor (min-fold idempotence). */
  private def minLabelDeltaRound(e: DataFrame, lab: DataFrame,
                                 delta: DataFrame): DataFrame = {
    val d = delta.select(col("__n").as("__s"), col("__l"))
    val cand = e.join(d.hint("shuffle_hash"), Seq("__s"))
      .select(col("__t").as("__n"), col("__l"))
      .groupBy(col("__n")).agg(min(col("__l")).as("__c"))
    lab.join(cand.hint("shuffle_hash"), Seq("__n"), "left")
      .select(col("__n"),
        least(col("__l"), coalesce(col("__c"), col("__l"))).as("__l"),
        (col("__c").isNotNull && col("__c") < col("__l")).as("__chg"))
  }

  /** CONNECTED COMPONENTS to FIXPOINT over an undirected pair list
    * (duplicate pairs allowed) — (node, component) with component = min
    * node id in the component. The driver tier is one union-find fold
    * (union by min root, so every root IS its component's minimum). The
    * twin ([[connectedComponentsTwin]]) is hash-min label propagation:
    * each round is [[minLabelDeltaRound]]'s frontier-delta join +
    * min-fold, and convergence detection rides the SAME action that
    * materializes the round (the [[bfsLevels]] liveness pattern): labels
    * are monotone nonincreasing under the min-fold, so a zero
    * changed-row count means no label moved. Hash-min needs O(diameter)
    * rounds — right for the small-diameter graphs batch analytics feeds
    * it; adversarial long-path graphs want
    * [[Dedup.connectedComponentsStar]]'s O(log n) star contraction (same
    * contract, spec-pinned equal). The twin throws after `maxRounds`
    * instead of returning a half-converged labeling. */
  def connectedComponentsMinLabel(edges: DataFrame, uCol: String, vCol: String,
                                  maxRounds: Int = 50): DataFrame =
    collectEdges(edges, uCol, vCol) match {
      case Some(g) =>
        val parent = Array.tabulate(g.n)(identity)
        var i = 0
        while (i < g.m) { unionMin(parent, g.iu(i), g.iv(i)); i += 1 }
        localDf(edges.sparkSession, StructType(Seq(
            StructField("node", LongType, nullable = false),
            StructField("component", LongType, nullable = false))),
          g.ids.indices.map(j => Row(g.ids(j), g.ids(findRoot(parent, j)))))
      case None => connectedComponentsTwin(edges.filter(nonNull(uCol, vCol)),
        uCol, vCol, maxRounds)
    }

  /** [[connectedComponentsMinLabel]]'s distributed twin; Louvain's twin
    * runs its per-level pointer-graph CC through it directly. */
  private def connectedComponentsTwin(edges: DataFrame, uCol: String,
                                      vCol: String,
                                      maxRounds: Int): DataFrame = {
    val e = orientedAdjacency(edges, uCol, vCol).ckpt()
    val spent = scala.collection.mutable.ArrayBuffer(e)
    var lab = e.select(col("__s").as("__n")).distinct()
      .withColumn("__l", col("__n"))
      .localCheckpoint(eager = false)
    spent += lab
    // frontier delta (see [[minLabelDeltaRound]]): convergence is now a
    // COUNT of the changed rows — it rides the same action that
    // materializes the round's checkpoint blocks (replacing the pre-r13
    // full-table label-sum compare), and reads zero when the round was a
    // no-op, which under the min-fold's monotonicity means fixpoint.
    var delta = lab
    var converged = false
    var r = 0
    while (r < maxRounds && !converged) {
      val merged = minLabelDeltaRound(e, lab, delta)
        .localCheckpoint(eager = false)
      spent += merged
      val changed = merged.filter(col("__chg")).count()
      lab = merged.select(col("__n"), col("__l"))
      delta = merged.filter(col("__chg")).select(col("__n"), col("__l"))
      converged = changed == 0L
      r += 1
    }
    if (!converged) {
      Dedup.freeCheckpoints(spent.toSeq: _*)
      throw new IllegalStateException(
        s"connectedComponentsMinLabel did not converge in $maxRounds rounds")
    }
    val result = lab.select(col("__n").as("node"), col("__l").as("component"))
      .ckpt()
    Dedup.freeCheckpoints(spent.toSeq: _*)
    result
  }

  /** MULTI-SOURCE bounded BFS over an undirected pair list: hop counts
    * ≤ `maxDepth` from each of the `nSources` SMALLEST node ids, as one
    * shared loop — (src, node, lvl). The twin runs [[bfsLoop]] (AQE off)
    * with its label table keyed (src, node), so one loop walks all
    * sources simultaneously instead of paying the per-round barrier
    * chain once per source — the centrality fan-out pattern
    * (closeness/harmonic need BFS from many seeds; at scale you batch
    * the seeds, not the loop). Integer-exact cross-engine; the DuckDB
    * twin is the depth-bounded recursive UNION carrying the src
    * column. */
  def multiSourceBfs(pairs: DataFrame, uCol: String, vCol: String,
                     nSources: Int, maxDepth: Int): DataFrame = {
    require(nSources >= 1, s"nSources must be >= 1, got $nSources")
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    // the (src, node) level table is ≤ nSources × node-sized
    collectEdges(pairs, uCol, vCol, factor = nSources) match {
      case Some(g) =>
        // every source BFSes over one CSR; duplicate pairs are harmless to
        // level-BFS (first discovery wins either way)
        val (off, nbr) = driverCsr(g, dedup = false)
        val rows = (0 until math.min(nSources, g.n)).flatMap { s =>
          val lvl = csrLevels(off, nbr, s, maxDepth)
          lvl.indices.collect { case i if lvl(i) >= 0 =>
            Row(g.ids(s), g.ids(i), lvl(i)) }
        }
        localDf(pairs.sparkSession, StructType(Seq(
            StructField("src", LongType), StructField("node", LongType),
            StructField("lvl", IntegerType, nullable = false))), rows)
      case None =>
        val e = orientedAdjacency(pairs.filter(nonNull(uCol, vCol)), uCol, vCol)
          .localCheckpoint()
        withoutAqe(e.sparkSession) {
          // every node appears as a source in the oriented frame; the
          // distinct rides the __s partitioning (exchange-free), and the
          // nSources seed ids collect to the driver (index-sized, like
          // [[pathCountsLoop]]'s), so the seed count is known up front
          val seedIds = e.select(col("__s")).distinct()
            .orderBy(col("__s")).limit(nSources).collect().map(_.get(0))
          val idType = e.schema("__s").dataType
          val seeds = localDf(e.sparkSession, StructType(Seq(
              StructField("src", idType), StructField("__n", idType),
              StructField("__lvl", IntegerType, nullable = false))),
            seedIds.map(v => Row(v, v, 0)).toSeq)
          bfsLoop(e, seeds, seedIds.length, Seq("src"), maxDepth)
        }
    }
  }

  /** SHORTEST-PATH COUNTS from the `nSources` smallest node ids — the
    * integer FORWARD pass of Brandes' betweenness algorithm (Brandes
    * 2001): (src, node, lvl, paths) with lvl = min hop count ≤
    * `maxDepth` and paths = σ(src, node), the number of distinct
    * shortest paths, which on the level-DAG folds as
    * σ(n) = Σ_{pred p: lvl(p)=lvl(n)−1} σ(p). All-integer (BIGINT) —
    * bit-identical cross-engine; the DuckDB twin replays the identical
    * level-synchronous fold as chained CTEs.
    *
    * FRONTIER-DELTA rounds (r14 verdict — a sum-fold merges like a
    * min-fold): only the frontier's contributions travel. The pre-r15
    * shape unioned the FULL (src, node) state with the candidate stream
    * and re-aggregated everything each round; here the round's
    * candidates pre-aggregate per (src, node) — a frontier-neighborhood
    * -sized exchange that rides the target-partitioned edge frame's
    * alias (__n = __t) exchange-free, exactly [[minLabelDeltaRound]]'s
    * candidate fold — then ANTI-merge against the visited keys: a
    * candidate hitting an existing key is dropped (BFS discovers at the
    * min level — the old conditional-sum's "keep existing" arm), the
    * survivors are the round's discoveries at level i with σ = the
    * pre-aggregated sum (the "sum the frontier" arm), and state only
    * ever UNIONS them in — it is never re-aggregated. Same loop
    * mechanics otherwise (persist-marked rounds, AQE off, one
    * straight-line action).
    *
    * The frontier (the round's newly discovered (src, node, σ) rows —
    * bounded by nSources × |V|, a few MB at any realistic nSources)
    * BROADCASTS into the TARGET-partitioned edge frame, so the
    * candidate fold's groupBy rides the alias partitioning (__n = __t,
    * partitioning ⊆ grouping) — the candidate stream, the one
    * intermediate that dwarfs the state (Σ frontier degrees), never
    * exchanges at all. Unlike the min-folds, σ SUMS over edges, so a
    * duplicate pair would be a parallel path and double the count: both
    * paths read the SIMPLE graph the input implies (a pair repeated in
    * either orientation is one edge, the [[trussPeel]] contract). The
    * twin dedups ON the oriented target-partitioned frame — the distinct
    * rides HashPartitioning(__t) ⊆ {__s, __t} (exchange-free), so a raw
    * pair stream costs one full exchange, not a caller-side repartition
    * + distinct on top. */
  def pathCounts(pairs: DataFrame, uCol: String, vCol: String,
                 nSources: Int, maxDepth: Int): DataFrame = {
    require(nSources >= 1, s"nSources must be >= 1, got $nSources")
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    // visited state is ~ nSources x the node frame — scale the proxy
    collectEdges(pairs, uCol, vCol, factor = nSources) match {
      case Some(g) =>
        // the level-synchronous σ-fold over one CSR (12 → 2 jobs at sf0.1)
        // of the simple graph
        val (off, nbr) = driverCsr(g, dedup = true)
        val out = (0 until math.min(nSources, g.n)).flatMap { s =>
          val (frontiers, sig) = csrSigma(off, nbr, s, maxDepth)
          frontiers.indices.flatMap(d =>
            frontiers(d).map(t => Row(g.ids(s), g.ids(t), d, sig(t))))
        }
        localDf(pairs.sparkSession, StructType(Seq(
            StructField("src", LongType), StructField("node", LongType),
            StructField("lvl", IntegerType, nullable = false),
            StructField("paths", LongType, nullable = false))), out.toSeq)
      case None =>
        val e = checkpointPartitioned(orientedAdjacency(
          pairs.filter(nonNull(uCol, vCol)), uCol, vCol,
          partitionByTarget = true).distinct())
        try withoutAqe(e.sparkSession) {
          val state = pathCountsLoop(e, nSources, maxDepth)
          state.select(col("__src").as("src"), col("__n").as("node"),
            col("__lvl").as("lvl"), col("__sig").as("paths"))
        } finally Dedup.freeCheckpoints(e)
    }
  }

  /** The forward Brandes loop over a PREPARED oriented, __t-partitioned,
    * checkpointed edge frame — pathCounts' body, shared with
    * [[betweennessSampled]] (whose backward pass needs the same edge
    * frame again, so it must outlive the loop). AQE must already be off.
    * Returns the final (__src, __n, __lvl, __sig) state as one coalesced
    * checkpoint; every per-round intermediate is freed before returning,
    * the result's blocks belong to the caller. */
  private def pathCountsLoop(e: DataFrame, nSources: Int,
                             maxDepth: Int): DataFrame = {
    val sess = e.sparkSession
    // every node appears on the __t side of the oriented frame and the
    // edges are __t-partitioned, so the seed distinct is exchange-free.
    // The nSources seed ids COLLECT to the driver (index-sized by
    // contract — a handful of probe sources, the same bounded trade
    // Similarity.kmeansAssignInt8 makes for its seed ids): the seed
    // state becomes a LocalRelation, so round 1's broadcast build is
    // driver-local (no cluster job) and no seed-state checkpoint job runs.
    val seedIds = e.select(col("__t").as("__s")).distinct()
      .orderBy(col("__s")).limit(nSources).collect().map(_.get(0))
    val tType = e.schema("__t").dataType
    // EAGER localCheckpoint per round (not lazy persist): each round's
    // plan references the previous round TWICE (push side + visited
    // side), and concurrent first-readers of an uncached InMemoryRelation
    // each compute it — the recompute cascades through the round chain
    // (measured 3× CPU). Checkpoint blocks are computed exactly once, in
    // round order.
    val spent = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var state = localDf(sess, StructType(Seq(
        StructField("__src", tType), StructField("__n", tType),
        StructField("__lvl", IntegerType, nullable = false),
        StructField("__sig", LongType, nullable = false))),
      seedIds.map(v => Row(v, v, 0, 1L)).toSeq)
    // the frontier is the rows DISCOVERED last round (all new at seed)
    var frontier = state
    var i = 1
    while (i <= maxDepth) {
      val newRows = pathCountsRound(e, state, frontier).ckpt()
      spent += newRows
      frontier = newRows
      state = state.unionByName(newRows)
      i += 1
    }
    // coalesce the union-of-rounds (1 + rounds × par cached parts)
    // back to par partitions — no exchange, just fewer tiny tasks for
    // the result checkpoint and its consumers
    val out = state
      .coalesce(sess.sparkContext.defaultParallelism)
      .ckpt()
    Dedup.freeCheckpoints(spent.toSeq: _*)
    out
  }

  /** One forward Brandes round of [[pathCountsLoop]]: the (src, node,
    * lvl, σ) rows first discovered this round.
    * Candidate fold: the frontier broadcasts into the __t-partitioned
    * edges (map-only push) and the (src, node) σ-sum rides the alias
    * partitioning — zero exchange for the round's dominant stream.
    * min(__lvl) is exact: every frontier row carries the same level. The
    * level is carried as a COLUMN (lvl + 1), not a lit(i) literal: a
    * baked-in literal makes each round's generated code a distinct class,
    * so every round would run JIT-cold. Delta merge: a shuffled-hash ANTI
    * against the visited keys drops candidates hitting an existing
    * (src, node) (their level is smaller by BFS); the survivors ARE the
    * round's discoveries, σ already summed, and state only ever UNIONS
    * them in — it is never re-aggregated. */
  private def pathCountsRound(e: DataFrame, state: DataFrame,
                              frontier: DataFrame): DataFrame = {
    val d = frontier.select(col("__src"), col("__n").as("__s"),
      col("__sig"), col("__lvl"))
    e.join(broadcast(d), Seq("__s"))
      .select(col("__src"), col("__t").as("__n"), col("__sig"), col("__lvl"))
      .groupBy(col("__src"), col("__n"))
      .agg(sum(col("__sig")).as("__c"), (min(col("__lvl")) + 1).as("__nl"))
      .join(state.select(col("__src"), col("__n")).hint("shuffle_hash"),
        Seq("__src", "__n"), "left_anti")
      .select(col("__src"), col("__n"), col("__nl").as("__lvl"),
        col("__c").as("__sig"))
  }

  /** Sampled BETWEENNESS centrality — the full Brandes round over the
    * bounded-depth level DAG from the `nSources` smallest nodes: the
    * forward pass ([[pathCountsLoop]] — levels + path counts σ), then
    * the backward dependency accumulation δ(v) = Σ_{w ∈ succ(v)}
    * σ(v)/σ(w) · (1 + δ(w)) walked level-DESCENDING. All-integer via
    * the ×2^scaleBits fixed-point div trick (the harmonic/PageRank
    * recipe): per node c(v) = (SCALE + δ(v)) div σ(v), so a successor's
    * whole contribution broadcasts as ONE bigint and
    * δ(v) = σ(v) · Σ c(w) — sums of integers are fold-order-free, and
    * the DuckDB twin replays the identical floor-division recurrence as
    * chained MATERIALIZED CTEs, making the key hash-exact cross-engine.
    *
    * Loop shape matches the forward pass: the level frame (node-sized)
    * BROADCASTS into the SAME __t-partitioned edge frame — the edge
    * frame is symmetric, so reading (__t as predecessor, __s as
    * successor) makes the per-(src, pred) sum ride the alias
    * partitioning exchange-free; the δ attach joins the aggregated
    * (node-sized) F frame back to the level's state rows. One exchange
    * of the pair stream total, reused by BOTH passes. Output: (node,
    * betweenness) over every node reached at level ≥ 1 — deepest-level
    * nodes carry δ = 0, sources appear only where another source's
    * tree reaches them. Like [[pathCounts]], both paths read the simple
    * graph the input implies. */
  def betweennessSampled(pairs: DataFrame, uCol: String, vCol: String,
                         nSources: Int, maxDepth: Int,
                         scaleBits: Int = 20): DataFrame = {
    require(nSources >= 1, s"nSources must be >= 1, got $nSources")
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    require(scaleBits >= 1 && scaleBits <= 40,
      s"scaleBits must be in [1, 40], got $scaleBits")
    val scale = 1L << scaleBits
    // per-level state is ~ nSources x the node frame — scale the proxy
    collectEdges(pairs, uCol, vCol, factor = nSources) match {
      case Some(g) =>
        // both Brandes passes over one CSR, replicating the twin's ladder
        // exactly: deepest level c = SCALE div σ; F(v) = Σ c(w) pushed from
        // every level-(l+1) node w along its incident edges; δ = σ·F
        // accumulated per NODE across sources;
        // c = (SCALE + δ) div σ. Only nodes discovered at levels
        // 1..maxDepth emit (seeds do not), like the twin's level union.
        val (off, nbr) = driverCsr(g, dedup = true)
        val accF = new Array[Long](g.n)
        val cArr = new Array[Long](g.n)
        val deltaAcc = new Array[Long](g.n)
        val emits = new Array[Boolean](g.n)
        (0 until math.min(nSources, g.n)).foreach { s =>
          val (frontiers, sig) = csrSigma(off, nbr, s, maxDepth)
          (1 to maxDepth).foreach(d => frontiers(d).foreach(emits(_) = true))
          frontiers(maxDepth).foreach(t => cArr(t) = scale / sig(t))
          var l = maxDepth - 1
          while (l >= 1) {
            frontiers(l + 1).foreach { w0 =>
              var j = off(w0)
              while (j < off(w0 + 1)) { accF(nbr(j)) += cArr(w0); j += 1 }
            }
            frontiers(l).foreach { v =>
              val delta = sig(v) * accF(v)
              deltaAcc(v) += delta
              cArr(v) = (scale + delta) / sig(v)
            }
            frontiers(l + 1).foreach { w0 =>
              var j = off(w0)
              while (j < off(w0 + 1)) { accF(nbr(j)) = 0L; j += 1 }
            }
            l -= 1
          }
        }
        localDf(pairs.sparkSession, StructType(Seq(
            StructField("node", LongType),
            StructField("betweenness", LongType, nullable = false))),
          emits.indices.collect { case i if emits(i) => Row(g.ids(i), deltaAcc(i)) })
      case None =>
        val e = checkpointPartitioned(orientedAdjacency(
          pairs.filter(nonNull(uCol, vCol)), uCol, vCol,
          partitionByTarget = true).distinct())
        // declared outside the try so a throwing loop body can't leak the
        // per-level checkpoint blocks (freed in the finally; freeing an
        // already-freed or never-materialized frame is a no-op)
        val spent = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        try withoutAqe(e.sparkSession) {
          val state = pathCountsLoop(e, nSources, maxDepth)
          spent += state
          // deepest level: no successors within the bound, δ = 0 by the
          // bounded-metric definition, c = SCALE div σ
          var cur = state.filter(col("__lvl") === maxDepth)
            .select(col("__src"), col("__n"), lit(0L).as("__delta"),
              expr(s"$scale div __sig").as("__c"))
            .ckpt()
          spent += cur
          val levels = scala.collection.mutable.ArrayBuffer(cur)
          var l = maxDepth - 1
          while (l >= 1) {
            // F(v) = Σ c(w) over successors w at level l+1: push cur's c
            // along the symmetric edge frame read in REVERSE (__s = w,
            // __t = v) so the (src, v) sum rides HashPartitioning(__t);
            // the shuffled-hash inner attach to the level-l state slice both
            // enforces lvl(v) = lvl(w) − 1 (the DAG) and brings σ(v) for the
            // δ = σ·F multiply.
            val d = cur.select(col("__src"), col("__n").as("__s"), col("__c"))
            val f = e.join(broadcast(d), Seq("__s"))
              .select(col("__src"), col("__t").as("__n"), col("__c"))
              .groupBy(col("__src"), col("__n"))
              .agg(sum(col("__c")).as("__f"))
            cur = state.filter(col("__lvl") === l)
              .join(f.hint("shuffle_hash"), Seq("__src", "__n"), "left")
              .select(col("__src"), col("__n"),
                (col("__sig") * coalesce(col("__f"), lit(0L))).as("__delta"),
                col("__sig"))
              .select(col("__src"), col("__n"), col("__delta"),
                expr(s"($scale + __delta) div __sig").as("__c"))
              .ckpt()
            spent += cur
            levels += cur
            l -= 1
          }
          val out = levels.map(_.select(col("__n"), col("__delta")))
            .reduce(_ unionByName _)
            .groupBy(col("__n"))
            .agg(sum(col("__delta")).as("betweenness"))
            .select(col("__n").as("node"), col("betweenness"))
            .ckpt()
          out
        } finally {
          Dedup.freeCheckpoints(spent.toSeq: _*)
          Dedup.freeCheckpoints(e)
        }
    }
  }

  /** Bounded-round single-source shortest paths (Bellman-Ford) over an
    * undirected WEIGHTED pair list (`wCol` integer weights ≥ 0): after
    * `rounds` relaxations, (node, dist) = the min-weight path cost from
    * the graph's minimum node id using ≤ `rounds` hops; nodes not
    * reached in `rounds` hops are absent. The twin iterates
    * [[ssspRound]] (AQE off, one eager checkpoint per round) with the
    * min-fold over dist + weight instead of hop counts — all-integer,
    * bit-identical cross-engine (the DuckDB twin replays the identical
    * chained relaxations). Both orientations expand in-row with the
    * weight riding along. */
  def ssspBounded(wedges: DataFrame, uCol: String, vCol: String,
                  wCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    collectEdges(wedges, uCol, vCol, Some(wCol)) match {
      case Some(g) =>
        // synchronous relaxations over the edge arrays from the minimum id
        // (index 0): a round relaxes the edges of nodes whose distance
        // improved last round, both orientations — the twin's delta rounds
        val dist = Array.fill(g.n)(Long.MaxValue)
        val delta = new Array[Boolean](g.n)
        if (g.n > 0) { dist(0) = 0L; delta(0) = true }
        var live = g.n > 0
        var r = 0
        while (r < rounds && live) {
          val cand = Array.fill(g.n)(Long.MaxValue)
          var i = 0
          while (i < g.m) {
            val (u, v, w) = (g.iu(i), g.iv(i), g.w(i))
            if (delta(u)) cand(v) = math.min(cand(v), dist(u) + w)
            if (delta(v)) cand(u) = math.min(cand(u), dist(v) + w)
            i += 1
          }
          live = false
          i = 0
          while (i < g.n) {
            delta(i) = cand(i) < dist(i)
            if (delta(i)) { dist(i) = cand(i); live = true }
            i += 1
          }
          r += 1
        }
        localDf(wedges.sparkSession, StructType(Seq(
            StructField("node", LongType),
            StructField("dist", LongType, nullable = false))),
          dist.indices.collect { case i if dist(i) < Long.MaxValue =>
            Row(g.ids(i), dist(i)) })
      case None =>
        // both orientations in-row, source-partitioned so each round's
        // shuffled delta join is co-located
        val par = wedges.sparkSession.sparkContext.defaultParallelism
        val e = ssspEdges(wedges.filter(nonNull(uCol, vCol, wCol)), uCol, vCol, wCol)
          .repartition(par, col("__s"))
          .ckpt()
        val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        try withoutAqe(e.sparkSession) {
          // the source seed stays LAZY (min over the checkpointed blocks,
          // filtered empty on a null min — no rows on an empty graph), so
          // the whole loop including seeding is ONE action with no
          // separate driver probe
          var dist = e.agg(min(col("__s")).as("__n"))
            .filter(col("__n").isNotNull)
            .select(col("__n"), lit(0L).as("__d"))
          var delta = dist
          var r = 0
          while (r < rounds) {
            // EAGER checkpoint per round, not lazy persist: each round's
            // build side re-walked the LAZY persisted chain before it was
            // cached (53 completed stages for a 4-round loop); eager rounds
            // compute each frame exactly once, in round order (3.3 → 2.4 s)
            val merged = ssspRound(e, dist, delta).ckpt()
            cached += merged
            dist = merged.select(col("__n"), col("__d2").as("__d"))
            delta = merged.filter(col("__chg"))
              .select(col("__n"), col("__d2").as("__d"))
            r += 1
          }
          dist.select(col("__n").as("node"), col("__d").as("dist"))
            .ckpt()
        } finally {
          Dedup.freeCheckpoints(cached.toSeq: _*)
          Dedup.freeCheckpoints(e)
        }
    }
  }

  /** Both orientations of a weighted pair list as (__s, __t, __w BIGINT). */
  private def ssspEdges(wedges: DataFrame, uCol: String, vCol: String,
                        wCol: String): DataFrame =
    wedges.select(explode(array(
        struct(col(uCol).as("__s"), col(vCol).as("__t"), col(wCol).as("__w")),
        struct(col(vCol).as("__s"), col(uCol).as("__t"), col(wCol).as("__w"))))
        .as("__e"))
      .select(col("__e.__s").as("__s"), col("__e.__t").as("__t"),
        col("__e.__w").cast("bigint").as("__w"))

  /** One FRONTIER-DELTA Bellman-Ford relaxation of [[ssspBounded]]'s
    * twin: only nodes whose distance
    * IMPROVED last round (`delta`) relax their neighbors — an unimproved
    * node's relaxation replays the round it last improved, already folded
    * into every neighbor's min. The delta shuffles to the
    * __s-partitioned edges, the candidate fold shuffles the
    * delta-neighborhood stream, and the full-outer merge sees both sides
    * __n-partitioned (candidates may REACH nodes dist has never seen;
    * least() skips NULLs, so the merged distance is total). Returns
    * (__n, __d2, __chg). */
  private def ssspRound(e: DataFrame, dist: DataFrame,
                        delta: DataFrame): DataFrame = {
    val cand = e.join(delta.select(col("__n").as("__s"), col("__d"))
        .hint("shuffle_hash"), Seq("__s"))
      .select(col("__t").as("__n"), (col("__d") + col("__w")).as("__d"))
      .groupBy(col("__n")).agg(min(col("__d")).as("__c"))
    dist.join(cand.hint("shuffle_hash"), Seq("__n"), "full_outer")
      .select(col("__n"),
        least(col("__d"), col("__c")).as("__d2"),
        (col("__d").isNull ||
          (col("__c").isNotNull && col("__c") < col("__d"))).as("__chg"))
  }

  /** Per-edge TRIANGLE SUPPORT over a DISTINCT undirected edge list —
    * (u, v, support) with support = |N(u) ∩ N(v)| — via the same
    * degree-oriented edge-iterator as [[triangleCount]]: each triangle
    * is discovered exactly once at its oriented (s, t) edge, then its
    * THREE edges each collect one support count from the
    * triangle-corner stream (≈|△|·3 rows, never wedge-sized). The
    * support fold is edge-keyed and LEFT-joins back over the edge list
    * (support frame ≤ |E|). Support is what k-truss peels on and what
    * common-neighbor link prediction ranks by. */
  private[graft] def edgeSupport(edges: DataFrame, uCol: String, vCol: String): DataFrame = {
    val e = edges.select(col(uCol).as("u"), col(vCol).as("v"))
      .ckpt()
    val result = edgeSupportBody(e).ckpt()
    Dedup.freeCheckpoints(e)
    result
  }

  private def edgeSupportBody(e: DataFrame): DataFrame = {
    val tri = edgesWithAdjacency(e)
      .select(col("s"), col("t"),
        explode(org.apache.spark.sql.graft.SortedLongIntersect
          .of(col("__na"), col("__nb"))).as("w"))
    val sup = tri.select(explode(array(
        struct(least(col("s"), col("t")).as("u"),
          greatest(col("s"), col("t")).as("v")),
        struct(least(col("s"), col("w")).as("u"),
          greatest(col("s"), col("w")).as("v")),
        struct(least(col("t"), col("w")).as("u"),
          greatest(col("t"), col("w")).as("v")))).as("__te"))
      .select(col("__te.u").as("u"), col("__te.v").as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("__sup"))
    e.join(sup, Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        coalesce(col("__sup"), lit(0L)).cast("bigint").as("support"))
  }

  /** Both-orientation CSR adjacency over a tier's edges — the shared
    * substrate of the undirected driver tiers. `dedup` sort-dedupes the
    * DIRECTED entry stream (the operator contracts that treat duplicate
    * pairs as parallel edges pass false). Neighbors of index i are
    * nbr(off(i) until off(i + 1)). */
  private def driverCsr(g: Edges, dedup: Boolean): (Array[Int], Array[Int]) = {
    val src = g.iu ++ g.iv
    val dst = g.iv ++ g.iu
    if (!dedup) csr(g.n, src, dst)
    else {
      val keys = Array.tabulate(src.length)(i =>
        (src(i).toLong << 32) | dst(i))
      val m = sortDedup(keys)
      csr(g.n, Array.tabulate(m)(i => (keys(i) >>> 32).toInt),
        Array.tabulate(m)(i => keys(i).toInt))
    }
  }

  /** Directed CSR over index-space entries src(i) → dst(i) on n nodes:
    * (off, nbr), neighbors of a are nbr(off(a) until off(a + 1)). */
  private def csr(n: Int, src: Array[Int],
                  dst: Array[Int]): (Array[Int], Array[Int]) = {
    val off = new Array[Int](n + 1)
    src.foreach(a => off(a + 1) += 1)
    var a = 0
    while (a < n) { off(a + 1) += off(a); a += 1 }
    val fill = java.util.Arrays.copyOf(off, n)
    val nbr = new Array[Int](src.length)
    var i = 0
    while (i < src.length) {
      nbr(fill(src(i))) = dst(i); fill(src(i)) += 1; i += 1 }
    (off, nbr)
  }

  /** Hop levels ≤ `maxDepth` from index `src` over a CSR; −1 = unreached. */
  private def csrLevels(off: Array[Int], nbr: Array[Int], src: Int,
                        maxDepth: Int): Array[Int] = {
    val lvl = Array.fill(off.length - 1)(-1)
    lvl(src) = 0
    var frontier = Array(src)
    var d = 1
    while (d <= maxDepth && frontier.nonEmpty) {
      val next = Array.newBuilder[Int]
      frontier.foreach { s =>
        var j = off(s)
        while (j < off(s + 1)) {
          val t = nbr(j)
          if (lvl(t) < 0) { lvl(t) = d; next += t }
          j += 1
        }
      }
      frontier = next.result()
      d += 1
    }
    lvl
  }

  /** Brandes' forward pass from index `src` over a CSR: (frontiers, σ)
    * with frontiers(d) the nodes first reached at level d ≤ `maxDepth`
    * (empty past the last reached level; frontiers(0) is the source) and
    * σ(t) their shortest-path counts, σ(t) = Σ σ(p) over the level-(d−1)
    * entries p → t. */
  private def csrSigma(off: Array[Int], nbr: Array[Int], src: Int,
                       maxDepth: Int): (Array[Array[Int]], Array[Long]) = {
    val n = off.length - 1
    val sig = new Array[Long](n)
    val lvl = Array.fill(n)(-1)
    val acc = new Array[Long](n)
    val touched = new Array[Int](n)
    val frontiers = Array.fill(maxDepth + 1)(Array.emptyIntArray)
    sig(src) = 1L; lvl(src) = 0
    frontiers(0) = Array(src)
    var d = 1
    while (d <= maxDepth && frontiers(d - 1).nonEmpty) {
      var nt = 0
      frontiers(d - 1).foreach { s =>
        var j = off(s)
        while (j < off(s + 1)) {
          val t = nbr(j)
          // σ contributions are strictly positive, so acc == 0 marks the
          // first touch this level; lvl >= 0 marks an earlier discovery
          if (lvl(t) < 0) {
            if (acc(t) == 0L) { touched(nt) = t; nt += 1 }
            acc(t) += sig(s)
          }
          j += 1
        }
      }
      frontiers(d) = java.util.Arrays.copyOf(touched, nt)
      frontiers(d).foreach { t => sig(t) = acc(t); lvl(t) = d; acc(t) = 0L }
      d += 1
    }
    (frontiers, sig)
  }

  /** Union-find root of `x` with path compression. */
  private def findRoot(parent: Array[Int], x: Int): Int = {
    var r = x
    while (parent(r) != r) r = parent(r)
    var c = x
    while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
    r
  }

  /** Union by MIN root: every root stays its component's minimum index. */
  private def unionMin(parent: Array[Int], a: Int, b: Int): Unit = {
    val ra = findRoot(parent, a)
    val rb = findRoot(parent, b)
    if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
  }

  /** Minimal open-addressing long→long additive map for the driver-
    * resident graph folds (boxed `HashMap[Long, Long]` measured as the
    * wall floor once cluster jobs were gone — the path-counts lesson).
    * Linear probing, power-of-two capacity, grows at 60% load. */
  private final class LongAddMap(initCap: Int) {
    private var cap = java.lang.Integer.highestOneBit(
      math.max(16, initCap) * 2 - 1) << 1
    private var ks = new Array[Long](cap)
    private var vs = new Array[Long](cap)
    private var used = new Array[Boolean](cap)
    private var n = 0
    private def grow(): Unit = {
      val (oks, ovs, ou) = (ks, vs, used)
      cap <<= 1
      ks = new Array[Long](cap); vs = new Array[Long](cap)
      used = new Array[Boolean](cap); n = 0
      var i = 0
      while (i < oks.length) {
        if (ou(i)) addTo(oks(i), ovs(i))
        i += 1
      }
    }
    def addTo(k: Long, d: Long): Unit = {
      if (n * 5 >= cap * 3) grow()
      var i = (scala.util.hashing.byteswap64(k) & (cap - 1)).toInt
      while (used(i) && ks(i) != k) i = (i + 1) & (cap - 1)
      if (!used(i)) { used(i) = true; ks(i) = k; n += 1 }
      vs(i) += d
    }
    def size: Int = n
    def foreachEntry(f: (Long, Long) => Unit): Unit = {
      var i = 0
      while (i < cap) { if (used(i)) f(ks(i), vs(i)); i += 1 }
    }
  }

  /** Spark's `round(x, 6)` on DOUBLE, replicated for the driver-resident
    * tiers: NaN/±Inf pass through, otherwise
    * `BigDecimal.valueOf(x).setScale(6, HALF_UP)` — RoundBase's exact
    * arithmetic. Spec-pinned bit-equal to the SQL `round()` over random
    * and tie-adversarial inputs (GraphDriverTierSpec). */
  private[graft] def sparkRound6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Sort-dedup a long array IN PLACE; returns the distinct count n —
    * entries [0, n) hold the sorted distinct values afterwards. */
  private def sortDedup(a: Array[Long]): Int = {
    java.util.Arrays.parallelSort(a)
    var n = 0
    var i = 0
    while (i < a.length) {
      if (n == 0 || a(i) != a(n - 1)) { a(n) = a(i); n += 1 }
      i += 1
    }
    n
  }

  private def localDf(sess: SparkSession, schema: StructType,
                      rows: Seq[Row]): DataFrame =
    sess.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)

  /** (node, `name`) rows of a per-index driver-tier result. */
  private def nodeValueDf(sess: SparkSession, name: String, ids: Array[Long],
                          vals: Array[Long]): DataFrame =
    localDf(sess, StructType(Seq(StructField("node", LongType),
      StructField(name, LongType))), ids.indices.map(i => Row(ids(i), vals(i))))

  /** DRIVER-COLLECTED BASKET INDEX — the shared substrate of the r19
    * basket/co-occurrence driver tiers (guide §2.4 "remove shuffles
    * outright", §5 bounded driver state): one MAP-ONLY bounded collect of
    * the raw (group, item) stream replaces the distributed basket fold
    * (group-keyed exchange + set aggregate + pair explode) and everything
    * derived from it — distinct co-occurrence edges, pair supports, item
    * supports — with primitive packed-long sorts (the r18 boxed-collection
    * lesson applied from the start). Dedup of (group, item), grouping and
    * the pair expansion are each ONE `Arrays.parallelSort`.
    *
    * `entries` = sorted distinct (groupIdx << 32 | itemIdx); a group's
    * items form one contiguous run with ASCENDING item indices, and the
    * item dictionary is sorted, so index order ≡ id order everywhere. */
  private[graft] final class BasketIndex(
      val itemIds: Array[Long], val nItems: Int,
      val entries: Array[Long], val nEntries: Int) {
    /** In how many groups does each item appear (entries are distinct). */
    def itemSupports: Array[Long] = {
      val np = new Array[Long](nItems)
      var i = 0
      while (i < nEntries) { np((entries(i) & 0xffffffffL).toInt) += 1; i += 1 }
      np
    }
    /** Σ b·(b−1)/2 over the group runs — the exact pair-expansion size
      * (driver arithmetic, no job — the quadratic-work gate input). */
    def pairExpansionCount: Long = {
      var total = 0L
      var i = 0
      while (i < nEntries) {
        var j = i + 1
        while (j < nEntries && (entries(j) >>> 32) == (entries(i) >>> 32)) j += 1
        val b = (j - i).toLong
        total += b * (b - 1) / 2
        i = j
      }
      total
    }
    /** The per-group unordered item-pair stream in index space, globally
      * SORTED — one packed (loIdx << 32 | hiIdx) long per pair, repeated
      * across groups; run lengths after the sort ARE the co-occurrence
      * supports. Within a run item indices ascend, so lo < hi — the
      * [[itemPairs]] (u < v) convention carried into index space. */
    def expandPairs(): Array[Long] = {
      val total = pairExpansionCount
      require(total <= Int.MaxValue.toLong - 8,
        s"basket pair expansion $total exceeds one array")
      val keys = new Array[Long](total.toInt)
      var w = 0
      var i = 0
      while (i < nEntries) {
        var j = i + 1
        while (j < nEntries && (entries(j) >>> 32) == (entries(i) >>> 32)) j += 1
        var p = i
        while (p < j) {
          val hi = (entries(p) & 0xffffffffL) << 32
          var q = p + 1
          while (q < j) { keys(w) = hi | (entries(q) & 0xffffffffL); w += 1; q += 1 }
          p += 1
        }
        i = j
      }
      java.util.Arrays.parallelSort(keys)
      keys
    }
  }

  /** Build a [[BasketIndex]] from the raw (group, item) stream, or None
    * when the tier is declined. The COLLECT IS THE GATE: `limit(cap + 1)`
    * with cap = `graft.graph.broadcastLimitBytes` / 16 (two BIGINTs per
    * row), so an over-budget corpus terminates the scan early
    * (executeTake runs partitions in waves) and falls back to the
    * caller's distributed twin having moved at most the broadcast-class
    * byte budget once. A budget that holds no row (cap 0) declines
    * before any job runs. It also declines when the quadratic pair
    * expansion, at 8 bytes a pair, would exceed the same byte budget,
    * clamped to the one array [[BasketIndex.expandPairs]] can fill.
    * NULL semantics follow the twin's sorted sets: NULL items are
    * skipped; a NULL group declines, since
    * the twin keeps it as its own basket and the packed index cannot
    * tell it from group 0. Non-BIGINT id columns take the distributed
    * twin (the packed-index arithmetic is 64-bit). */
  private[graft] def collectBaskets(items: DataFrame, gCol: String,
                                    iCol: String): Option[BasketIndex] = {
    if (items.schema(gCol).dataType != LongType ||
        items.schema(iCol).dataType != LongType) return None
    val limit = broadcastLimitBytes(items.sparkSession)
    val cap = math.min(limit / 16, (Int.MaxValue - 8).toLong).toInt
    if (cap == 0) return None
    val raw = collectRows(items.select(col(gCol), col(iCol)).limit(cap + 1))
    if (raw.length > cap || raw.exists(_.isNullAt(0))) return None
    val rows = raw.filterNot(_.isNullAt(1))
    val grp = rows.map(_.getLong(0))
    val item = rows.map(_.getLong(1))
    val itemIds = denseIds(item)
    val gi = indexOf(denseIds(grp), grp)
    val ii = indexOf(itemIds, item)
    val entries = Array.tabulate(rows.length)(i => (gi(i).toLong << 32) | ii(i))
    val bi = new BasketIndex(itemIds, itemIds.length, entries, sortDedup(entries))
    val pairLimit = math.min(limit / 8, Int.MaxValue.toLong - 8)
    if (bi.pairExpansionCount > pairLimit) None else Some(bi)
  }

  /** Distinct co-occurrence edges + supports off the SORTED pair stream:
    * (eu, ev, sup) in item-index space — one run-length pass. */
  private def pairRuns(keys: Array[Long])
      : (Array[Int], Array[Int], Array[Long]) = {
    var runs = 0
    var i = 0
    while (i < keys.length) {
      var j = i + 1
      while (j < keys.length && keys(j) == keys(i)) j += 1
      runs += 1
      i = j
    }
    val eu = new Array[Int](runs)
    val ev = new Array[Int](runs)
    val sup = new Array[Long](runs)
    var w = 0
    i = 0
    while (i < keys.length) {
      var j = i + 1
      while (j < keys.length && keys(j) == keys(i)) j += 1
      eu(w) = (keys(i) >>> 32).toInt
      ev(w) = (keys(i) & 0xffffffffL).toInt
      sup(w) = (j - i).toLong
      w += 1
      i = j
    }
    (eu, ev, sup)
  }

  /** Bounded top-k selection threshold for the rounded-score rankings:
    * the k-th largest UNROUNDED score minus a margin covering the whole
    * round(·, 6) bucket — every row of the true top-k by
    * (round(x, 6) DESC, id tiebreaks) satisfies x ≥ kth − 1e−6 (rounding
    * is monotone: r(x) ≥ r(kth) ⟹ x ≥ r(x) − 5e−7 ≥ r(kth) − 5e−7 ≥
    * kth − 1e−6), so collecting candidates at kth − 2e−6 and applying the
    * exact BigDecimal rounding ONLY to them is exact while skipping the
    * per-row BigDecimal cost that made the r18 full-driver ranking
    * net-negative. Returns −∞ when fewer than k scores exist. */
  private final class TopKThreshold(k: Int) {
    private val heap = new java.util.PriorityQueue[java.lang.Double](k)
    def offer(x: Double): Unit =
      if (heap.size < k) heap.offer(x)
      else if (x > heap.peek()) { heap.poll(); heap.offer(x) }
    def cutoff: Double =
      if (heap.size < k) Double.NegativeInfinity else heap.peek() - 2e-6
  }

  /** Driver-side per-edge triangle support over int-indexed undirected
    * edges — the degree-oriented forward algorithm ([[edgeSupportBody]]'s
    * exact semantics in one memory pass): rank nodes by (degree, id),
    * orient every edge low→high rank, keep rank-sorted higher-rank
    * adjacency with a parallel edge-id array, and merge-intersect the two
    * lists of each oriented edge — every triangle is found exactly once
    * at its lowest-rank corner and pushes one support count to each of
    * its three edges. Primitive arrays throughout (packed rank<<32|eid
    * entries). Cost Σ(|A⁺(s)|+|A⁺(t)|) per pass, never wedge-sized. */
  private def driverEdgeSupport(eu: Array[Int], ev: Array[Int],
                                n: Int): Array[Long] = {
    val m = eu.length
    require(n.toLong < (1L << 31) && m.toLong < (1L << 31),
      s"driver support tier: $n nodes / $m edges")
    val deg = new Array[Int](n)
    var i = 0
    while (i < m) { deg(eu(i)) += 1; deg(ev(i)) += 1; i += 1 }
    // rank = position in the (deg, id) sort; key packs deg<<32 | id
    val keys = new Array[Long](n)
    i = 0
    while (i < n) { keys(i) = (deg(i).toLong << 32) | i.toLong; i += 1 }
    java.util.Arrays.sort(keys)
    val rank = new Array[Int](n)
    i = 0
    while (i < n) { rank((keys(i) & 0xffffffffL).toInt) = i; i += 1 }
    val odeg = new Array[Int](n)
    i = 0
    while (i < m) {
      val s = if (rank(eu(i)) < rank(ev(i))) eu(i) else ev(i)
      odeg(s) += 1; i += 1
    }
    val off = new Array[Int](n + 1)
    i = 0
    while (i < n) { off(i + 1) = off(i) + odeg(i); i += 1 }
    val fill = java.util.Arrays.copyOf(off, n)
    // adjacency entry: higher-rank neighbor's RANK << 32 | edge id
    val arr = new Array[Long](m)
    i = 0
    while (i < m) {
      val (s, t) = if (rank(eu(i)) < rank(ev(i))) (eu(i), ev(i))
        else (ev(i), eu(i))
      arr(fill(s)) = (rank(t).toLong << 32) | i.toLong
      fill(s) += 1; i += 1
    }
    i = 0
    while (i < n) {
      java.util.Arrays.sort(arr, off(i), off(i + 1)); i += 1 }
    // inverse rank permutation: node at a given rank
    val nodeAt = new Array[Int](n)
    i = 0
    while (i < n) { nodeAt(rank(i)) = i; i += 1 }
    // parallel over source-node stripes with thread-LOCAL accumulators
    // (support increments from different stripes hit shared edges, so a
    // single shared array would race; integer adds commute, so the
    // stripe-local arrays merge exactly). Single-threaded this pass was
    // the wall floor on the dense co-purchase graph (~150M merge steps).
    val threads = math.min(8, Runtime.getRuntime.availableProcessors)
    val locals = Array.fill(threads)(new Array[Long](m))
    val stripe = (n + threads - 1) / math.max(1, threads)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futs = (0 until threads).map { ti =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            val sup = locals(ti)
            var s0 = ti * stripe
            val stop = math.min(n, s0 + stripe)
            while (s0 < stop) {
              var j = off(s0)
              val endS = off(s0 + 1)
              while (j < endS) {
                val eid = (arr(j) & 0xffffffffL).toInt
                val t = nodeAt((arr(j) >>> 32).toInt)
                var p = off(s0); var q = off(t)
                val endT = off(t + 1)
                while (p < endS && q < endT) {
                  val rp = arr(p) >>> 32; val rq = arr(q) >>> 32
                  if (rp < rq) p += 1
                  else if (rq < rp) q += 1
                  else {
                    sup(eid) += 1
                    sup((arr(p) & 0xffffffffL).toInt) += 1
                    sup((arr(q) & 0xffffffffL).toInt) += 1
                    p += 1; q += 1
                  }
                }
                j += 1
              }
              s0 += 1
            }
          }
        })
      }
      futs.foreach(_.get())
    } finally pool.shutdown()
    val sup = locals(0)
    var ti = 1
    while (ti < threads) {
      val l = locals(ti)
      var i2 = 0
      while (i2 < m) { sup(i2) += l(i2); i2 += 1 }
      ti += 1
    }
    sup
  }

  /** ---- FromBaskets driver tiers (optimization r19) -------------------
    * Every co-occurrence-graph consumer used to DERIVE its edge frame
    * distributed (basket fold: group-keyed exchange + set aggregate +
    * pair explode + distinct/support aggregate + checkpoint) and — when
    * its own driver tier fired — then collect that frame anyway. These
    * entry points take the RAW (group, item) stream instead: past the
    * [[collectBaskets]] gate the edge/support derivation runs as packed
    * primitive sorts on the driver (zero exchanges, zero checkpoint
    * barriers, ONE bounded map-only collect); past the gate
    * [[basketEdges]] builds the distributed derivation and the edge-set
    * operator's distributed path takes over (spec-pinned twin equality
    * on random basket streams, the twin pinned by zero size limits).
    * Two paths per analytic. ----------------------------------------- */

  /** The distinct co-occurrence edges (u < v) of a raw basket stream —
    * every FromBaskets twin's input: the in-row [[itemPairs]] expansion,
    * then a u-keyed pin that fixes the byte-light pair stream's
    * parallelism (unpinned, AQE coalesces it to 1-2 tasks) AND makes the
    * distinct exchange-free — HashPartitioning(u) already clusters
    * (u, v). */
  private[graft] def basketEdges(items: DataFrame, gCol: String,
                                 iCol: String): DataFrame =
    itemPairs(items, gCol, iCol)
      .select(col("u"), col("v"))
      .repartition(items.sparkSession.sparkContext.defaultParallelism, col("u"))
      .distinct()

  /** [[triangleCount]] off the raw basket stream. */
  def triangleCountFromBaskets(items: DataFrame, gCol: String,
                               iCol: String): DataFrame =
    collectBaskets(items, gCol, iCol) match {
      case Some(bi) =>
        val (eu, ev, _) = pairRuns(bi.expandPairs())
        val nTri =
          if (eu.isEmpty) 0L else driverEdgeSupport(eu, ev, bi.nItems).sum / 3
        localDf(items.sparkSession,
          StructType(Seq(StructField("n_triangles", LongType, nullable = false))),
          Seq(Row(nTri)))
      case None => triangleCount(basketEdges(items, gCol, iCol), "u", "v")
    }

  /** [[clusteringCoefficients]] off the raw basket stream. Node triangle
    * counts fold from the per-edge supports: every triangle through n has
    * exactly two n-incident edges, so tri(n) = Σ_{e∋n} sup(e) / 2. */
  def clusteringFromBaskets(items: DataFrame, gCol: String,
                            iCol: String): DataFrame =
    collectBaskets(items, gCol, iCol) match {
      case Some(bi) =>
        val (eu, ev, _) = pairRuns(bi.expandPairs())
        val sup =
          if (eu.isEmpty) new Array[Long](0)
          else driverEdgeSupport(eu, ev, bi.nItems)
        val deg = new Array[Long](bi.nItems)
        val tri2 = new Array[Long](bi.nItems)
        var i = 0
        while (i < eu.length) {
          deg(eu(i)) += 1; deg(ev(i)) += 1
          tri2(eu(i)) += sup(i); tri2(ev(i)) += sup(i)
          i += 1
        }
        val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
        var n0 = 0
        while (n0 < bi.nItems) {
          val d = deg(n0)
          if (d >= 2) {
            val t = tri2(n0) / 2
            // the SQL tail's expression verbatim:
            // 2.0 * t / (CAST(d AS DOUBLE) * (CAST(d AS DOUBLE) - 1.0))
            val cc = sparkRound6((2.0 * t) / (d.toDouble * (d.toDouble - 1.0)))
            rows += Row(bi.itemIds(n0), t, d, cc)
          }
          n0 += 1
        }
        localDf(items.sparkSession, StructType(Seq(
          StructField("node", LongType, nullable = false),
          StructField("n_tri", LongType, nullable = false),
          StructField("degree", LongType, nullable = false),
          StructField("clustering", DoubleType, nullable = false))),
          rows.toSeq)
      case None =>
        clusteringCoefficients(basketEdges(items, gCol, iCol), "u", "v")
    }

  /** [[transitivitySummary]] off the raw basket stream. */
  def transitivityFromBaskets(items: DataFrame, gCol: String,
                              iCol: String): DataFrame =
    collectBaskets(items, gCol, iCol) match {
      case Some(bi) =>
        val (eu, ev, _) = pairRuns(bi.expandPairs())
        val sup =
          if (eu.isEmpty) new Array[Long](0)
          else driverEdgeSupport(eu, ev, bi.nItems)
        val deg = new Array[Long](bi.nItems)
        var i = 0
        while (i < eu.length) { deg(eu(i)) += 1; deg(ev(i)) += 1; i += 1 }
        var wedges = 0L
        var n0 = 0
        while (n0 < bi.nItems) { wedges += deg(n0) * (deg(n0) - 1) / 2; n0 += 1 }
        var tri = 0L
        i = 0
        while (i < sup.length) { tri += sup(i); i += 1 }
        tri /= 3
        val trans: Any =
          if (wedges == 0) null
          else sparkRound6((3.0 * tri.toDouble) / wedges.toDouble)
        localDf(items.sparkSession, StructType(Seq(
          StructField("n_wedges", LongType, nullable = false),
          StructField("n_triangles", LongType, nullable = false),
          StructField("transitivity", DoubleType, nullable = true))),
          Seq(Row(wedges, tri, trans)))
      case None =>
        transitivitySummary(basketEdges(items, gCol, iCol), "u", "v")
    }

  /** [[edgeJaccardTopK]] off the raw basket stream: per-edge support from
    * the striped [[driverEdgeSupport]] kernel, ranking via the
    * [[TopKThreshold]] bounded cut (exact BigDecimal rounding only on the
    * candidate set — the fix for the r18 net-negative full-driver
    * ranking). */
  def edgeJaccardTopKFromBaskets(items: DataFrame, gCol: String, iCol: String,
                                 k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    collectBaskets(items, gCol, iCol) match {
      case Some(bi) =>
        val (eu, ev, _) = pairRuns(bi.expandPairs())
        val schema = StructType(Seq(
          StructField("u", LongType, nullable = false),
          StructField("v", LongType, nullable = false),
          StructField("common", LongType, nullable = false),
          StructField("jaccard", DoubleType, nullable = false)))
        if (eu.isEmpty) return localDf(items.sparkSession, schema, Nil)
        val sup = driverEdgeSupport(eu, ev, bi.nItems)
        val deg = new Array[Long](bi.nItems)
        var i = 0
        while (i < eu.length) { deg(eu(i)) += 1; deg(ev(i)) += 1; i += 1 }
        // the distributed twin's expression verbatim: support /
        // (CAST(du AS DOUBLE) + CAST(dv AS DOUBLE) - CAST(support AS DOUBLE))
        def x(i: Int): Double = sup(i).toDouble /
          (deg(eu(i)).toDouble + deg(ev(i)).toDouble - sup(i).toDouble)
        val thr = new TopKThreshold(k)
        i = 0
        while (i < eu.length) { thr.offer(x(i)); i += 1 }
        val cut = thr.cutoff
        val cand = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Double)]
        i = 0
        while (i < eu.length) {
          val xi = x(i)
          if (xi >= cut)
            cand += ((bi.itemIds(eu(i)), bi.itemIds(ev(i)), sup(i),
              sparkRound6(xi)))
          i += 1
        }
        val top = cand.sortBy(t => (-t._4, t._1, t._2)).take(k)
        localDf(items.sparkSession, schema,
          top.map { case (u, v, c, j) => Row(u, v, c, j) }.toSeq)
      case None => edgeJaccardTopK(basketEdges(items, gCol, iCol), "u", "v", k)
    }
  }

  /** BIPARTITE PROJECTION with cosine link strength, top-K — the
    * r18 SparkEntry pipeline moved here and given the basket driver tier
    * (r18 verdict #1: the pair-aggregation exchange was the top honest
    * key). co = groups containing both items, n_i = groups containing i,
    * cosine = round(co / √(n_u·n_v), 6), ordered (cosine DESC, u, v),
    * top K. Driver tier: item supports + pair-run lengths off the packed
    * sorts, the [[TopKThreshold]] bounded cut, exact BigDecimal rounding
    * on candidates only. Distributed twin unchanged from r18 (in-row
    * [[itemPairs]] expansion, pair aggregate, two broadcast support
    * lookups, TakeOrderedAndProject). */
  def bipartiteProjectionTopK(items: DataFrame, gCol: String, iCol: String,
                              topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    collectBaskets(items, gCol, iCol) match {
      case Some(bi) =>
        val np = bi.itemSupports
        val keys = bi.expandPairs()
        // cosine = co / sqrt(CAST(n_u * n_v AS DOUBLE)) — the twin's
        // expression verbatim (long product, one IEEE sqrt + division)
        def cosineOf(co: Long, ui: Int, vi: Int): Double =
          co.toDouble / math.sqrt((np(ui) * np(vi)).toDouble)
        val thr = new TopKThreshold(topK)
        var i = 0
        while (i < keys.length) {
          var j = i + 1
          while (j < keys.length && keys(j) == keys(i)) j += 1
          thr.offer(cosineOf((j - i).toLong,
            (keys(i) >>> 32).toInt, (keys(i) & 0xffffffffL).toInt))
          i = j
        }
        val cut = thr.cutoff
        val cand = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Long, Long, Double)]
        i = 0
        while (i < keys.length) {
          var j = i + 1
          while (j < keys.length && keys(j) == keys(i)) j += 1
          val ui = (keys(i) >>> 32).toInt
          val vi = (keys(i) & 0xffffffffL).toInt
          val co = (j - i).toLong
          val x = cosineOf(co, ui, vi)
          if (x >= cut)
            cand += ((bi.itemIds(ui), bi.itemIds(vi), co, np(ui), np(vi),
              sparkRound6(x)))
          i = j
        }
        val top = cand.sortBy(t => (-t._6, t._1, t._2)).take(topK)
        localDf(items.sparkSession, StructType(Seq(
          StructField("u", LongType, nullable = false),
          StructField("v", LongType, nullable = false),
          StructField("co", LongType, nullable = false),
          StructField("n_u", LongType, nullable = false),
          StructField("n_v", LongType, nullable = false),
          StructField("cosine", DoubleType, nullable = false))),
          top.map { case (u, v, co, nu, nv, c) =>
            Row(u, v, co, nu, nv, c) }.toSeq)
      case None =>
        val cp = items.select(col(gCol).as("c"), col(iCol).as("p"))
        val co = itemPairs(cp, "c", "p")
          .groupBy(col("u"), col("v")).agg(count(lit(1)).as("co"))
        val n = cp.select(col("c"), col("p")).distinct()
          .groupBy(col("p")).agg(count(lit(1)).as("__n"))
        co
          .join(broadcast(n.select(col("p").as("u"), col("__n").as("n_u"))), "u")
          .join(broadcast(n.select(col("p").as("v"), col("__n").as("n_v"))), "v")
          .select(col("u"), col("v"), col("co"), col("n_u"), col("n_v"),
            round(col("co").cast("double") /
              sqrt((col("n_u") * col("n_v")).cast("double")), 6).as("cosine"))
          .orderBy(col("cosine").desc, col("u"), col("v"))
          .limit(topK)
    }
  }

  /** The driver truss peel of [[trussPeelFromBaskets]]: `rounds`
    * support passes over the
    * index-space edge list (eu, ev) on `nNodes` nodes, each keeping the
    * edges with support ≥ k − 2, then the (support, n_edges) histogram
    * of the survivors. */
  private def driverTrussPeel(sess: SparkSession, eu0: Array[Int],
                              ev0: Array[Int], nNodes: Int, k: Int,
                              rounds: Int): DataFrame = {
    var eu = eu0
    var ev = ev0
    var r0 = 0
    while (r0 < rounds) {
      val sup = driverEdgeSupport(eu, ev, nNodes)
      val keep = sup.indices.filter(i => sup(i) >= k - 2).toArray
      eu = keep.map(eu)
      ev = keep.map(ev)
      r0 += 1
    }
    val sup = driverEdgeSupport(eu, ev, nNodes)
    java.util.Arrays.sort(sup)
    val hist = scala.collection.mutable.ArrayBuffer.empty[Row]
    var i = 0
    while (i < sup.length) {
      var j = i + 1
      while (j < sup.length && sup(j) == sup(i)) j += 1
      hist += Row(sup(i), (j - i).toLong)
      i = j
    }
    localDf(sess, StructType(Seq(
      StructField("support", LongType, nullable = false),
      StructField("n_edges", LongType, nullable = false))), hist.toSeq)
  }

  /** [[trussPeel]] off the raw basket stream: all rounds+1 support
    * passes run on the striped kernel over the driver-derived edge list. */
  def trussPeelFromBaskets(items: DataFrame, gCol: String, iCol: String,
                           k: Int, rounds: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    collectBaskets(items, gCol, iCol) match {
      case Some(bi) =>
        val (eu, ev, _) = pairRuns(bi.expandPairs())
        driverTrussPeel(items.sparkSession, eu, ev, bi.nItems, k, rounds)
      case None => trussPeel(basketEdges(items, gCol, iCol), "u", "v", k, rounds)
    }
  }

  /** Bounded-round K-TRUSS peel: `rounds` rounds of "drop edges with
    * triangle support < k−2", then the support HISTOGRAM of the
    * surviving induced subgraph — (support, n_edges). The input is read
    * as the SIMPLE undirected graph it implies: self-loops are dropped
    * and a pair repeated in either orientation is one edge. The fixed
    * round count keeps the result a deterministic cross-engine twin (the
    * [[kcorePeel]] convention, over edges instead of nodes). Each round
    * re-runs [[edgeSupportBody]] on the survivors — rounds+1
    * edge-iterator passes with no wedge materialization anywhere. This
    * is the twin of [[trussPeelFromBaskets]], whose driver tier runs the
    * same passes as [[driverEdgeSupport]] folds; it has no driver tier
    * of its own. The oracle replays the identical rounds with the
    * wedge-pair-count formulation (portable SQL has no sorted-array
    * intersection). */
  def trussPeel(edges: DataFrame, uCol: String, vCol: String,
                k: Int, rounds: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var e = edges.filter(nonNull(uCol, vCol) && col(uCol) =!= col(vCol))
      .select(least(col(uCol), col(vCol)).as("u"),
        greatest(col(uCol), col(vCol)).as("v"))
      .distinct()
      .ckpt()
    val spent = scala.collection.mutable.ArrayBuffer(e)
    var r = 0
    while (r < rounds) {
      e = edgeSupportBody(e)
        .filter(col("support") >= k - 2)
        .select(col("u"), col("v"))
        .ckpt()
      spent += e
      r += 1
    }
    val result = edgeSupportBody(e)
      .groupBy(col("support")).agg(count(lit(1)).as("n_edges"))
      .ckpt()
    Dedup.freeCheckpoints(spent.toSeq: _*)
    result
  }

  /** Top-k edges by NEIGHBORHOOD JACCARD — (u, v, common, jaccard) with
    * common = |N(u) ∩ N(v)| (from [[edgeSupport]]'s triangle-corner
    * stream) and jaccard = common / (d(u) + d(v) − common), the
    * common-neighbors link-strength ranking. The division is ONE IEEE op
    * over exact integers (bit-identical cross-engine); ties order by
    * (u, v), so the top-k cut is deterministic. Degrees join in from the
    * node-sized degree table. */
  private[graft] def edgeJaccardTopK(edges: DataFrame, uCol: String, vCol: String,
                                     k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val e = edges.select(col(uCol).as("u"), col(vCol).as("v"))
      .ckpt()
    val deg = degreeTable(e)
    val result = edgeSupportBody(e)
      .join(deg.select(col("n").as("__un"), col("d").as("__du")),
        col("u") === col("__un"))
      .join(deg.select(col("n").as("__vn"), col("d").as("__dv")),
        col("v") === col("__vn"))
      .selectExpr("u", "v", "support AS common",
        "round(CAST(support AS DOUBLE) / (CAST(__du AS DOUBLE) " +
          "+ CAST(__dv AS DOUBLE) - CAST(support AS DOUBLE)), 6) AS jaccard")
      .orderBy(col("jaccard").desc, col("u"), col("v"))
      .limit(k)
      .ckpt()
    Dedup.freeCheckpoints(e)
    result
  }

  /** Global clustering summary — ONE row (n_wedges, n_triangles,
    * transitivity): n_wedges = Σ d(d−1)/2 (integer, off the node-sized
    * degree table), n_triangles from the [[triangleCount]] edge-iterator
    * (shared checkpointed edge frame — the pair build runs once), and
    * transitivity = 3·△/wedges as one IEEE division over the two exact
    * integers (NULL on a wedge-free graph, both engines). */
  private[graft] def transitivitySummary(edges: DataFrame, uCol: String,
                                         vCol: String): DataFrame = {
    val e = edges.select(col(uCol).as("u"), col(vCol).as("v"))
      .ckpt()
    val wedges = degreeTable(e).agg(
      coalesce(sum(expr("d * (d - 1) div 2")), lit(0L))
        .cast("bigint").as("n_wedges"))
    val result = wedges.crossJoin(triangleBody(e))
      .selectExpr("n_wedges", "n_triangles",
        "round(CASE WHEN n_wedges = 0 THEN NULL " +
          "ELSE CAST(3 AS DOUBLE) * CAST(n_triangles AS DOUBLE) " +
          "/ CAST(n_wedges AS DOUBLE) END, 6) AS transitivity")
      .ckpt()
    Dedup.freeCheckpoints(e)
    result
  }

  /** Degree table of a DISTINCT undirected edge list: (n, d) via the
    * in-row both-endpoint explode + one node-keyed aggregate. */
  private def degreeTable(e: DataFrame): DataFrame =
    e.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))

  /** Degree-oriented edge list (s, t, dt): each edge re-pointed from its
    * lower-(degree, id) endpoint, carrying the TARGET's degree for the
    * wedge ordering. The two degree lookups join the node-sized degree
    * table. */
  private def orientEdges(e: DataFrame): DataFrame = {
    val deg = degreeTable(e)
    val fwd = col("__da") < col("__db") ||
      (col("__da") === col("__db") && col("u") < col("v"))
    e.join(deg.select(col("n").as("__na"), col("d").as("__da")),
        col("u") === col("__na"))
      .join(deg.select(col("n").as("__nb"), col("d").as("__db")),
        col("v") === col("__nb"))
      .select(
        when(fwd, col("u")).otherwise(col("v")).as("s"),
        when(fwd, col("v")).otherwise(col("u")).as("t"),
        when(fwd, col("__db")).otherwise(col("__da")).as("dt"))
  }

  /** The edge-iterator probe frame: every oriented edge (s, t) decorated
    * with both endpoints' SORTED out-neighbor arrays —
    * (s, t, __na = N⁺(s), __nb = N⁺(t); __nb null when t has no
    * out-edges, which callers treat as the empty intersection). The
    * adjacency fold is one s-keyed exchange (explicit-count repartition:
    * the stream is byte-light, the AQE-coalesce shape) to a node-sized
    * frame that both lookups join. */
  private def edgesWithAdjacency(e: DataFrame): DataFrame = {
    val ore = orientEdges(e)
    val adj = ore
      .repartition(ore.sparkSession.sparkContext.defaultParallelism,
        col("s"))
      .groupBy(col("s"))
      // sorted-set native fold (primitive buffers, map-side combine) —
      // (s, t) is distinct by the caller contract, so set ≡ list here
      .agg(sortedSetOf(ore, "t").as("__adj"))
    ore.select(col("s"), col("t"))
      .join(adj.select(col("s").as("__js"), col("__adj").as("__na")),
        col("s") === col("__js"))
      .join(adj.select(col("s").as("__jt"), col("__adj").as("__nb")),
        col("t") === col("__jt"), "left")
      .select(col("s"), col("t"), col("__na"), col("__nb"))
  }

  /** BOUNDED-pass k-core peel over a DISTINCT undirected edge list:
    * `rounds` rounds of "drop nodes with degree < k, induce the
    * surviving subgraph", then the surviving per-node degrees —
    * (node, degree). Fixed round count keeps the result a deterministic
    * cross-engine twin at any scale (the streaming approximation of full
    * peeling; a production loop adds the convergence count exactly like
    * [[bfsLoop]]). The driver tier peels edge arrays; in the twin every
    * round's degree table is `persist`-marked, AQE is off for the fixed-shape chain, and
    * the whole peel is ONE straight-line action instead of one checkpoint
    * barrier per round (the r11 shape paid 4 driver round-trips for 1.8 s
    * of compute). The chained-CTE
    * SQL form re-inlines every round's subtree ~3× per level in Catalyst
    * (plan grows 3^rounds; measured 12.5 s wall on 1.8 s of compute at
    * sf0.1), which is why the engine side is this loop and only the
    * oracle keeps the unrolled SQL. */
  def kcorePeel(edges: DataFrame, uCol: String, vCol: String,
                k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    collectEdges(edges, uCol, vCol) match {
      case Some(g) =>
        // the whole bounded peel as a driver fold over one collect
        // (19 → 2 jobs at sf0.1): per round, keep the edges whose
        // endpoints both have degree ≥ k
        val eu = g.iu.clone()
        val ev = g.iv.clone()
        var m = g.m
        val deg = new Array[Long](g.n)
        def degrees(): Unit = {
          java.util.Arrays.fill(deg, 0L)
          var i = 0
          while (i < m) { deg(eu(i)) += 1; deg(ev(i)) += 1; i += 1 }
        }
        var r0 = 0
        while (r0 < rounds && m > 0) {
          degrees()
          var w = 0
          var i = 0
          while (i < m) {
            if (deg(eu(i)) >= k && deg(ev(i)) >= k) {
              eu(w) = eu(i); ev(w) = ev(i); w += 1 }
            i += 1
          }
          m = w
          r0 += 1
        }
        degrees()
        localDf(edges.sparkSession, StructType(Seq(
            StructField("node", LongType, nullable = false),
            StructField("degree", LongType, nullable = false))),
          deg.indices.collect { case i if deg(i) > 0 => Row(g.ids(i), deg(i)) })
      case None =>
        // the twin peels on the DEGREE TABLE with a dead-node frontier instead
        // of re-inducing the edge frame every round: the edge frame is built
        // ONCE (both orientations, source-partitioned) and a dead endpoint
        // simply has no degree row, so the induced subgraph is implicit. Each
        // edge decrements its other endpoint exactly once (its dead endpoint
        // leaves deg the same round it pushes), edges between already-dead
        // nodes resolve to no surviving row, and a survivor orphaned to
        // degree 0 is dropped at the end exactly like the induced-subgraph
        // formulation drops nodes with no surviving edges.
        val e = orientedAdjacency(edges.filter(nonNull(uCol, vCol)), uCol, vCol)
          .ckpt()
        val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        try withoutAqe(e.sparkSession) {
          // persisted because every round reads it twice (frontier + survivors)
          var deg = kcoreDegrees(e).persist()
          cached += deg
          var r = 0
          while (r < rounds) {
            deg = kcoreRound(e, deg, k).persist()
            cached += deg
            r += 1
          }
          deg.filter(col("__d") > 0)
            .select(col("__n").as("node"), col("__d").as("degree"))
            .ckpt()
        } finally {
          cached.foreach(_.unpersist(blocking = false))
          Dedup.freeCheckpoints(e)
        }
    }
  }

  /** Full degrees (__n, __d) off the __s-partitioned oriented frame —
    * both orientations are present, so the source side counts every
    * incident edge; rides the partitioning, zero exchange. */
  private def kcoreDegrees(e: DataFrame): DataFrame =
    e.groupBy(col("__s")).agg(count(lit(1)).as("__d"))
      .select(col("__s").as("__n"), col("__d"))

  /** One twin peel round of [[kcorePeel]]:
    * newly-dead = degree rows < k (the frontier — shrinks fast);
    * loss = e ⋈ newly-dead (shuffled hash) folded by target;
    * deg' = survivors ⋈ loss (shuffled hash, both sides
    * __n-partitioned), d − lost. */
  private def kcoreRound(e: DataFrame, deg: DataFrame, k: Int): DataFrame = {
    val dead = deg.filter(col("__d") < k).select(col("__n").as("__s"))
    val loss = e.join(dead.hint("shuffle_hash"), Seq("__s"))
      .groupBy(col("__t")).agg(count(lit(1)).as("__c"))
      .select(col("__t").as("__n"), col("__c"))
    deg.filter(col("__d") >= k)
      .join(loss.hint("shuffle_hash"), Seq("__n"), "left")
      .select(col("__n"),
        (col("__d") - coalesce(col("__c"), lit(0L))).as("__d"))
  }
}
