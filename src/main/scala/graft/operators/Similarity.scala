package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Embedding similarity search (SURVEY §2.11 X3) over an
 * `array<float>` column: for each query vector, its k nearest corpus
 * vectors.
 *
 * Every ranker is candidate generation followed by one shared exact
 * per-query ranking ([[rankPerQuery]]):
 *  - exact: [[bruteForceTopK]] (cosine), [[exactTopKFixed]] and
 *    [[hardNegatives]] (fixed-point L2) broadcast the (small) query set
 *    against the scanned corpus. No candidate is shuffled, which keeps
 *    this the right baseline even at 100 TB when |queries| is small.
 *  - bucketed: [[lshBucketTopK]] (sign-random-projection buckets),
 *    [[ivfTopK]] (k-means cells) and [[ivfPqTopK]] (coarse cells) join
 *    candidates to the buckets a query probes on an equi-join Catalyst
 *    can hash-partition — the scale path when queries are many.
 *  - compressed: [[pqTopK]] scores product-quantization codes by table
 *    lookups (ADC, [[Adc]]) without touching raw candidate vectors;
 *    [[pqTopKRefine]] re-ranks its shortlist exactly.
 *  - int8: [[quantizeInt8]] codes, k-means in code space
 *    ([[kmeansAssignInt8]], [[kmeansRound2Int8]]) and [[rankFusionRrf]],
 *    which fuses the cosine ranking with the int8 L2 one.
 *
 * Ranking contract: per query, pairs order by (score, neighbor_id) —
 * similarities descending, distances ascending — ranks run contiguously
 * from 1 to at most k, and no query matches itself. A pair with a NULL
 * score never ranks. Every scoring kernel (CosineSim, SqDistLong, the
 * ADC lookups) is NULL when a vector is NULL or the two lengths differ,
 * so such a vector neither appears as a neighbor nor emits rows as a
 * query. The NULL test sits above the window: below it, Catalyst would
 * inline the score into the join condition and run the kernel twice per
 * pair.
 *
 * Scores run on codegen'd native kernels or built-in array expressions
 * with a left-to-right fold, in double precision. No UDFs.
 */
object Similarity {

  /** Cosine similarity rounded to `scale` decimals: the rounding absorbs
    * fold-order float noise so ranks (and oracle hashes) are cross-engine
    * stable. Backed by the native codegen'd
    * [[org.apache.spark.sql.graft.CosineSim]] expression (single fused loop,
    * no intermediate arrays) — numerically identical to the HOF composition
    * `dot/(norm*norm)`, pinned by CosineSimSpec. */
  def cosine(a: Column, b: Column, scale: Int = 6): Column =
    round(org.apache.spark.sql.graft.CosineSim(a, b), scale)

  /** The per-query ranking every top-k here ends with (the contract in
    * the header): number each query's pairs of `scored` by (`score`,
    * neighbor_id), `score` descending when `desc`, and keep the non-NULL
    * scores ranked 1..k in a `rank` column. */
  private def rankPerQuery(scored: DataFrame, score: String, desc: Boolean,
                           k: Int): DataFrame = {
    val s = col(score)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(if (desc) s.desc_nulls_last else s.asc_nulls_last, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k && s.isNotNull)
  }

  /** Exact top-k neighbors for each query vector. Ties broken by candidate
    * id → fully deterministic output. */
  def bruteForceTopK(candidates: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    // the candidate scan does all the work (dot products against the
    // broadcast queries) — fan it out when row groups under-split it
    val c = Query.ensureParallelism(candidates)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    rankPerQuery(scored, "sim", desc = true, k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** Deterministic pseudo-random hyperplane component: a Knuth
    * multiplicative hash of (plane, dim) in INTEGER space, c(p,i) ∈
    * [−2^20, 2^20). No RNG — reproducible across runs, partitions, and
    * cluster sizes — and no floating point, so the sign projection below
    * is EXACT and any engine replays it bit-for-bit (the previous
    * xxhash64-based double components were equally deterministic inside
    * Spark but inexpressible in the DuckDB oracle, leaving both LSH
    * queries rows-only). Overflow-safe: (plane·1000003 + dim) ≤ ~10^7,
    * ×2654435761 < 2^55. */
  private def planeComponent(plane: Int, dim: Column): Column =
    pmod((lit(plane.toLong) * lit(1000003L) + dim) * lit(2654435761L),
      lit(1L << 21)) - lit(1L << 20)

  /** Sign-LSH bucket id: bit p = sign of dot(v, hyperplane_p), p < bits.
    * The dot product runs in fixed point — each float component is
    * quantized to floor(x·2^20 + 0.5) (×2^20 is a power of two, so the
    * double multiply is exact) and multiplied by the integer hyperplane
    * component — making the bucket bit a pure BIGINT computation: no
    * fold-order float noise can ever flip a near-zero projection's sign,
    * across partitions OR engines. Magnitude bound: |x| ≤ 2^11 keeps
    * |term| < 2^51 and a 4096-dim sum < 2^63. */
  def lshBucket(vec: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 64, s"bits must be in [1, 64], got $bits")
    (0 until bits).map { p =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => floor(x.cast("double") * lit(1048576d) + lit(0.5d))
            .cast("long") * planeComponent(p, i)),
        lit(0L), (acc, v) => acc + v)
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  }

  /** Approximate top-k: candidates restricted to the query's LSH bucket.
    * `bits` tunes the recall/speed trade (each bit ~halves the candidate
    * set). Exactness is recovered per-bucket (true cosine re-rank). */
  def lshBucketTopK(candidates: DataFrame, queries: DataFrame, k: Int, bits: Int = 8,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = Query.ensureParallelism(candidates)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        lshBucket(col(vecCol), bits).as("bucket"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      lshBucket(col(vecCol), bits).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    rankPerQuery(scored, "sim", desc = true, k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  // ── IVF (inverted-file) ANN — the second scale path besides sign-LSH ──

  /** Distributed spherical k-means training: assignment is a codegen'd
    * argmax of [[cosine]] against k constant centroids; the update step is
    * the [[graft.functions.CentroidFixed]] partial-merge aggregator — so
    * each iteration moves exactly k×dims values to the driver, never
    * vectors. Init = first k vectors in id order (deterministic, no RNG);
    * the fixed-point centroid sums make each update merge-ORDER-FREE, so
    * the trained index is bit-identical across runs, partitionings, AND
    * engines — the IVF oracle replays the whole training loop in SQL.
    * Empty buckets keep their previous centroid. NULL and short vectors
    * never seed and are never assigned ([[fullVectors]]). */
  def trainCentroids(vecs: DataFrame, k: Int, iters: Int = 3,
                     idCol: String = "vec_id", vecCol: String = "embedding"): Array[Seq[Float]] = {
    val full = fullVectors(vecs, vecCol, corpusDims(vecs, vecCol))
    var cents: Array[Seq[Float]] = full.orderBy(col(idCol)).limit(k)
      .select(col(vecCol)).collect().map(_.getSeq[Float](0))
    for (_ <- 1 to iters) {
      val updated = full
        .withColumn("b", nearestCentroid(col(vecCol), cents))
        .groupBy(col("b"))
        .agg(graft.functions.CentroidFixed.centroid(col(vecCol)).as("c"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
      cents = cents.indices.map(i => updated.getOrElse(i, cents(i))).toArray
    }
    cents
  }

  /** The rows of `vecs` whose vector may seed or be assigned: not NULL
    * and `dims` long — the rule the rankers follow, whose kernels are NULL
    * on a NULL vector or a length mismatch. */
  private def fullVectors(vecs: DataFrame, vecCol: String, dims: Int): DataFrame =
    vecs.filter(size(col(vecCol)) === dims)

  /** The corpus' vector length: its longest vector's (0 when empty). */
  private def corpusDims(vecs: DataFrame, vecCol: String): Int =
    Option(vecs.agg(max(size(col(vecCol)))).head.get(0)).fold(0)(_.asInstanceOf[Int])

  /** Index of the centroid with max cosine similarity (ties → lowest index,
    * deterministic). */
  def nearestCentroid(vec: Column, cents: Array[Seq[Float]]): Column = {
    val sims = array(cents.map(c => cosine(vec, lit(c.toArray), 9)): _*)
    (array_position(sims, array_max(sims)) - 1).cast("int")
  }

  /** The query side's probe list: indices of the `nprobe` most-similar
    * centroids (sorted by descending sim, then index). */
  def probeCentroids(vec: Column, cents: Array[Seq[Float]], nprobe: Int): Column = {
    val ranked = (0 until cents.length).map { i =>
      struct((-cosine(vec, lit(cents(i).toArray), 9)).as("negSim"), lit(i).as("idx"))
    }
    transform(slice(array_sort(array(ranked: _*)), 1, nprobe), s => s.getField("idx"))
  }

  /** IVF approximate top-k: candidates partitioned into centroid buckets
    * (the "inverted file"); each query probes only its `nprobe` nearest
    * buckets, then exact cosine re-ranks within them. Recall/speed tunes
    * with (k centroids, nprobe) — candidates scanned ≈ nprobe/k of the
    * corpus. The bucket join is a plain equi-join Catalyst shuffles on the
    * bucket id, so at 100 TB the inverted file lives partitioned on disk
    * and queries touch only their probed partitions. */
  def ivfTopK(candidates: DataFrame, queries: DataFrame, k: Int,
              cents: Array[Seq[Float]], nprobe: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = Query.ensureParallelism(candidates)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        nearestCentroid(col(vecCol), cents).as("bucket"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(probeCentroids(col(vecCol), cents, nprobe)).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    rankPerQuery(scored, "sim", desc = true, k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  // ── Product quantization (PQ) — the memory scale path beyond int8 ─────
  //
  // At 100 TB of float32 embeddings even int8 (4×) leaves an index that
  // cannot live in serving memory; PQ stores m sub-codes per vector
  // (m·log2(k) bits — 4 subspaces × 16 centroids = 2 BYTES for a 64-dim
  // vector, 128×) and scores queries against codes via per-query lookup
  // tables (ADC), never touching raw candidate vectors. Everything here is
  // INTEGER arithmetic on ×2^16 fixed-point components (a power of two, so
  // the double multiply is exact): k-means assignment, centroid updates
  // (floor(sum/n) — sums < 2^53 stay exact in doubles), code assignment,
  // and ADC distances are all BIGINT — merge-order-free, bit-identical
  // across runs, partitionings, AND engines, so the DuckDB oracle replays
  // the ENTIRE pipeline including training (the IVF recipe). Magnitude
  // bound: |x| ≤ 2^11 keeps a 64-dim squared distance < 2^63 (fixture
  // embeddings are unit-scale).

  private val PqScale = 65536d // 2^16

  /** Fixed-point BIGINT subvector `s` (dims [s·dsub, (s+1)·dsub)). */
  private def fpSub(vec: Column, s: Int, dsub: Int): Column =
    transform(slice(vec, s * dsub + 1, dsub),
      x => floor(x.cast("double") * lit(PqScale) + lit(0.5d)).cast("long"))

  /** Exact squared L2 between BIGINT arrays — the HOF EXPRESSION form.
    * Kept for the index-sized paths the DuckDB oracle replays structurally
    * ([[probeCoarse]]: |queries| rows) and as the bit-equality pin for the
    * native kernel (PqKernelsSpec). Hot per-pair paths use
    * [[org.apache.spark.sql.graft.SqDistLong]] — same numerics, fused
    * codegen loop instead of two interpreted lambdas per element. */
  private[graft] def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  /** Native per-pair squared L2 (codegen'd; bit-equal to [[sqDist]]). */
  private def sqDistFast(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.SqDistLong(a, b)

  /** 0-based index of the nearest centroid — the native codegen'd kernel
    * (k·dsub interpreted lambda dispatches per ROW under the HOF form made
    * the corpus encode the hot loop of every PQ key; PqKernelsSpec pins
    * bit-equality, ties included). */
  private def pqNearest(sv: Column, cents: Array[Array[Long]]): Column =
    org.apache.spark.sql.graft.PqArgmin(sv, cents)

  /** Train the m per-subspace codebooks: init = subvectors of the first k
    * vectors in id order (deterministic, no RNG), then `iters` rounds of
    * integer k-means — assignment is a codegen'd argmin against k constant
    * centroids, the update moves only m·k·dsub (sum, count) pairs to the
    * driver per round (bounded by INDEX size, like [[trainCentroids]] /
    * [[dimStats]], never by data size). Empty buckets keep their previous
    * centroid. NULL and short vectors never seed and are never assigned
    * ([[fullVectors]]). Result: cb(s)(j) = centroid j of subspace s. */
  def trainPqCodebooks(vecs: DataFrame, m: Int = 4, k: Int = 16, iters: Int = 2,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Array[Array[Array[Long]]] = {
    val dims = corpusDims(vecs, vecCol)
    val full = fullVectors(vecs, vecCol, dims)
    require(dims % m == 0, s"m=$m must divide dims=$dims")
    val dsub = dims / m
    val init = full.orderBy(col(idCol)).limit(k)
      .select(array((0 until m).map(s => fpSub(col(vecCol), s, dsub)): _*).as("subs"))
      .collect().map(_.getSeq[scala.collection.Seq[Long]](0))
    require(init.length == k, s"need at least $k vectors to init, got ${init.length}")
    var cb: Array[Array[Array[Long]]] =
      Array.tabulate(m, k)((s, j) => init(j)(s).toArray)
    for (_ <- 1 to iters) {
      val cbNow = cb
      val assignExpr = (0 until m).foldRight(lit(-1).cast("int")) { (s, acc) =>
        when(col("s") === s, pqNearest(col("sv"), cbNow(s))).otherwise(acc)
      }
      val sums = Query.ensureParallelism(full)
        .select(posexplode(array((0 until m).map(s =>
          fpSub(col(vecCol), s, dsub)): _*)).as(Seq("s", "sv")))
        .withColumn("j", assignExpr)
        .select(col("s"), col("j"), posexplode(col("sv")).as(Seq("d", "x")))
        .groupBy(col("s"), col("j"), col("d"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
        .collect() // ≤ m·k·dsub rows — index-sized, not data-sized
      val upd = sums.groupBy(r => (r.getInt(0), r.getInt(1))).map { case (sj, rows) =>
        // floor(sum/n) in doubles: |sum| < 2^53 ⇒ exact; identical to the
        // oracle's floor(CAST(sx AS DOUBLE)/n)
        sj -> rows.sortBy(_.getInt(2))
          .map(r => math.floor(r.getLong(3).toDouble / r.getLong(4)).toLong).toArray
      }
      cb = Array.tabulate(m, k)((s, j) => upd.getOrElse((s, j), cb(s)(j)))
    }
    cb
  }

  /** PQ encode: (id, sub, code) rows — the artifact a serving system stores
    * (m·log2(k) bits per vector). Shuffle-free map; codes hash-verify
    * cross-engine against the replayed-training oracle. */
  def pqCodes(vecs: DataFrame, cb: Array[Array[Array[Long]]],
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val m = cb.length
    val dsub = cb(0)(0).length
    Query.ensureParallelism(vecs)
      .select(col(idCol), posexplode(array((0 until m).map(s =>
        fpSub(col(vecCol), s, dsub)): _*)).as(Seq("sub", "sv")))
      .withColumn("code", (0 until m).foldRight(lit(-1).cast("int")) { (s, acc) =>
        when(col("sub") === s, pqNearest(col("sv"), cb(s))).otherwise(acc)
      })
      .select(col(idCol), col("sub"), col("code"))
  }

  /** The ADC (asymmetric distance computation) scorer [[pqTopK]] and
    * [[ivfPqTopK]] share: a candidate carries only its m PQ `codes`, a
    * query its m×k lookup table `lut` of exact fixed-point squared
    * distances to every sub-centroid, and a pair's distance is the sum of
    * its m table lookups. A NULL or short vector codes or tabulates to
    * NULL, and so does its distance. */
  private final class Adc(cb: Array[Array[Array[Long]]]) {
    private val m = cb.length
    private val dsub = cb(0)(0).length

    def codes(vec: Column): Column =
      array((0 until m).map(s => pqNearest(fpSub(vec, s, dsub), cb(s))): _*)

    def lut(vec: Column): Column =
      array((0 until m).map { s =>
        val sv = fpSub(vec, s, dsub)
        array(cb(s).map(cent => sqDist(sv, lit(cent))): _*)
      }: _*)

    def dist(lut: Column, codes: Column): Column =
      (0 until m).map(s =>
        element_at(element_at(lut, s + 1), element_at(codes, s + 1) + 1)).reduce(_ + _)
  }

  /** ADC top-k over the whole corpus ([[Adc]]): candidates encode in-row
    * (shuffle-free), each query builds its lookup table once (k·dims
    * integer ops), and the raw candidate vector is never touched at
    * scoring time, which is the entire point at 100 TB. Queries
    * broadcast. Ascending distance, ties by neighbor id. */
  def pqTopK(candidates: DataFrame, queries: DataFrame,
             cb: Array[Array[Array[Long]]], k: Int,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val adc = new Adc(cb)
    val c = Query.ensureParallelism(candidates)
      .select(col(idCol).as("neighbor_id"), adc.codes(col(vecCol)).as("codes"))
    val q = queries.select(col(idCol).as("query_id"), adc.lut(col(vecCol)).as("lut"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("dist", adc.dist(col("lut"), col("codes")))
    rankPerQuery(scored, "dist", desc = false, k)
      .select(col("query_id"), col("neighbor_id"), col("dist"), col("rank"))
  }

  /** PQ shortlist + EXACT re-rank — the refinement stage a production ANN
    * stack runs above ADC (ADC recall is floored by quantization error;
    * serving systems fetch raw vectors for only the top `shortlist` ADC
    * candidates per query and re-score those exactly). Physical shape: the
    * corpus is scanned codes-only through [[pqTopK]]; the shortlist
    * (|queries|·shortlist rows, id pairs only) broadcasts back against the
    * candidate scan, so the raw-vector fetch touches just the shortlisted
    * rows — at 100 TB the second scan prunes to a handful of row groups via
    * the broadcast join, and no raw vector ever rides a shuffle. Exact
    * distances are full-dimension ×2^16 fixed-point BIGINT squared L2
    * (associative integer sums — merge-order-free, engine-free), so the
    * DuckDB oracle replays training + ADC shortlist + the refine join
    * end-to-end. Ascending exact distance, ties by neighbor id. */
  def pqTopKRefine(candidates: DataFrame, queries: DataFrame,
                   cb: Array[Array[Array[Long]]], k: Int, shortlist: Int = 20,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dims = cb.length * cb(0)(0).length
    val short = pqTopK(candidates, queries, cb, shortlist, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    val c = candidates.select(col(idCol).as("neighbor_id"),
      fpSub(col(vecCol), 0, dims).as("cf"))
    val q = queries.select(col(idCol).as("query_id"),
      fpSub(col(vecCol), 0, dims).as("qf"))
    val exact = c.join(broadcast(short), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("dist", sqDistFast(col("qf"), col("cf")))
    rankPerQuery(exact, "dist", desc = false, k)
      .select(col("query_id"), col("neighbor_id"), col("dist"), col("rank"))
  }

  /** EXACT full-dimension fixed-point L2 top-k — [[pqTopKRefine]]'s
    * refine stage run over the WHOLE corpus (no shortlist): the ground
    * truth the PQ family's recall is tuned against, in the same metric
    * space the codes approximate. Integer ×2^16 fixed point — sums are
    * associative, so the ranking is merge-order-free and engine-free. */
  def exactTopKFixed(candidates: DataFrame, queries: DataFrame, dims: Int,
                     k: Int, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val c = Query.ensureParallelism(candidates)
      .select(col(idCol).as("neighbor_id"), fpSub(col(vecCol), 0, dims).as("cf"))
    val q = queries.select(col(idCol).as("query_id"),
      fpSub(col(vecCol), 0, dims).as("qf"))
    val exact = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("dist", sqDistFast(col("qf"), col("cf")))
    rankPerQuery(exact, "dist", desc = false, k)
      .select(col("query_id"), col("neighbor_id"), col("dist"), col("rank"))
  }

  /** MATRYOSHKA truncation-quality probe (MRL embeddings, Kusupati et al.
    * 2022): per query, |top-k by the first `prefixDims` dimensions ∩
    * top-k by all `fullDims`| — the retrieval-overlap curve that tells a
    * pipeline how many dimensions it can truncate to before the ranking
    * drifts (truncated vectors are the production storage/latency lever;
    * this is the metric that prices it). Both rankings are
    * [[exactTopKFixed]]'s integer fixed-point L2 with (dist, id)
    * tie-breaks, so the overlap is bit-deterministic cross-engine.
    * Queries with no overlap emit 0 (left join), every query emits. */
  def prefixDimOverlap(candidates: DataFrame, queries: DataFrame,
                       prefixDims: Int, fullDims: Int, k: Int): DataFrame = {
    require(prefixDims >= 1 && prefixDims <= fullDims,
      s"prefixDims must be in [1, $fullDims], got $prefixDims")
    val full = exactTopKFixed(candidates, queries, fullDims, k)
      .select(col("query_id"), col("neighbor_id"))
    val pre = exactTopKFixed(candidates, queries, prefixDims, k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = full.join(pre, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("__hits"))
    queries.select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("__hits"), lit(0L)).cast("bigint").as("n_overlap"),
        round(coalesce(col("__hits"), lit(0L)).cast("double") / lit(k.toDouble), 6)
          .as("overlap_frac"))
  }

  /** HARD-NEGATIVE MINING for contrastive training: per query, the k
    * nearest candidates whose `labelCol` DIFFERS from the query's — the
    * examples a similarity model most needs to push apart (same metric
    * space and tie-breaks as [[exactTopKFixed]]; the label gate rides the
    * broadcast join condition, so no extra pass). NULL-labeled rows drop
    * on either side (<> is NULL-propagating in both engines — a row with
    * unknown label is neither a positive nor a provable negative). At
    * scale this is the brute baseline; shortlist with the LSH/IVF/PQ
    * family first and re-rank exactly, as [[pqTopKRefine]] does. */
  def hardNegatives(candidates: DataFrame, queries: DataFrame, dims: Int,
                    k: Int, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val c = Query.ensureParallelism(candidates)
      .select(col(idCol).as("neighbor_id"), col(labelCol).as("neighbor_label"),
        fpSub(col(vecCol), 0, dims).as("cf"))
    val q = queries.select(col(idCol).as("query_id"), col(labelCol).as("__ql"),
      fpSub(col(vecCol), 0, dims).as("qf"))
    val scored = c.join(broadcast(q),
        col("query_id") =!= col("neighbor_id") &&
          col("neighbor_label") =!= col("__ql"))
      .withColumn("dist", sqDistFast(col("qf"), col("cf")))
    rankPerQuery(scored, "dist", desc = false, k)
      .select(col("query_id"), col("neighbor_id"), col("neighbor_label"),
        col("dist"), col("rank"))
  }

  /** Probe list for the IVF-PQ coarse quantizer: indices of the `nprobe`
    * nearest coarse centroids by ascending exact integer squared L2 (ties
    * → lowest index). `coarse` is a full-dim integer codebook — train it
    * with [[trainPqCodebooks]] at m=1 (the coarse quantizer IS a PQ with
    * one subspace). */
  private def probeCoarse(vec: Column, coarse: Array[Array[Long]], nprobe: Int): Column = {
    val fv = fpSub(vec, 0, coarse(0).length)
    val ranked = coarse.zipWithIndex.map { case (c, i) =>
      struct(sqDist(fv, lit(c)).as("d"), lit(i).as("idx"))
    }
    transform(slice(array_sort(array(ranked: _*)), 1, nprobe), s => s.getField("idx"))
  }

  /** IVF-PQ: the production ANN layout — the coarse quantizer partitions
    * candidates into an inverted file (each query probes its `nprobe`
    * nearest cells), and INSIDE the probed cells scoring is ADC over PQ
    * codes, so at no point does a candidate vector ride a join. The cell
    * join is a plain equi-join on the bucket id (at 100 TB the inverted
    * file lives partitioned on disk and a query touches only its probed
    * partitions), and per pair the work is m table lookups. Codes here are
    * GLOBAL PQ codes (per-cell residual encoding is the classic refinement;
    * it needs per-cell codebooks, which would blow the replayed-training
    * oracle up k-fold — the composition point is the same either way and
    * the global-code variant is a legitimate production layout when memory
    * dominates recall tuning). With `nprobe` = number of coarse cells this
    * degrades EXACTLY to [[pqTopK]] (spec-pinned). */
  def ivfPqTopK(candidates: DataFrame, queries: DataFrame,
                coarse: Array[Array[Long]], cb: Array[Array[Array[Long]]],
                k: Int, nprobe: Int = 2,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val adc = new Adc(cb)
    val c = Query.ensureParallelism(candidates)
      .select(col(idCol).as("neighbor_id"),
        pqNearest(fpSub(col(vecCol), 0, coarse(0).length), coarse).as("bucket"),
        adc.codes(col(vecCol)).as("codes"))
    val q = queries.select(col(idCol).as("query_id"),
      explode(probeCoarse(col(vecCol), coarse, nprobe)).as("bucket"),
      adc.lut(col(vecCol)).as("lut"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("dist", adc.dist(col("lut"), col("codes")))
    rankPerQuery(scored, "dist", desc = false, k)
      .select(col("query_id"), col("neighbor_id"), col("dist"), col("rank"))
  }

  /** Per-dimension (min, max) over the corpus — the calibration pass for
    * [[quantizeInt8]]. One explode+groupBy job; only `dims` pairs of doubles
    * reach the driver (bounded by dimensionality, like the IVF centroids —
    * NOT by data size). */
  def dimStats(vecs: DataFrame, vecCol: String = "embedding"): (Array[Double], Array[Double]) = {
    val rows = vecs
      .select(posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(min(col("v").cast("double")).as("mn"), max(col("v").cast("double")).as("mx"))
      .orderBy("pos").collect()
    (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  /** X3-adjacent: int8 scalar quantization — the standard 4× memory cut for
    * billion-vector ANN serving. Each dimension maps affinely onto [0,255]:
    * `code = floor((v − min) · 255 / (max − min) + 0.5)` (constant dims map
    * to 0). Calibration stats broadcast as array literals; the encode pass
    * is one codegen'd projection, no shuffle. Exploded (id, pos, code)
    * output keeps every arithmetic step in exact-replayable IEEE doubles,
    * so a cross-engine oracle hash-verifies the codes. */
  def quantizeInt8(vecs: DataFrame, mins: Array[Double], maxs: Array[Double],
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    Query.ensureParallelism(vecs)
      .select(col(idCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col(idCol), col("pos"),
        int8Code(col("v"), col("pos"), mins, maxs, "int").as("code"))

  /** [[quantizeInt8]]'s affine code of value `x` at 0-based dimension
    * `pos`, cast to `as`; the calibration stats are baked in as array
    * literals. */
  private def int8Code(x: Column, pos: Column, mins: Array[Double],
                       maxs: Array[Double], as: String): Column = {
    val mn = element_at(array(mins.map(lit): _*), pos + 1)
    val mx = element_at(array(maxs.map(lit): _*), pos + 1)
    when(mx === mn, lit(0).cast(as))
      .otherwise(floor((x.cast("double") - mn) * lit(255.0) / (mx - mn) + lit(0.5))
        .cast(as))
  }

  /** Array form of [[quantizeInt8]]'s code (same IEEE ops, so the same
    * cross-engine bit-guarantee): vector column → BIGINT code array. */
  private def int8CodesCol(mins: Array[Double], maxs: Array[Double])
                          (v: Column): Column =
    transform(v, (x, i) => int8Code(x, i, mins, maxs, "long"))

  /** What both int8 k-means entry points start from: an encoder of
    * (id, vector) rows into (id, __codes) under `vecs`' calibration, and
    * the `k` smallest ids, whose code rows seed the centroids (a k-row
    * driver collect — index-sized by design). Only full-length vectors
    * are encoded or seed: a NULL or short vector would have NULL
    * distances, and `min(struct(dist, cluster))` orders a NULL first. */
  private def int8Seeding(vecs: DataFrame, k: Int, idCol: String,
                          vecCol: String): (DataFrame => DataFrame, Array[Any]) = {
    require(k >= 1, s"k must be >= 1, got $k")
    val (mins, maxs) = dimStats(vecs, vecCol)
    val full = fullVectors(_: DataFrame, vecCol, mins.length)
    val seedIds = full(vecs).select(col(idCol)).orderBy(col(idCol)).limit(k)
      .collect().map(_.get(0))
    val codes = int8CodesCol(mins, maxs) _
    (full(_).select(col(idCol), codes(col(vecCol)).as("__codes")), seedIds)
  }

  /** The seed centroids (__cid, __cc): the rows of `coded` (id, __codes)
    * whose id is a seed id. */
  private def int8Seeds(coded: DataFrame, seedIds: Array[Any],
                        idCol: String): DataFrame =
    coded.filter(col(idCol).isin(seedIds: _*))
      .select(col(idCol).as("__cid"), col("__codes").as("__cc"))

  /** One k-means assignment in int8 code space: each row of `coded`
    * (id, __codes) goes to the centroid of `cents` (__cid, __cc) at the
    * least exact squared L2, ties to the smaller cluster id (min struct).
    * Output (id, cluster, dist, __codes); the centroids broadcast, so the
    * corpus is never shuffled, only (id, dist, cluster) partials. */
  private def int8Assign(coded: DataFrame, cents: DataFrame,
                         idCol: String): DataFrame = coded
    .crossJoin(broadcast(cents))
    .select(col(idCol), col("__codes"), struct(
      sqDistFast(col("__codes"), col("__cc")).as("dist"),
      col("__cid").as("cluster")).as("__m"))
    .groupBy(col(idCol))
    .agg(min(col("__m")).as("__m"), first(col("__codes")).as("__codes"))
    .select(col(idCol), col("__m.cluster").as("cluster"),
      col("__m.dist").as("dist"), col("__codes"))

  /** One k-means ASSIGNMENT round over [[quantizeInt8]] codes: every
    * vector goes to the centroid (= the code vectors of the `k` smallest
    * ids — a deterministic seeding, the k-means‖ stand-in) minimizing the
    * squared L2 distance IN CODE SPACE. Because codes are small integers,
    * every distance is an exact BIGINT and the argmin (ties to the lower
    * centroid id) is bit-deterministic cross-run, cross-partitioning and
    * cross-engine — unlike float k-means, whose tie behavior is
    * summation-order noise. This is the assignment step a Lloyd's
    * iteration, an IVF index build, or a balanced-shard layout all share;
    * int8 distances are also the standard serving trick (4× memory, SIMD).
    * It is the first assignment of [[kmeansRound2Int8]].
    *
    * Scale shape: calibration stats and the k centroid rows are
    * index-sized driver collects (documented [[dimStats]] pattern); the
    * corpus side is ONE scan — encode in-row, broadcast the k×dims
    * centroid table, k distances per row folded in-row, argmin via a
    * min(struct) map-side-combined aggregation. No corpus shuffle of
    * vectors, only (id, dist, cluster) triples. */
  def kmeansAssignInt8(vecs: DataFrame, k: Int,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val (encode, seedIds) = int8Seeding(vecs, k, idCol, vecCol)
    int8Assign(encode(Query.ensureParallelism(vecs)),
        int8Seeds(encode(vecs), seedIds, idCol), idCol)
      .select(col(idCol), col("cluster"), col("dist"))
  }

  /** Lloyd's k-means ROUND TWO in int8 code space — one full
    * assign → centroid-update → reassign cycle over
    * [[kmeansAssignInt8]]'s exact-integer formulation: round-1
    * assignment to the first-k seed centroids, centroid update as the
    * per-(cluster, dim) FLOORED integer mean of member codes
    * (`sum div n` — exact for the non-negative code range, the same
    * update rule the PQ training uses), then reassignment against the
    * updated centroids. Everything BIGINT — bit-deterministic
    * cross-run, cross-partitioning, and cross-engine (the oracle
    * replays both assignments and the update set-wise).
    *
    * Scale shape: one corpus encode pass (checkpointed — both
    * assignment passes read the coded blocks, never the raw vectors
    * twice), centroids broadcast in both rounds (k·dims literals), the
    * update one (cluster, dim)-keyed exchange of code partials —
    * k·dims-sized output, corpus never re-shuffled. Ties break toward
    * the smaller cluster id in both rounds (min struct). */
  def kmeansRound2Int8(vecs: DataFrame, k: Int,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val (encode, seedIds) = int8Seeding(vecs, k, idCol, vecCol)
    val coded = encode(Query.ensureParallelism(vecs)).localCheckpoint()
    val cents1 = int8Assign(coded, int8Seeds(coded, seedIds, idCol), idCol)
      .select(col("cluster").as("__cid"),
        posexplode(col("__codes")).as(Seq("__pos", "__code")))
      .groupBy(col("__cid"), col("__pos"))
      .agg(expr("CAST(sum(__code) div count(*) AS BIGINT)").as("__nc"))
      .groupBy(col("__cid"))
      .agg(expr("transform(array_sort(collect_list(struct(__pos, __nc)))," +
        " x -> x.__nc)").as("__cc"))
    val result = int8Assign(coded, cents1, idCol)
      .select(col(idCol), col("cluster"), col("dist"))
      .localCheckpoint()
    graft.operators.Dedup.freeCheckpoints(coded)
    result
  }

  /** RECIPROCAL-RANK FUSION of two rankers over the same corpus — the
    * float cosine ranking ([[bruteForceTopK]]) and the int8 code-space
    * L2 ranking — the standard way hybrid retrieval merges incomparable
    * score scales (Cormack/Clarke/Büttcher 2009): each ranker
    * contributes 1/(60 + rank), here held EXACT as the integer
    * 1000000 div (60 + rank) so fused scores and ties are
    * bit-deterministic cross-engine. Candidates missing from one ranking
    * contribute 0 from it (full outer merge), final top-`topK` per query
    * ordered (rrf desc, id).
    *
    * Scale shape: both rankings are broadcast-query scans of the corpus
    * (no corpus shuffle; per-query top-k via window over the
    * query-partitioned score stream), the merge joins two k·|queries|
    * frames — ranking-sized, not corpus-sized. */
  def rankFusionRrf(vecs: DataFrame, queries: DataFrame, k: Int, topK: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && topK >= 1, s"k/topK must be >= 1, got $k/$topK")
    // integer div keeps the contribution exact (Column./ is IEEE division)
    val a = bruteForceTopK(vecs, queries, k, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"),
        expr("CAST(1000000 div (60 + rank) AS BIGINT)").as("__sa"))
    val (mins, maxs) = dimStats(vecs, vecCol)
    val codes = int8CodesCol(mins, maxs) _
    val qc = queries.select(col(idCol).as("query_id"),
      codes(col(vecCol)).as("__qc"))
    val cand = Query.ensureParallelism(vecs)
      .select(col(idCol).as("neighbor_id"), codes(col(vecCol)).as("__cc"))
    val b = rankPerQuery(
        cand.join(broadcast(qc), col("query_id") =!= col("neighbor_id"))
          .withColumn("__d", sqDistFast(col("__qc"), col("__cc"))),
        "__d", desc = false, k)
      .select(col("query_id"), col("neighbor_id"),
        expr("CAST(1000000 div (60 + rank) AS BIGINT)").as("__sb"))
    val fused = a.join(b, Seq("query_id", "neighbor_id"), "full_outer")
      .select(col("query_id"), col("neighbor_id"),
        (coalesce(col("__sa"), lit(0L)) + coalesce(col("__sb"), lit(0L)))
          .as("rrf"))
    rankPerQuery(fused, "rrf", desc = true, topK)
      .select(col("query_id"), col("neighbor_id"), col("rrf"))
  }

  /** X2-adjacent near-dup by embedding: pairs with cosine ≥ threshold,
    * bucketed by LSH so the pair join never goes all-pairs. */
  def embeddingNearDups(vecs: DataFrame, threshold: Double, bits: Int = 8,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = Query.ensureParallelism(vecs).select(col(idCol), col(vecCol),
      lshBucket(col(vecCol), bits).as("bucket"))
    val a = v.select(col(idCol).as("doc_a"), col(vecCol).as("va"), col("bucket"))
    val b = v.select(col(idCol).as("doc_b"), col(vecCol).as("vb"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("sim", cosine(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("sim"))
  }

  /** SEMANTIC dedup, the embedding-space twin of
    * [[Dedup.dropNearDupsCC]]: cluster the verified cosine-near-dup graph
    * ([[embeddingNearDups]] — LSH-bucketed, never all-pairs) into connected
    * components and keep exactly one vector (the minimum id) per component.
    * This is the "dedup by meaning" pass a training pipeline runs after
    * token-level dedup: paraphrases and near-translations share no n-grams
    * but sit together in embedding space. Scale shape inherits from the
    * parts: bucketed pair generation O(n·2^−bits-ish), then
    * [[Graph.connectedComponentsMinLabel]] (driver union-find tier under
    * `graft.graph.broadcastLimitBytes`, distributed hash-min twin past
    * it). The kept-row anti-join reads the component labels (the twin's
    * narrow checkpoint is freed by the ContextCleaner once the result is
    * garbage — the CC contract). */
  def dropEmbeddingNearDupsCC(vecs: DataFrame, threshold: Double, bits: Int = 8,
                              maxIter: Int = 25, idCol: String = "vec_id",
                              vecCol: String = "embedding"): DataFrame = {
    // CC reads the edge list twice (symmetrization) — checkpoint the pair
    // join once so the bucketed cosine pass runs once, and free the (small)
    // edge checkpoint as soon as the component labels materialize
    val pairs = embeddingNearDups(vecs, threshold, bits, idCol, vecCol)
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    val comp = Graph.connectedComponentsMinLabel(pairs, "doc_a", "doc_b",
      maxRounds = maxIter)
    Dedup.freeCheckpoints(pairs)
    val dropped = comp.filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    vecs.join(dropped, Seq(idCol), "left_anti")
  }
}
