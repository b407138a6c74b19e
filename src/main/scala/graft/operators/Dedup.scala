package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for large-scale text corpora (SURVEY §2.11 [EXT]).
 *
 * Four tiers, in increasing fuzziness:
 *  1. [[exact]] — hash of normalized text, `groupBy` (one shuffle on a
 *     256-bit key; at 100 TB this is the cheapest possible dedup and the
 *     shuffle is the theoretical minimum: one row per distinct hash).
 *  2. [[minhashPairs]] — MinHash + LSH banding: near-dup candidates without
 *     the O(n²) pair explosion. Shuffles: ONE distinct-set aggregation of
 *     doc-level array rows, then the band self-join — token-level rows
 *     never cross the wire. Hot bands (boilerplate docs) are the skew risk
 *     at scale — exact-clone collapse shrinks them by the clone factor.
 *  3. [[simhash]] — 64-bit SimHash per doc; near-dups = small Hamming
 *     distance. One pass, no self-join; pairs found by matching on rotated
 *     bit-blocks (not materialized here).
 *  4. [[nearDupsFused]] — exact token-set Jaccard, computed only on LSH
 *     candidates (verification step of the standard minhash pipeline).
 *
 * All determinstic: hashing is md5/sha2/xxhash64 with fixed seeds — no RNG,
 * so results are reproducible run-over-run and engine-over-engine.
 */
object Dedup {

  /** Tokenize with [[Text.tokens]] (NULL text: no rows). DISTINCT per doc —
    * set semantics, the standard for minhash/jaccard. The de-dup happens
    * INSIDE the row (`array_distinct` before the explode), so this is a pure
    * map — no `.distinct()` shuffle of token-level rows, and the explode
    * feeds straight into whatever partial aggregation consumes it within
    * one whole-stage-codegen span. Output is identical to the exploded
    * global-distinct form: tokens are per-doc distinct either way. */
  def tokens(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), explode(array_distinct(Text.tokens(col(textCol)))).as("w"))

  /** 40-bit token hash, WITNESS form: md5 hex prefix parsed to a long —
    * expensive (full digest + hex string + base-16 parse per token) but
    * replayable arithmetic-for-arithmetic in any engine with `md5`, which
    * is what keeps the minhash-family oracles hash-exact. */
  private[graft] def h40Md5(w: Column): Column = Text.md5Prefix(w, 10)

  /** Per-doc token SET as one narrow row: sorted distinct token array, the
    * 40-bit md5-prefix hash of each token ([[h40Md5]] — the WITNESS hash;
    * the production path uses the fused
    * [[org.apache.spark.sql.graft.TokenSetHashes]] kernel), and a
    * set-identity key. This is
    * the backbone of the minhash pipeline — everything token-heavy happens
    * HERE, inside whole-stage codegen, with NO token-level shuffle: the
    * exploded alternative shuffles |docs|×|tokens/doc| rows (≈6M at sf0.1,
    * 6G at sf100) three times (set-key agg, signature agg, jaccard re-agg),
    * while this shape shuffles only doc-level rows. The set key joins tokens
    * with a SPACE (tokens cannot contain one, so the encoding is injective —
    * concat without a separator would collide e.g. ["ab","c"] with
    * ["a","bc"]). Docs that tokenize to nothing are excluded (callers retain
    * them explicitly — they are never near-dups of anything). */
  def tokenSets(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // tokenize+hash is the compute-heavy map stage of the whole family; a
    // one-row-group input would otherwise pin it to a single task
    // (no-op when the scan already splits — see Query.ensureParallelism).
    // Token-less docs are excluded by `length(translate(text,' ',''))>0`
    // (⟺ ≥1 token: the tokenizer splits on single spaces, so any
    // non-space char is a token char) rather than `size(toks) > 0` —
    // the size form is pushed below the exchange as a scan filter and
    // DUPLICATES the whole array_sort tokenize against every row
    // (measured: the entire dedup family was tokenizing twice)
    Query.ensureParallelism(docs)
      .filter(length(translate(col(textCol), " ", "")) > 0)
      .select(col(idCol),
        array_sort(array_distinct(Text.tokens(col(textCol)))).as("toks"))
      .select(col(idCol), col("toks"),
        array_distinct(transform(col("toks"), w => h40Md5(w))).as("__harr"),
        sha2(concat_ws(" ", col("toks")), 256).as("__set_key"))

  /** 2^57 modulus for the affine signature hashes: intermediates stay below
    * 2^61 (ANSI-safe) with 40-bit token hashes and 20-bit multipliers. */
  val SigMod: Long = 1L << 57

  /** The j-th affine hash (a, b) for minhash signatures: sig_j(token) =
    * (a_j * h40(token) + b_j) mod 2^57 where h40 = first 10 hex digits of
    * md5(token). One md5 per token total — the per-seed work is two integer
    * ops, not a fresh digest (the previous scheme computed `seeds` md5s per
    * token: 16× the hashing for no recall gain). The (a·h+b) mod m family is
    * the standard 2-universal construction; a_j odd keeps it injective on
    * the 40-bit domain. Both constants are plain literals so the DuckDB
    * oracle replays the identical arithmetic. */
  private[graft] def sigAffine(j: Int): (Long, Long) = {
    val a = ((2654435761L * (2L * j + 1L)) & 0xFFFFFL) | 1L
    val b = (BigInt(1442695040888963407L) * (j + 1) % BigInt(SigMod)).toLong
    (a, b)
  }

  /** X1: exact dedup via sha256 of normalized text. Returns one row per
    * distinct normalized content: (h, keep_id = min doc id, n_dups). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(sha2(lower(trim(col(textCol))), 256).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** The per-row band-signature strings over a `__sigs` signature array —
    * ONE definition shared by the batch banding and the streaming
    * dedup-on-ingest path ([[graft.streaming.Streams.nearDupStream]]), so
    * the two cannot drift: '_'-joined decimal signature components in seed
    * order, ceil-division trailing partial band. */
  private[graft] def bandSigExprs(seeds: Int, rowsPerBand: Int): Seq[Column] = {
    val nBands = math.max(1, (seeds + rowsPerBand - 1) / rowsPerBand)
    (0 until nBands).map { b =>
      val js = b * rowsPerBand until math.min(seeds, (b + 1) * rowsPerBand)
      concat_ws("_", js.map(j => element_at(col("__sigs"), j + 1).cast("string")): _*)
    }
  }

  /** The fused signature array for a `__harr` token-hash array column —
    * shared with the streaming path for the same no-drift reason. */
  private[graft] def sigArrayExpr(seeds: Int): Column = {
    val (as, bs) = (0 until seeds).map(sigAffine).unzip
    org.apache.spark.sql.graft.MinHashSigs.of(col("__harr"), as, bs, SigMod)
  }

  /** All bands fused into per-set array expressions: every sig_j minimum is
    * computed by ONE native-expression traversal of the set's token-hash
    * array ([[org.apache.spark.sql.graft.MinHashSigs]] — codegen'd fused
    * loop; the earlier `seeds` × `array_min(transform(...))` form allocated
    * `seeds` intermediate arrays per row and dispatched a CodegenFallback
    * lambda per element). NO shuffle at all — the only exchange left in
    * candidate generation is the band join ([[bandJoin]]). Identical output
    * to signatures→bands (same mins, same '_'-joined seed order,
    * ceil-division trailing partial band) — pinned by the fused-vs-unfused
    * spec. Rows are (id, __n set size, band, band_sig, carry…). */
  private def bandsOfSets(sets: DataFrame, idCol: String,
                          seeds: Int, rowsPerBand: Int,
                          carry: Seq[String]): DataFrame = {
    val nBands = math.max(1, (seeds + rowsPerBand - 1) / rowsPerBand)
    val sigs = sigArrayExpr(seeds)
    val bandSigExprs = this.bandSigExprs(seeds, rowsPerBand)
    val bandStructs = (0 until nBands).map { b =>
      struct(lit(b.toLong).as("band"), bandSigExprs(b).as("band_sig"))
    }
    // "__allsigs" is synthesized (the per-row array of ALL band sigs — the
    // first-match dedup needs it); "__sigs" is the signature array the
    // first select always computes (carrying it lets the estimator read
    // per-seed agreement off the band join, with no second corpus pass);
    // other carry names pass `sets` columns through the explode unchanged
    val passThrough = carry.filterNot(Set("__allsigs", "__sigs")).map(col)
    val passThrough2 = carry.filterNot(_ == "__allsigs").map(col)
    val synth = if (carry.contains("__allsigs"))
      Seq(array(bandSigExprs: _*).as("__allsigs")) else Nil
    sets.select(Seq(col(idCol), size(col("__harr")).as("__n"), sigs.as("__sigs"))
        ++ passThrough: _*)
      .select(Seq(col(idCol), col("__n"),
        explode(array(bandStructs: _*)).as("__bs")) ++ passThrough2 ++ synth: _*)
      .select(Seq(col(idCol), col("__n"),
        col("__bs.band").as("band"), col("__bs.band_sig").as("band_sig"))
        ++ carry.map(col): _*)
  }

  /** The RDDs materialized by a `localCheckpoint` — collected so their
    * blocks can be freed deterministically instead of waiting on the
    * ContextCleaner (checkpoint blocks are invisible to
    * `spark.catalog.clearCache()`, and leaking them starves whatever
    * memory-hungry job runs next in the session). */
  private def checkpointRdds(df: DataFrame) = df.queryExecution.analyzed.collect {
    case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
  }

  private[graft] def freeCheckpoints(dfs: DataFrame*): Unit =
    dfs.foreach(checkpointRdds(_).foreach(_.unpersist(blocking = false)))

  /** Band self-join filter that emits each candidate pair from its FIRST
    * matching band only: every band before the joined one must differ on
    * at least one side. Makes the pair stream duplicate-free by
    * construction — no distinct exchange. Requires `__allsigs` (the per-row
    * array of all band sigs) carried through the band explode; `l`/`r` are
    * the self-join aliases. */
  private def noEarlierBandMatch: Column = !exists(
    zip_with(
      slice(col("l.__allsigs"), lit(1), col("l.band").cast("int")),
      slice(col("r.__allsigs"), lit(1), col("l.band").cast("int")),
      (x, y) => x === y),
    b => b)

  /** THE band join of the LSH family: `l` × `r` band rows ([[bandsOfSets]]
    * tables carrying `__allsigs`) meeting on (band, band_sig), each pair
    * emitted from its first matching band only ([[noEarlierBandMatch]]),
    * so the pair stream is duplicate-free with no distinct exchange. A rep
    * self-join (`repOrder`) keeps l.__rep < r.__rep; `extra` is any further
    * filter over the `l`/`r` aliases, whose qualified columns the caller
    * reads. */
  private def bandJoin(l: DataFrame, r: DataFrame, repOrder: Boolean,
                       extra: Column = lit(true)): DataFrame =
    l.as("l").join(r.as("r"),
        col("l.band") === col("r.band") && col("l.band_sig") === col("r.band_sig"))
      .filter((if (repOrder) col("l.__rep") < col("r.__rep") else lit(true)) &&
        noEarlierBandMatch && extra)

  /** [[bandJoin]] plus THE near-dup verify, computed entirely inside the
    * join row: both sides' token-hash arrays (`__harr`) ride through the
    * band explode, so there is no join-back to a set table and no
    * checkpoint. The size pre-filter is provably lossless for threshold t:
    * jaccard ≥ t forces min(|A|,|B|) ≥ t·max(|A|,|B|) (i ≤ min and
    * i ≥ t(na+nb−i)), and it runs BEFORE the intersection. Verify on the
    * 40-bit token-hash SETS: long-vs-long intersection is ~2× cheaper than
    * string arrays; jaccard over hash sets equals token jaccard unless two
    * distinct tokens of one doc collide in 40 bits (~1e-7 per pair) — and
    * the oracle replays the identical hash-set arithmetic. Adds `__i` and
    * `jaccard` (≥ t) to the joined row. `__i` is a one-element explode,
    * not a Project alias: Catalyst would inline an alias into the jaccard
    * filter and the join condition and intersect once per use. */
  private def verifiedBandPairs(l: DataFrame, r: DataFrame, repOrder: Boolean,
                                threshold: Double): DataFrame =
    bandJoin(l, r, repOrder,
        least(col("l.__n"), col("r.__n")).cast("double") >=
          lit(threshold) * greatest(col("l.__n"), col("r.__n")).cast("double"))
      .select(col("*"), explode(array(
        size(array_intersect(col("l.__harr"), col("r.__harr"))))).as("__i"))
      .withColumn("jaccard", col("__i").cast("double") /
        (col("l.__n") + col("r.__n") - col("__i")).cast("double"))
      .filter(col("jaccard") >= lit(threshold))

  /** THE clone-member expansion: every member id in `mas` crossed with
    * every member id in `mbs` by a double in-row explode, as
    * (carry…, __ma, __mb) — rep pairs become doc pairs without a doc→rep
    * side table or an expansion join. `carry` columns are evaluated before
    * the explodes and ride through them. */
  private def memberPairs(pairs: DataFrame, mas: Column, mbs: Column,
                          carry: Column*): DataFrame = {
    val outer = pairs.select(carry :+ explode(mas).as("__ma") :+ mbs.as("__mbs"): _*)
    outer.select(outer.columns.init.map(col) :+ explode(col("__mbs")).as("__mb"): _*)
  }

  /** Same-set (exact clone) pairs: the in-row 2-combinations of each rep's
    * members ([[memberPairs]] of `__members` with itself) as
    * (carry…, __ma, __mb). Clones are IDENTICAL content, so the caller
    * attaches jaccard 1.0, edit distance 0 or the set size as the overlap.
    * `ordered` keeps both orders (containment: a⊆b and b⊆a are different
    * facts); otherwise `<` keeps one. */
  private def sameSetPairs(reps: DataFrame, ordered: Boolean,
                           carry: Column*): DataFrame =
    memberPairs(reps.filter(size(col("__members")) > 1),
        col("__members"), col("__members"), carry: _*)
      .filter(if (ordered) col("__ma") =!= col("__mb") else col("__ma") < col("__mb"))

  /** X2 step 3: candidate pairs = docs agreeing on any full band.
    * The self-join key is (band, band_sig): identical content lands in the
    * same bucket, everything else almost surely doesn't — this is what keeps
    * near-dup detection O(n·bands) instead of O(n²) at 100 TB. Runs on
    * exact-set representatives and expands (identical output, hot buckets
    * shrunk by the clone factor).
    *
    * Fully lazy — zero checkpoints, zero persists (trivially satisfies the
    * dedup-family cache contract), ONE corpus pass, ONE shuffle. The rep
    * aggregate collects each distinct set's member ids INTO the rep row
    * (`collect_list`), so no doc→rep side table, no broadcast of it, and
    * no expansion joins exist: clone expansion is an in-row double explode
    * of the member arrays riding through the band self-join. Candidate
    * pairs are emitted from their first matching band only
    * ([[noEarlierBandMatch]]) instead of a distinct exchange; same-set
    * clone pairs are the in-row 2-combinations of a rep's members.
    *
    * The pinned `__set_key` repartition IS the aggregation's required
    * distribution (no second exchange appears) and keeps the byte-light,
    * compute-dense stages at full parallelism — AQE coalesces by shuffle
    * BYTES, which mis-sizes hash/band pipelines (see [[fuzzyNearDups]]).
    * Trade-off: pre-partitioning forfeits map-side clone collapse (every
    * doc's hash array crosses the wire once — the same doc-level volume
    * the checkpointing shape wrote to block storage, and a shuffle
    * survives executor loss at scale where localCheckpoint blocks do not).
    * Member arrays are bounded by the largest exact-clone group; the pair
    * OUTPUT of such a group is quadratic in ANY formulation, so the array
    * does not change the asymptotics, only materializes the group in one
    * row. */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   seeds: Int = 16, rowsPerBand: Int = 8): DataFrame =
    minhashPairsOf(repSets(docs, idCol, textCol, members = true), seeds, rowsPerBand)

  /** Candidate pairs with their signature-agreement Jaccard ESTIMATE:
    * est = (matching signature positions) / seeds. This is what a 100 TB
    * pipeline actually thresholds on when the exact token-intersection
    * verify is too expensive — the estimator touches only the seeds-length
    * signature vectors (the MinHash guarantee: P[sig_j(A)=sig_j(B)] =
    * J(A,B), standard error ≈ 1/√seeds), never the token sets, so the
    * verify stage's token-level join disappears entirely. Exact integers
    * divided once into a double — cross-engine deterministic, hence a FULL
    * oracle (the md5 witness hash family). Pair generation is the usual
    * band self-join; the two signature joins move one seeds-length array
    * per doc. Output: (doc_a, doc_b, n_agree, est_jaccard). */
  def minhashEstimates(docs: DataFrame, idCol: String, textCol: String,
                       seeds: Int = 16, rowsPerBand: Int = 8): DataFrame = {
    // single-pass shape: the band rows already computed the full per-seed
    // signature array before deriving their band sigs, so carrying
    // `__sigs` through the explode puts both pair members' signature
    // vectors IN the band-join row — agreement is a zip_with there, with
    // no second corpus pass and no signature-side joins (was: 3 tokenize
    // passes + 2 shuffling joins; measured 4.07 → ~1.3 s at sf0.1). The
    // band rows widen by seeds longs each — bounded, and cheaper than
    // re-reading the corpus. Same-set clone pairs have identical
    // signatures by construction: n_agree = seeds exactly.
    val reps = repSets(docs, idCol, textCol, members = true)
    val bands = bandsOfSets(reps, "__rep", seeds, rowsPerBand,
      carry = Seq("__allsigs", "__members", "__sigs"))
    val agree = bandJoin(bands, bands, repOrder = true)
      .select(size(filter(zip_with(col("l.__sigs"), col("r.__sigs"),
          (a, b) => a === b), x => x)).as("n_agree"),
        col("l.__members").as("__mas"), col("r.__members").as("__mbs"))
    memberPairs(agree, col("__mas"), col("__mbs"), col("n_agree"))
      .select(least(col("__ma"), col("__mb")).as("doc_a"),
        greatest(col("__ma"), col("__mb")).as("doc_b"), col("n_agree"))
      .unionByName(sameSetPairs(reps, ordered = false).select(
        col("__ma").as("doc_a"), col("__mb").as("doc_b"), lit(seeds).as("n_agree")))
      .withColumn("est_jaccard",
        col("n_agree").cast("double") / lit(seeds.toDouble))
  }

  /** Candidate pairs with their exact CONTAINMENT coefficients:
    * overlap = |A∩B|, cont_a = overlap/|A|, cont_b = overlap/|B| — the
    * asymmetric overlap measures (Broder's containment) a curation
    * pipeline reads when one document INCLUDES another (quotes, wrappers,
    * aggregator pages) without being a near-clone of it: jaccard is
    * diluted by the size imbalance, containment of the smaller side is
    * not. Scope is honest: pairs come from the same minhash band join as
    * the jaccard family, which targets HIGH-jaccard pairs — a tiny doc
    * quoted inside a huge one rarely collides on a band; the corpus-wide
    * small-in-large treatment is [[SpanDedup.removeDupSpans]]. This
    * operator prices the candidates the bands DO emit (size-skewed
    * near-dups, wrapper pages) — note the deliberate ABSENCE of
    * [[verifiedBandPairs]]' size-ratio prefilter, which would discard
    * exactly the skewed pairs containment exists to score.
    *
    * Same single-pass shape as [[minhashEstimates]]: token-hash sets ride
    * the band rows, the intersection is computed in the band-join row at
    * rep level, clones expand in-row; same-set pairs are containment 1.0
    * on both sides by construction. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       seeds: Int = 16, rowsPerBand: Int = 8): DataFrame = {
    val reps = repSets(docs, idCol, textCol, members = true)
    val bands = bandsOfSets(reps, "__rep", seeds, rowsPerBand,
      carry = Seq("__allsigs", "__members", "__harr"))
    val overlaps = bandJoin(bands, bands, repOrder = true)
      .select(size(array_intersect(col("l.__harr"), col("r.__harr"))).as("__i"),
        size(col("l.__harr")).as("__nl"), size(col("r.__harr")).as("__nr"),
        col("l.__members").as("__mas"), col("r.__members").as("__mbs"))
    val cross = memberPairs(overlaps, col("__mas"), col("__mbs"),
        col("__i"), col("__nl"), col("__nr"))
      // orient sizes with the id swap: doc_a is the smaller ID, and __na
      // must be THAT document's set size, whichever join side it came from
      .select(least(col("__ma"), col("__mb")).as("doc_a"),
        greatest(col("__ma"), col("__mb")).as("doc_b"),
        col("__i").as("overlap"),
        when(col("__ma") < col("__mb"), col("__nl")).otherwise(col("__nr")).as("__na"),
        when(col("__ma") < col("__mb"), col("__nr")).otherwise(col("__nl")).as("__nb"))
    val same = sameSetPairs(reps, ordered = false, size(col("__harr")).as("__n"))
      .select(col("__ma").as("doc_a"), col("__mb").as("doc_b"),
        col("__n").as("overlap"), col("__n").as("__na"), col("__n").as("__nb"))
    cross.unionByName(same)
      .select(col("doc_a"), col("doc_b"), col("overlap"),
        (col("overlap").cast("double") / col("__na").cast("double")).as("cont_a"),
        (col("overlap").cast("double") / col("__nb").cast("double")).as("cont_b"))
  }

  /** [[minhashPairs]] over a prepared rep table: band self-join, first-match
    * pair emission, in-row clone expansion — no side tables, no joins
    * beyond the bucket self-join. */
  private def minhashPairsOf(reps: DataFrame, seeds: Int,
                             rowsPerBand: Int): DataFrame = {
    val bands = bandsOfSets(reps, "__rep", seeds, rowsPerBand,
        carry = Seq("__allsigs", "__members"))
    val cands = bandJoin(bands, bands, repOrder = true)
      .select(col("l.__members").as("__mas"), col("r.__members").as("__mbs"))
    memberPairs(cands, col("__mas"), col("__mbs"))
      .select(least(col("__ma"), col("__mb")).as("doc_a"),
        greatest(col("__ma"), col("__mb")).as("doc_b"))
      .unionByName(sameSetPairs(reps, ordered = false)
        .select(col("__ma").as("doc_a"), col("__mb").as("doc_b")))
  }

  /** [[minhashPairs]] on the production token path: the tokenize+hash map
    * stage — the family's dominant CPU cost — runs as ONE fused native
    * kernel ([[org.apache.spark.sql.graft.TokenSetHashes]]: byte-span
    * tokenize, xxhash64 per token, set key + 40-bit hash array in a single
    * traversal, no per-element lambda dispatch, no token String objects)
    * instead of the witness's 6-pass HOF chain with per-token md5. Hash
    * VALUES equal the HOF fast form it replaced (`pmod(xxhash64(w), 2^40)`
    * per distinct token); the set key is a SHA-256 over
    * the sorted distinct 64-bit token hashes (set identity modulo a
    * 64-bit collision — negligible next to the family's documented 40-bit
    * analysis). Same candidate structure as the witness on the fixture
    * corpus (spec-pinned). No DuckDB oracle — xxhash64 has no DuckDB
    * primitive; [[minhashPairs]] is the hash-exact witness. */
  def minhashPairsFast(docs: DataFrame, idCol: String, textCol: String,
                       seeds: Int = 16, rowsPerBand: Int = 8): DataFrame =
    minhashPairsOf(repSets(docs, idCol, textCol, members = true, fast = true),
      seeds, rowsPerBand)

  /** Shared rep-level table for the near-dup verify family: ONE corpus
    * pass, ONE shuffle, fully lazy (zero persists/checkpoints — the
    * round-5 cache-leak class of bug is structurally impossible here).
    *
    * One row per DISTINCT token set (the hot-band killer: boilerplate
    * corpora put THOUSANDS of identical-set docs in one LSH bucket;
    * observed 1541-doc bucket → 1.19M pairs from one band at sf0.1):
    * identical sets have identical signatures and identical jaccard
    * against everything, so banding and verification run on
    * representatives. Each rep row ALSO carries its sorted member-id list
    * (`collect_list` — no separate doc→rep table, broadcast, or expansion
    * join exists downstream; clone results reconstruct by in-row explode).
    * `first(__harr)` is deterministic (__harr is a pure function of the
    * grouping key). The pinned `__set_key` repartition doubles as the
    * aggregation's required distribution and keeps the compute-dense,
    * byte-light hash/band stages at full parallelism (AQE coalesces by
    * shuffle BYTES — see [[fuzzyNearDups]]); every downstream consumer
    * canonicalizes onto this one exchange, so AQE stage reuse runs
    * tokenize exactly once. Member arrays are bounded by the largest
    * exact-clone group, whose pair OUTPUT is quadratic in any formulation
    * — the array changes constant factors, not asymptotics. ONLY the
    * pair-emitting APIs ask for `members`. The drop paths emit no pairs,
    * so they have no quadratic floor to hide behind, and a boilerplate
    * corpus at scale can hold a clone group of hundreds of millions of
    * docs, whose `collect_list` row is a multi-GB single row (executor
    * OOM) carrying information the drop decision never needs: keep/drop is
    * decidable from the kept REP ids alone (a doc survives iff its id IS a
    * surviving rep), so without `members` every row is scalar-width.
    * `fast` picks the hash source ([[keyedSets]]). */
  private def repSets(docs: DataFrame, idCol: String, textCol: String,
                      members: Boolean, fast: Boolean = false): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val aggs = Seq(min(col(idCol)).as("__rep"), first(col("__harr")).as("__harr")) ++
      (if (members) Seq(array_sort(collect_list(col(idCol))).as("__members")) else Nil)
    keyedSets(docs, idCol, textCol, fast)
      .repartition(par, col("__set_key"))
      .groupBy(col("__set_key"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** LSH BAND-CONFIG cost sweep — for each rows-per-band config r, the
    * banding's bucket-occupancy profile over ONE shared signature pass:
    * occupied buckets and Σ C(size,2) candidate slots (the candidate WORK
    * the config would enqueue; the recall companion is
    * [[lshRecallSweep]]). ALL configs ride one corpus scan: the fused
    * signature array is computed once per doc and every config's band
    * sigs are generated IN-ROW (one explode of Σ seeds/r tagged band
    * structs), so a single (config, band, band_sig) exchange serves every
    * config — the unfused form ran |configs| separate
    * signature→banding→occupancy chains (~3 exchanges each) over the same
    * checkpointed signature table, pure serial job-chain latency at toy
    * scale and |configs|× the shuffle volume at 100 TB. Band sigs equal
    * the unfused signatures→bands path bit for bit ([[bandSigExprs]] is
    * the one shared definition; fused-vs-unfused is spec-pinned). */
  def lshBandSweep(docs: DataFrame, idCol: String, textCol: String,
                   seeds: Int = 16,
                   configs: Seq[Int] = Seq(2, 4, 8, 16)): DataFrame = {
    require(configs.nonEmpty && configs.forall(r => r >= 1 && seeds % r == 0),
      s"every rows-per-band must divide seeds=$seeds, got $configs")
    val taggedBands = configs.flatMap { r =>
      bandSigExprs(seeds, r).zipWithIndex.map { case (bs, b) =>
        struct(lit(r).as("r"), lit(b.toLong).as("band"), bs.as("band_sig"))
      }
    }
    val occ = tokenSets(docs, idCol, textCol)
      .select(sigArrayExpr(seeds).as("__sigs"))
      .select(explode(array(taggedBands: _*)).as("__b"))
      .select(col("__b.r").as("__r"), col("__b.band").as("band"),
        col("__b.band_sig").as("band_sig"))
      .groupBy(col("__r"), col("band"), col("band_sig"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("__r"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(expr("__c * (__c - 1) div 2")).cast("bigint")
          .as("n_candidate_slots"))
    // left join FROM the config list so an empty corpus still yields one
    // row per config (n_buckets 0 — the global-agg semantics of the
    // unfused form), not zero rows. shuffle_hash, NOT broadcast: both
    // sides are ≤|configs| rows, but a broadcast of `occ` would run the
    // whole corpus aggregation inside the broadcast-build thread and
    // its 300 s timeout — a 100 TB scan has no business under that clock
    val spark = docs.sparkSession
    import spark.implicits._
    configs.map(r => (r, seeds / r)).toDF("rows_per_band", "n_bands")
      .join(occ.hint("shuffle_hash"), col("rows_per_band") === col("__r"), "left")
      .select(col("rows_per_band"), col("n_bands"),
        coalesce(col("n_buckets"), lit(0L)).as("n_buckets"),
        col("n_candidate_slots"))
  }

  /** LSH RECALL tuning curve — for each rows-per-band config, the
    * fraction of TRUE near-dup pairs (exact jaccard ≥ num/den, rep
    * level) that the banding's candidate stream catches: the
    * recall-vs-cost companion of the bucket-occupancy sweep
    * ([[SparkEntry]]'s ext_lsh_band_sweep counts candidate WORK per
    * config; this key prices what the cheaper configs LOSE). Ground
    * truth comes from [[jaccardJoinExact]]'s EXACT-recall prefix-filter
    * machinery at rep level (provably no missed pair, integer θ gate —
    * and the machinery that stays alive on dense corpora, where an
    * r = 1 banding's first-match dedup multiplies the candidate stream
    * 16× through interpreted array compares: measured 956 s CPU at
    * sf0.1 before this truth swap, ~8 s after). Per config, catch/miss
    * is decided PER TRUE PAIR from the two signature arrays alone
    * (∃ band whose r components all agree) — no config ever enumerates
    * its candidate pair stream (the band-sweep lesson). The exact-join
    * rep ids and the signature table's rep ids agree by construction
    * (both collapse identical token sets to the min member id). */
  def lshRecallSweep(docs: DataFrame, idCol: String, textCol: String,
                     seeds: Int = 16, configs: Seq[Int] = Seq(2, 4, 8, 16),
                     thetaNum: Int = 4, thetaDen: Int = 5): DataFrame = {
    require(configs.nonEmpty && configs.forall(r => r >= 1 && seeds % r == 0),
      s"every rows-per-band must divide seeds=$seeds, got $configs")
    val jreps = jaccardReps(docs, idCol, textCol).localCheckpoint()
    // ground truth only needs the PAIR IDS of the exact rep-pair kernel
    val (repPairs, sorted) = exactRepPairs(jreps, thetaNum, thetaDen,
      containment = false, cross = false)
    val truth = repPairs.select(col("__ra").as("doc_a"), col("__rb").as("doc_b"))
    // signatures come straight off the CHECKPOINTED rep table — its __ts
    // arrays are the sorted distinct tokens, so hashing them in-row is
    // the same __harr [[tokenSets]] builds, without a second corpus
    // tokenize pass + rep exchange (a [[repSets]] table re-ran both; the
    // rep ids agree by construction — min member id per distinct token set)
    val sigs = jreps
      .select(col("__rep"),
        array_distinct(transform(col("__ts"), w => h40Md5(w))).as("__harr"))
      .select(col("__rep"), sigArrayExpr(seeds).as("__sigs"))
    val t2 = truth
      .join(sigs.select(col("__rep").as("doc_a"), col("__sigs").as("__sa")),
        Seq("doc_a"))
      .join(sigs.select(col("__rep").as("doc_b"), col("__sigs").as("__sb")),
        Seq("doc_b"))
      .localCheckpoint()
    // ONE fold over the true-pair table computes every config's catch
    // count side by side (the per-config fold chain was |configs| serial
    // jobs over the same checkpointed rows — pure job-chain latency), then
    // a 1-row explode fans the single agg row out to one row per config.
    val catchCols = configs.map { r =>
      val nBands = seeds / r
      val bandMatch = exists(sequence(lit(0), lit(nBands - 1)), j =>
        forall(sequence(lit(1), lit(r)), i =>
          element_at(col("__sa"), j * lit(r) + i) ===
            element_at(col("__sb"), j * lit(r) + i)))
      coalesce(sum(when(bandMatch, lit(1L)).otherwise(lit(0L))), lit(0L))
        .as(s"__c_$r")
    }
    val rows = t2
      .agg(count(lit(1)).as("__n"), catchCols: _*)
      .select(explode(array(configs.map { r =>
        struct(lit(r).cast("int").as("rows_per_band"),
          lit(seeds / r).cast("int").as("n_bands"),
          col("__n").cast("bigint").as("n_true"),
          col(s"__c_$r").cast("bigint").as("n_caught"))
      }: _*)).as("__row"))
      .select(col("__row.*"))
      // recall on a corpus with NO true near-dup pair is undefined: NULL in
      // both engines (Spark's 0/0 double division and DuckDB's IEEE NaN
      // disagree — the oracle carries the matching CASE WHEN)
      .withColumn("recall",
        when(col("n_true") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_caught").cast("double") /
            col("n_true").cast("double"), 6)))
    val result = rows.localCheckpoint()
    freeCheckpoints(jreps +: t2 +: sorted: _*)
    result
  }

  /** Verified rep-level near-dup pairs over a [[repSets]] table: the
    * [[verifiedBandPairs]] rep self-join, l.__rep < r.__rep. `carry` names
    * further rep columns to ride the band explode (the member lists, for
    * the pair-emitting form); the caller reads them as `l.*`/`r.*`. */
  private def verifiedRepPairs(reps: DataFrame, seeds: Int, rowsPerBand: Int,
                               threshold: Double, carry: String*): DataFrame = {
    val bands = bandsOfSets(reps, "__rep", seeds, rowsPerBand,
      carry = ("__harr" +: carry) :+ "__allsigs")
    verifiedBandPairs(bands, bands, repOrder = true, threshold)
  }

  /** ONE-pass keep filter for the drop paths: a doc survives iff its id
    * is in `keptReps` (matched via left join + marker) OR it tokenizes
    * to nothing (null / empty / all-space text — never a near-dup of
    * anything). A semi-join plus a separate token-less union would scan
    * the raw corpus TWICE; the marker form reads it once, with the same
    * single id-shuffle. `keptReps` ids are unique (one per surviving
    * clone set), so the left join cannot duplicate rows. */
  private def keepDocs(docs: DataFrame, idCol: String, textCol: String,
                       keptReps: DataFrame): DataFrame =
    docs.join(keptReps.withColumn("__keep", lit(1)), Seq(idCol), "left")
      .filter(col("__keep").isNotNull || col(textCol).isNull ||
        length(translate(col(textCol), " ", "")) === 0)
      .drop("__keep")

  def nearDupsFused(docs: DataFrame, idCol: String, textCol: String,
                    seeds: Int = 16, rowsPerBand: Int = 8,
                    threshold: Double = 0.95): DataFrame = {
    // verify at rep level (each distinct set-pair's jaccard computed once),
    // then expand in-row: clones inherit the rep jaccard; same-set pairs
    // are exactly 1.0 (≥ any threshold ≤ 1, matching the verified filter)
    // (member sets of different reps are disjoint: no duplicate pairs)
    val reps = repSets(docs, idCol, textCol, members = true)
    val verified = verifiedRepPairs(reps, seeds, rowsPerBand, threshold, "__members")
      .select(col("jaccard"), col("l.__members").as("__mas"),
        col("r.__members").as("__mbs"))
    memberPairs(verified, col("__mas"), col("__mbs"), col("jaccard"))
      .select(least(col("__ma"), col("__mb")).as("doc_a"),
        greatest(col("__ma"), col("__mb")).as("doc_b"), col("jaccard"))
      .unionByName(sameSetPairs(reps, ordered = false).select(
        col("__ma").as("doc_a"), col("__mb").as("doc_b"), lit(1.0).as("jaccard")))
  }

  /** The deduplicated corpus under near-dup semantics: drop every doc that
    * is a verified near-dup of a LOWER-id doc (the "keep canonical
    * representative" policy real pipelines use; full connected-components
    * clustering is a strictly stronger dedup and an iterative job, not
    * needed for the keep-lowest policy).
    *
    * Decided entirely at rep level — no pair expansion, no member arrays
    * ([[repSets]] without members: every row scalar-width, so the largest
    * clone group a boilerplate corpus can produce costs nothing beyond its
    * row count).
    * The KEPT set has a one-sided characterization that needs no doc→rep
    * mapping at all: a doc survives ⟺ it is token-less (near-dup of
    * nothing) OR its id is a rep (the min of its clone set — any non-rep
    * clone has its rep as a smaller jaccard-1.0 partner) that is not the
    * larger side of any verified rep pair (rep(T) < rep(S) ⟺ some member
    * of T is smaller than rep(S), and members inherit the rep's
    * similarities exactly). So the result is ONE pass over the corpus:
    * a marker left-join against the surviving rep ids whose filter also
    * admits the token-less docs ([[keepDocs]]) — anti-join semantics on
    * the dominated list ignore duplicates, no distinct exchange, zero
    * checkpoints, zero persists. */
  def dropNearDups(docs: DataFrame, idCol: String, textCol: String,
                   seeds: Int = 16, rowsPerBand: Int = 8,
                   threshold: Double = 0.95): DataFrame = {
    val reps = repSets(docs, idCol, textCol, members = false)
    val dominated = verifiedRepPairs(reps, seeds, rowsPerBand, threshold)
      .select(col("r.__rep").as("__rep"))
    val kept = reps.select(col("__rep"))
      .join(dominated, Seq("__rep"), "left_anti")
      .select(col("__rep").as(idCol))
    keepDocs(docs, idCol, textCol, kept)
  }

  /** Alternating large-star/small-star connected components (the MapReduce
    * CC algorithm of Kiveris et al.) — O(log n) rounds regardless of graph
    * DIAMETER, where the hash-min twin of
    * [[Graph.connectedComponentsMinLabel]] needs O(diameter) rounds.
    * Near-dup graphs are clique-ish (small diameter), so the near-dup
    * drops use that operator; this is the variant for adversarial
    * long-path graphs and the specs' reference. Same contract:
    * (node, component) with component = min id reachable;
    * converges-or-throws.
    *
    * Each round: LARGE-STAR hangs every neighbor v > u under u's
    * neighborhood-min, SMALL-STAR re-hangs the v ≤ u side; the edge list
    * contracts toward a star per component whose center is the minimum.
    * Convergence = edge multiset stable (count + order-independent hash
    * signature — one cheap agg per round on the fresh checkpoint). */
  def connectedComponentsStar(edges: DataFrame, maxIter: Int = 35): DataFrame = {
    def signature(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    var e = edges
      .select(col("doc_a").cast("long").as("u"), col("doc_b").cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    var sig = signature(e)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // LARGE-STAR: m(u) = min(N(u) ∪ {u}); emit (v, m(u)) for v ∈ N(u), v > u
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val lsMin = sym.groupBy(col("u")).agg(min(col("v")).as("__nm"))
        .select(col("u"), least(col("u"), col("__nm")).as("m"))
      val ls = sym.join(lsMin, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
      // SMALL-STAR: canonicalize u > v; m(u) = min(N(u) ∪ {u}) = min(N(u));
      // emit (x, m) for x ∈ N(u) ∪ {u}, x ≠ m
      val canon = ls.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val ssMin = canon.groupBy(col("u")).agg(min(col("v")).as("m"))
      val next = canon.join(ssMin, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(ssMin.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
        .localCheckpoint()
      val nextSig = signature(next)
      converged = nextSig == sig
      sig = nextSig
      checkpointRdds(e).foreach(_.unpersist(blocking = false))
      e = next
      iter += 1
    }
    require(converged, s"connectedComponentsStar did not converge in $maxIter rounds")
    // fixpoint is a star per component: every non-root points at its root
    e.select(col("u").as("node"), col("v").as("component"))
      .unionByName(e.select(col("v").as("node"), col("v").as("component")).distinct())
  }

  /** The deduplicated corpus under TRANSITIVE near-dup semantics: cluster
    * the verified-pair graph into connected components and keep exactly one
    * doc (the minimum id) per component — strictly stronger than
    * [[dropNearDups]], which only drops docs directly dominated by a lower
    * id (A≈C and B≈C with A<B<C keeps A and B there, but only A here).
    * This is the policy web-scale corpus dedup uses (cluster, keep one).
    *
    * Runs CC at rep level — the graph has one node per distinct token SET,
    * not per doc, so boilerplate clone clusters cost one node. Component
    * labels are true document minima because each rep is already the min id
    * of its clone set. Token-less docs are retained (not near-dups of
    * anything). Like [[dropNearDups]], keep/drop is decided from rep ids
    * alone (member-free [[repSets]] + a dominated-rep list from CC) — no
    * member arrays, no row wider than a scalar anywhere in either drop
    * path. */
  def dropNearDupsCC(docs: DataFrame, idCol: String, textCol: String,
                     seeds: Int = 16, rowsPerBand: Int = 8,
                     threshold: Double = 0.95, maxIter: Int = 25): DataFrame = {
    val reps = repSets(docs, idCol, textCol, members = false)
    // CC iterates over the verified edges — checkpoint once (narrow,
    // rep-level id pairs) so the corpus pipeline runs exactly once
    val verified = verifiedRepPairs(reps, seeds, rowsPerBand, threshold)
      .select(col("l.__rep").as("doc_a"), col("r.__rep").as("doc_b"))
      .localCheckpoint()
    val comp = Graph.connectedComponentsMinLabel(verified, "doc_a", "doc_b",
      maxRounds = maxIter)
    // non-minimum nodes of each component are the dominated reps; reps
    // outside the edge graph never appear in `comp` and survive
    val droppedReps = comp.filter(col("node") =!= col("component"))
      .select(col("node").as("__rep")).localCheckpoint()
    freeCheckpoints(verified, comp)
    val kept = reps.select(col("__rep"))
      .join(droppedReps, Seq("__rep"), "left_anti")
      .select(col("__rep").as(idCol))
    keepDocs(docs, idCol, textCol, kept)
  }

  /** Near-dup CLUSTER LABELS: (doc_id, cluster) for every doc with ≥ 1
    * token, where cluster = the minimum doc id reachable through the
    * verified near-dup graph (J ≥ threshold) — [[dropNearDupsCC]]'s
    * component structure SURFACED instead of consumed by a drop filter,
    * the input to dedup AUDIT reports (cluster sizes, source spread,
    * which doc was kept and what it dominated). Same machinery: rep
    * collapse, banded candidates, verify, CC at rep level,
    * members inherit their rep's component (rep = min member id and
    * component = min rep id, so the cluster label IS the cluster's
    * minimum doc id). Docs outside the near-dup graph label as their
    * own singleton cluster — INCLUDING zero-token (null/empty-text) docs,
    * which never enter the token-set graph: they union back as their own
    * singletons so the output labels EVERY corpus row (the oracle's
    * LEFT JOIN + COALESCE semantics) and a consumer joining cluster
    * labels back to the corpus loses nothing. */
  def nearDupClusters(docs: DataFrame, idCol: String, textCol: String,
                      seeds: Int = 16, rowsPerBand: Int = 8,
                      threshold: Double = 0.95, maxIter: Int = 25): DataFrame = {
    val reps = repSets(docs, idCol, textCol, members = false).localCheckpoint()
    val verified = verifiedRepPairs(reps, seeds, rowsPerBand, threshold)
      .select(col("l.__rep").as("doc_a"), col("r.__rep").as("doc_b"))
      .localCheckpoint()
    val comp = Graph.connectedComponentsMinLabel(verified, "doc_a", "doc_b",
      maxRounds = maxIter)
    val docRep = tokenSets(docs, idCol, textCol)
      .select(col(idCol), col("__set_key"))
      .join(reps.select(col("__set_key"), col("__rep")), "__set_key")
      .select(col(idCol), col("__rep"))
    // zero-token docs are excluded by tokenSets' `length(translate)>0`
    // gate (the SAME predicate, complemented, so the two paths partition
    // the corpus exactly); they are near-dups of nothing — each is its
    // own singleton cluster labeled by its own id
    val tokenless = docs
      .filter(!coalesce(
        length(translate(col(textCol), " ", "")) > 0, lit(false)))
      .select(col(idCol), col(idCol).as("cluster"))
    val result = docRep
      .join(comp.select(col("node").as("__rep"), col("component")),
        Seq("__rep"), "left")
      .select(col(idCol), coalesce(col("component"), col("__rep"))
        .as("cluster"))
      .unionByName(tokenless)
      .localCheckpoint()
    freeCheckpoints(reps, verified, comp)
    result
  }

  /** ASYMMETRIC near-dup filter: drop every `incoming` doc whose token-set
    * jaccard against ANY `reference` doc clears `threshold` — cross-corpus
    * dedup, the sibling of [[Curation.decontaminateFast]] for whole-document
    * near-duplication rather than exact n-gram overlap (dedup a fresh crawl
    * against the previous training snapshot; scrub paraphrased eval docs,
    * not just verbatim ones). The reference side is never dropped and
    * `incoming`-internal duplicates are deliberately NOT touched — that is
    * [[dropNearDups]]' job, and pipelines run the two as separate,
    * individually-auditable passes.
    *
    * Scale shape — ONE tokenize pass per corpus, no self-join anywhere:
    *  - `reference` collapses to its DISTINCT token sets ([[tokenSets]] →
    *    one set-key aggregation; no doc ids, no member arrays — nothing
    *    about the reference survives but the sets themselves), then bands.
    *  - `incoming` bands at DOC level straight off its single tokenize
    *    pass: a second (doc→set) consumer of a set-collapsed subtree would
    *    tokenize the corpus twice (exchange reuse cannot dedupe
    *    differently-pruned subtrees — the family's round-8 lesson), and
    *    the usual hot-bucket argument for rep-collapse does not bite here:
    *    the band join is incoming×reference, so boilerplate incoming
    *    clones cost LINEAR verify work (one verdict per doc — inherent),
    *    never the self-join's quadratic pair blow-up.
    *  - candidates = band equi-join on (band, band_sig), each incoming×set
    *    pair verified once from its first matching band
    *    ([[noEarlierBandMatch]]), size-prefiltered (provably lossless, see
    *    [[verifiedBandPairs]]), exact hash-set jaccard inside the join.
    *  - the matched incoming ids anti-join the corpus: token-less docs are
    *    never candidates, so they survive without a special path. Every
    *    shuffled row is scalar-width or one hash array; zero persists,
    *    zero checkpoints, zero driver collections. */
  def dropNearDupsAgainst(reference: DataFrame, incoming: DataFrame,
                          idCol: String, textCol: String,
                          seeds: Int = 16, rowsPerBand: Int = 8,
                          threshold: Double = 0.95): DataFrame = {
    val incDocs = tokenSets(incoming, idCol, textCol)
      .select(col(idCol), col("__harr"))
    val par = reference.sparkSession.sparkContext.defaultParallelism
    val refSets = tokenSets(reference, idCol, textCol)
      .select(col("__set_key"), col("__harr"))
      .repartition(par, col("__set_key"))
      .groupBy(col("__set_key"))
      .agg(first(col("__harr")).as("__harr"))
      .select(lit(0L).as("__ref"), col("__harr"))
    // aliases `l` = incoming, `r` = reference; one emission per
    // (incoming doc, reference set)
    val matched = verifiedBandPairs(
      bandsOfSets(incDocs, idCol, seeds, rowsPerBand, Seq("__harr", "__allsigs")),
      bandsOfSets(refSets, "__ref", seeds, rowsPerBand, Seq("__harr", "__allsigs")),
      repOrder = false, threshold)
      .select(col(s"l.$idCol").as(idCol))
    incoming.join(matched, Seq(idCol), "left_anti")
  }

  /** Doc-level (id, set key, hash array) rows: the md5 WITNESS hashes
    * ([[tokenSets]]) or the fused production kernel — one flag so the
    * witness/fast twins cannot structurally diverge. */
  private def keyedSets(docs: DataFrame, idCol: String, textCol: String,
                        fast: Boolean): DataFrame =
    if (!fast) tokenSets(docs, idCol, textCol)
      .select(col(idCol), col("__set_key"), col("__harr"))
    // the cheap translate pre-filter replaces `__ts.isNotNull` (kernel
    // null ⟺ no tokens ⟺ no non-space char): the isNotNull form is
    // pushed to the scan and runs the whole kernel a second time per row
    else Query.ensureParallelism(docs)
      .filter(length(translate(col(textCol), " ", "")) > 0)
      .select(col(idCol),
        org.apache.spark.sql.graft.TokenSetHashes.of(col(textCol)).as("__ts"))
      .select(col(idCol), hex(col("__ts.key")).as("__set_key"),
        col("__ts.harr").as("__harr"))

  /** FUZZY string near-dup join: pairs of strings within `maxDist` edit
    * distance, found WITHOUT an all-pairs levenshtein. Character q-gram
    * sets stand in for word-token sets (strings within small edit distance
    * share most of their q-grams), the same MinHash banding generates
    * candidates — identical affine family, fused [[MinHashSigs]] loop, one
    * band self-join — and exact `levenshtein` verifies only candidates.
    * The classic fuzzy-dedup shape for titles/names/short fields, where
    * token-level dedup is useless (one typo changes the whole "word").
    *
    * Scale shape inherits from the word pipeline, INCLUDING rep-collapse:
    * short fields are exactly where boilerplate runs hottest (thousands of
    * identical titles), and identical strings share a gram set — banding
    * and verification run once per DISTINCT string, clone pairs expand
    * afterwards with dist = 0 (the exact reconstruction, so the oracle
    * replays the direct uncollapsed computation). No gram-level shuffle
    * (grams hash inside the row), banding O(distinct·bands), verification
    * O(|candidates|·len²). Default banding is 4 bands × 4 rows — narrower
    * than the word pipeline's 2×8 because an edit changes up to q grams of
    * a SHORT gram set, so candidate similarity is much lower than
    * word-level near-dups (measured: 2×8 misses 1-substitution pairs on
    * ~40-char strings). Strings shorter than q have no grams and are
    * excluded entirely (they can only be near-dups of other short strings
    * — callers handle those directly). Returns (doc_a, doc_b, dist),
    * doc_a < doc_b. */
  def fuzzyNearDups(docs: DataFrame, idCol: String, strCol: String,
                    maxDist: Int, q: Int = 4,
                    seeds: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    require(q >= 1 && maxDist >= 0, s"need q >= 1, maxDist >= 0; got $q, $maxDist")
    val s = lower(col(strCol))
    // No ensureParallelism here: the only pre-exchange work is lower+length
    // on an already-narrow snippet column — the pinned __s exchange is
    // where parallelism (re)appears, and an extra round-robin exchange
    // costs a full AQE stage for nothing (the pipeline is barrier-bound,
    // not map-bound; measured on the fixture AND true at scale, where the
    // scan has real splits anyway). The pinned exchanges are the SAME
    // shuffles the plan needs anyway (__s satisfies the rep aggregate's
    // distribution, (band, band_sig) the self-join's) — no exchange is
    // added, only the partition count is fixed.
    val par = docs.sparkSession.sparkContext.defaultParallelism
    // rep-collapse identical snippets (min id represents each) with the
    // family's one-pass member-collecting aggregate ([[repSets]]
    // shape, keyed on the snippet itself): gram hashing, banding, and the
    // levenshtein verify run once per DISTINCT snippet, and clone pairs
    // expand by in-row explode of the member lists — no doc→rep side
    // table, no expansion joins, no checkpoints. The original pipeline
    // spent FOUR localCheckpoint barriers (each a full job round-trip) on
    // inputs of a few thousand distinct snippets.
    val reps = docs
      .select(col(idCol), s.as("__s"))
      .filter(length(col("__s")) >= q)
      .repartition(par, col("__s"))
      .groupBy(col("__s"))
      .agg(min(col(idCol)).as("__rep"),
        array_sort(collect_list(col(idCol))).as("__members"))
    val grams = when(length(col("__s")) >= q,
        array_sort(array_distinct(transform(
          sequence(lit(1), length(col("__s")) - lit(q - 1)),
          i => col("__s").substr(i, lit(q))))))
      .otherwise(array().cast("array<string>"))
    val sets = reps.select(col("__rep"), col("__s"), col("__members"),
      array_distinct(transform(grams, g => h40Md5(g))).as("__harr"))
    // The snippet string, member list, AND full band-signature array ride
    // THROUGH the band self-join, so (a) verification needs no join back
    // to a rep table — the candidate row already holds both strings — and
    // (b) each pair is emitted from its FIRST matching band only
    // ([[noEarlierBandMatch]]), duplicate-free by construction, no
    // distinct exchange. One reused band exchange, one codegen'd
    // filter+levenshtein pass. The pinned repartitions keep the
    // compute-dense, byte-light stages (md5 per gram, levenshtein O(len²)
    // per pair) at full parallelism — AQE coalesces by shuffle bytes.
    val bandsWithStr = bandsOfSets(sets, "__rep", seeds, rowsPerBand,
      carry = Seq("__s", "__members", "__allsigs"))
      .repartition(par, col("band"), col("band_sig"))
    // one-element explode: an aliased `dist` would be inlined into the
    // join condition and computed again in the Project above it
    val near = bandJoin(bandsWithStr, bandsWithStr, repOrder = true)
      .select(col("*"), explode(array(levenshtein(col("l.__s"), col("r.__s")))).as("dist"))
      .filter(col("dist") <= maxDist)
    memberPairs(near, col("l.__members"), col("r.__members"), col("dist"))
      .select(least(col("__ma"), col("__mb")).as("doc_a"),
        greatest(col("__ma"), col("__mb")).as("doc_b"), col("dist"))
      .unionByName(sameSetPairs(reps, ordered = false).select(
        col("__ma").as("doc_a"), col("__mb").as("doc_b"), lit(0).as("dist")))
  }

  /** The SimHash bit-vote circuit: `tok` carries (idCol, h); for bit k,
    * sum ±1 over tokens according to bit k of h; simhash bit k = sign of
    * the sum. One aggregation pass, no pair join. */
  private def voteAssemble(tok: DataFrame, idCol: String, bits: Int): DataFrame = {
    val bitVotes = (0 until bits).map { k =>
      sum(when(col("h").bitwiseAND(lit(1L << k)) =!= 0L, 1).otherwise(-1)).as(s"b$k")
    }
    val votes = tok.groupBy(col(idCol)).agg(bitVotes.head, bitVotes.tail: _*)
    val assemble = (0 until bits).map { k =>
      when(col(s"b$k") > 0, lit(1L << k)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    votes.select(col(idCol), assemble.as("simhash"))
  }

  /** X2-adjacent: 64-bit SimHash per doc over xxhash64(token) — the
    * production path, ONE fused native kernel per row
    * ([[org.apache.spark.sql.graft.SimHash64]]): the whole operator is a
    * shuffle-FREE map (the aggregated vote circuit explodes tokens through
    * a 64-column aggregation and pays a doc-level exchange; at corpus
    * scale simhashing is embarrassingly parallel and the kernel keeps it
    * that way). Dedup is by token HASH rather than token string — 64-bit
    * collisions (~1e-11 per pair) are the only divergence from the
    * exploded form. No oracle — DuckDB lacks xxhash64; the vote/assemble
    * circuit itself is oracle-verified via [[simhashMd5]], and a spec pins
    * the kernel bit-equal to the aggregated xxhash64 circuit. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // translate pre-filter instead of `simhash.isNotNull` (equivalent:
    // kernel null ⟺ token-less ⟺ all-space text) — the isNotNull form
    // gets pushed to the scan and runs the whole kernel TWICE per row
    Query.ensureParallelism(docs)
      .filter(length(translate(col(textCol), " ", "")) > 0)
      .select(col(idCol),
        org.apache.spark.sql.graft.SimHash64.of(col(textCol)).as("simhash"))

  /** Cross-engine twin of [[simhash]]: the token hash is the leading
    * `ceil(bits/4)` hex digits of md5(token) (DuckDB has md5), so the SAME
    * vote/assemble circuit gets hash-verified against the oracle. Narrower
    * than the xxhash64 form by construction — a witness query, not the
    * production path. */
  def simhashMd5(docs: DataFrame, idCol: String, textCol: String,
                 bits: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 60, s"bits must be in [1,60], got $bits")
    val hexDigits = (bits + 3) / 4
    voteAssemble(
      tokens(docs, idCol, textCol).withColumn("h", Text.md5Prefix(col("w"), hexDigits)),
      idCol, bits)
  }

  /** Hamming distance between two simhash values (for near-dup filtering). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** EXACT-radius Hamming near-dup self-join over simhash fingerprints —
    * multi-index pigeonhole banding (Norouzi et al., "Fast Search in
    * Hamming Space with Multi-Index Hashing"; the dedup application is
    * Manku et al. WWW'07): split the `bits`-bit fingerprint into `bands`
    * DISJOINT substrings; any pair within Hamming distance d ≤ bands − 1
    * must agree EXACTLY on at least one band, so per-band equi-joins on
    * the masked fingerprint find every qualifying pair with no false
    * negatives — LSH banding's shape with a provable-recall guarantee.
    * Candidates then verify with the exact popcount distance.
    *
    * `maxDist` defaults to bands − 1 (the largest radius the pigeonhole
    * covers; a smaller radius only tightens the verify). Pairs are
    * canonical (id_a < id_b); identical fingerprints meet through every
    * band and come out once (the distinct eats the multiplicity).
    *
    * Scale shape: one signature pass (md5 witness circuit — the
    * engine-portable form, like the minhash family), `bands` equi-joins
    * keyed on bandBits-wide masked values, one (id_a, id_b) exchange for
    * the distinct, popcount verify in-stage. Nothing all-pairs; band-key
    * selectivity grows with bandBits, so at corpus scale widen `bits`
    * (the 64-bit [[org.apache.spark.sql.graft.SimHash64]] kernel) rather
    * than shrinking bands. Reference behavior: taps has no similarity
    * machinery — [EXT] training-pipeline family. */
  def simhashHammingPairs(docs: DataFrame, idCol: String, textCol: String,
                          bits: Int = 48, bands: Int = 4,
                          maxDist: Int = -1): DataFrame = {
    require(bands >= 2 && bits % bands == 0,
      s"bands must be >= 2 and divide bits, got $bands over $bits")
    val d = if (maxDist < 0) bands - 1 else maxDist
    require(d <= bands - 1,
      s"pigeonhole covers maxDist <= bands - 1 = ${bands - 1}, got $d")
    val sig = simhashMd5(docs, idCol, textCol, bits).localCheckpoint()
    val result = hammingBandPairs(sig, idCol, "simhash", bits, bands, d)
      .localCheckpoint()
    freeCheckpoints(sig)
    result
  }

  /** The pigeonhole-banded hamming self-join SHARED by the text (simhash)
    * and image (aHash) near-dup paths: `bands` disjoint `bits/bands`-bit
    * substrings, any pair at distance ≤ bands − 1 agrees exactly on ≥ 1
    * band, popcount verify. `sig` is any (id, 64-bit-hash) frame; the
    * caller owns its lifecycle (checkpoint before, free after). */
  private[graft] def hammingBandPairs(sig: DataFrame, idCol: String,
                                      hashCol: String, bits: Int,
                                      bands: Int, maxDist: Int): DataFrame = {
    require(bands >= 2 && bits % bands == 0,
      s"bands must be >= 2 and divide bits, got $bands over $bits")
    require(maxDist >= 0 && maxDist <= bands - 1,
      s"pigeonhole covers maxDist <= bands - 1 = ${bands - 1}, got $maxDist")
    val par = sig.sparkSession.sparkContext.defaultParallelism
    val bandBits = bits / bands
    val a = sig.select(col(idCol).as("id_a"), col(hashCol).as("__ha"))
    val b = sig.select(col(idCol).as("id_b"), col(hashCol).as("__hb"))
    val cands = (0 until bands).map { i =>
      val mask = lit(((1L << bandBits) - 1) << (i * bandBits))
      a.withColumn("__k", col("__ha").bitwiseAND(mask))
        .join(b.withColumn("__k", col("__hb").bitwiseAND(mask)), "__k")
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("__ha"), col("__hb"))
    }.reduce(_ unionByName _)
    cands
      .repartition(par, col("id_a"), col("id_b"))
      .distinct()
      .withColumn("hamming", hamming(col("__ha"), col("__hb")))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Stage 1 of [[jaccardJoinExact]]: REP COLLAPSE — the same clone-group
    * defense as the minhash family: a boilerplate corpus puts hundreds of
    * identical token sets in one group, and every clone pair shares every
    * prefix token, so a doc-level prefix join would generate |group|²·p
    * candidates and run the array verify on each (measured 584 s at sf0.1
    * before this restructure, sub-second after). Distinct sets pair ONCE;
    * members expand in-row afterwards, where the pair output is quadratic
    * only because the declared OUTPUT is (as with [[repSets]]).
    * Returns (__ts token-set, __rep, __members). */
  private[graft] def jaccardReps(docs: DataFrame, idCol: String,
                                     textCol: String): DataFrame =
    Query.ensureParallelism(docs)
      .filter(col(textCol).isNotNull &&
        length(translate(col(textCol), " ", "")) > 0)
      .select(col(idCol).as("__id"),
        sort_array(org.apache.spark.sql.graft.DistinctTokens.of(col(textCol)))
          .as("__ts"))
      .groupBy(col("__ts"))
      .agg(min(col("__id")).as("__rep"),
        array_sort(collect_list(col("__id"))).as("__members"))

  /** Stage 2 of [[jaccardJoinExact]]: global token order = SET-level
    * document frequency, rarest first (any total order preserves
    * exactness; set-level df also makes every prefix token rare AMONG
    * REPS, so join buckets stay bounded). Returns
    * (__rep, __ots ordered tokens, __sz, __pref prefix slice) with
    * prefix p = sz − ⌈θ·sz⌉ + 1 (integer ceil; p ≥ 1 whenever sz ≥ 1). */
  private[graft] def jaccardOrderedPrefix(reps: DataFrame, thetaNum: Int,
                                              thetaDen: Int): DataFrame = {
    val toks = reps.select(col("__rep"), explode(col("__ts")).as("token"))
    val dfTbl = toks.groupBy(col("token")).agg(count(lit(1)).as("__df"))
    toks.join(dfTbl, Seq("token"))
      .groupBy(col("__rep"))
      .agg(sort_array(collect_list(struct(col("__df"), col("token")))).as("__st"))
      .select(col("__rep"),
        expr("transform(__st, x -> x.token)").as("__ots"),
        size(col("__st")).as("__sz"))
      .withColumn("__pref", expr(
        s"slice(__ots, 1, __sz - (($thetaNum * __sz + $thetaDen - 1) div $thetaDen) + 1)"))
  }

  /** How the exact rep-pair joins differ, as data, so one kernel
    * ([[exactRepPairs]]) serves all of them. The MEASURE (jaccard or
    * containment at θ = num/den) fixes the size prune, the upper-bound
    * gate, the build side's tokens and the merge verify; the FORM (self
    * or cross-corpus) fixes the side filters on the `__corp` tag
    * (0 = incoming = probe, 1 = reference = build) and the pair order. */
  private[graft] final class PairForm(thetaNum: Int, thetaDen: Int,
                                      containment: Boolean, cross: Boolean) {
    /** Rep columns the form reads besides `__rep` and the tokens. */
    val carry: Seq[String] = if (cross) Seq("__corp") else Nil
    val probe: Column = if (cross) col("__corp") === 0 else lit(true)
    val build: Column = if (cross) col("__corp") === 1 else lit(true)
    /** Across corpora the split is the orientation; a self join keeps
      * jaccard pairs unordered (a < b) and containment pairs ordered
      * (a ≠ b: (a⊆b) and (b⊆a) are different facts). */
    val order: Column =
      if (cross) lit(true)
      else if (containment) col("__ra") =!= col("__rb")
      else col("__ra") < col("__rb")
    /** Jaccard is size-symmetric, so the build side exposes its prefix
      * too; any superset contains, so a container exposes ALL its
      * ordered tokens. */
    val buildTokens: String = if (containment) "__ots" else "__pref"
    /** Lossless size prune over the candidate sizes (__sa, __sb):
      * num·max ≤ den·min (jaccard), num·|A| ≤ den·|B| (containment). */
    val sizeGate: Column =
      if (containment) lit(thetaNum) * col("__sa") <= lit(thetaDen) * col("__sb")
      else lit(thetaNum) * greatest(col("__sa"), col("__sb")) <=
        lit(thetaDen) * least(col("__sa"), col("__sb"))
    /** ub ≥ α: (num+den)·ub ≥ num·(sa+sb) for J ≥ num/den, den·ub ≥
      * num·sa for containment(A in B) ≥ num/den. With ub an overlap
      * BOUND it is the positional and suffix filter; with ub the exact
      * overlap it is the bitmap θ gate. */
    def ubGate(ub: Column, sa: Column, sb: Column): Column =
      if (containment) lit(thetaDen) * ub >= lit(thetaNum) * sa
      else lit(thetaNum + thetaDen) * ub >= lit(thetaNum) * (sa + sb)
    /** Fused merge verify over two lexicographically sorted token arrays:
      * the exact overlap, or -1 once the rest cannot reach α. */
    def verify(ta: Column, tb: Column): Column =
      if (containment)
        org.apache.spark.sql.graft.SortedContainGate.of(ta, tb, thetaNum, thetaDen)
      else org.apache.spark.sql.graft.SortedOverlapGate.of(ta, tb, thetaNum, thetaDen)
  }

  /** THE exact rep-pair kernel of the jaccard/containment family: every
    * pair of `reps` (checkpointed [[jaccardReps]], plus `__corp` for a
    * cross form) that passes the θ gate, as (__ra, __rb, __i overlap,
    * __la, __lb set sizes), with the checkpoints the caller frees once
    * its result is materialized. Dense-vocab rep tables take the
    * popcount join ([[bitmapMasks]] gate, [[bitmapPairs]]); the rest take
    * the PPJoin prefix filter, whose ordered prefixes are checkpointed
    * once (they feed both sides of the candidate join). Same-set (clone)
    * pairs and member expansion stay with the caller. */
  private def exactRepPairs(reps: DataFrame, thetaNum: Int, thetaDen: Int,
                            containment: Boolean, cross: Boolean)
      : (DataFrame, Seq[DataFrame]) = {
    val form = new PairForm(thetaNum, thetaDen, containment, cross)
    bitmapMasks(reps, form.carry) match {
      case Some(m) => (bitmapPairs(m, form), Nil)
      case None =>
        val ordered = jaccardOrderedPrefix(reps, thetaNum, thetaDen)
        val sorted = (if (form.carry.isEmpty) ordered
          else ordered.join(reps.select(("__rep" +: form.carry).map(col): _*),
            Seq("__rep"))).localCheckpoint()
        (verifiedPairs(reps, sorted, form), Seq(sorted))
    }
  }

  /** Stage 3 of the prefix filter: the candidate pair set — LIGHT rows
    * only (rep id + size + match position): a pair sharing several prefix
    * tokens meets several times, so the scalar distinct runs BEFORE any
    * array work (a 6× verify cut on the fixture corpus), and the arrays
    * attach afterwards through joins against the small rep table. The
    * explicit-count repartitions pin the pair-emitting join's and the
    * verify stage's parallelism: their inputs are byte-light but
    * compute-dense, exactly the shape AQE's byte-based coalescing
    * serializes onto one core (skill-book lesson; measured 272 s →
    * seconds at sf0.1). The probe side always meets on its PREFIX; the
    * build side on [[PairForm.buildTokens]].
    *
    * POSITIONAL FILTER (full PPJoin, Xiao et al. 2008): a row meeting on
    * a prefix token at 0-based positions (pa, pb) bounds the overlap by
    * ubound = min(sa − pa, sb − pb) — only tokens at-or-after the match
    * can still intersect — so rows whose ubound fails the form's
    * [[PairForm.ubGate]] cannot witness a qualifying pair. Exactness
    * survives because the filter runs PER-ROW, before the scalar
    * distinct: for a true pair the MINIMAL shared token (global order)
    * has every intersection token at or after it in both arrays (both
    * are ordered by the SAME global order, container side included), so
    * ITS row always passes — dropping the other meetings only removes
    * duplicates the distinct would eat. `positional = false` keeps the
    * pre-r10 size-only pruning (spec / diagnostics use it to measure the
    * filter's candidate cut). */
  private[graft] def prefixCandidates(sorted: DataFrame, form: PairForm,
                                      positional: Boolean = true): DataFrame = {
    val par = sorted.sparkSession.sparkContext.defaultParallelism
    // SALTED pair-emitting join: a small-vocabulary corpus has fewer
    // prefix tokens than cores (the fixture: 31 tokens, 32 threads), so a
    // plain token-keyed shuffle join caps parallelism at the token count
    // and serializes on hot tokens. Salting spreads each token's probe
    // rows over `salts` buckets (pa rides exactly one salt, pb replicates
    // to all — pair multiplicity unchanged, so exactness and the distinct
    // are untouched); replication cost is salts × prefix-row count on the
    // build side only — the standard skew recipe [[Skew.saltedJoin]].
    val salts = 8
    val pa = sorted.filter(form.probe)
      .select(col("__rep").as("__ra"), col("__sz").as("__sa"),
        posexplode(col("__pref")).as(Seq("__pa", "__ptok")))
      .withColumn("__salt", pmod(hash(col("__ra")), lit(salts)))
      .repartition(par, col("__ptok"), col("__salt"))
    val pb = sorted.filter(form.build)
      .select(col("__rep").as("__rb"), col("__sz").as("__sb"),
        posexplode(col(form.buildTokens)).as(Seq("__pb", "__ptok")))
      .withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))
      .repartition(par, col("__ptok"), col("__salt"))
    val met = pa.join(pb, Seq("__ptok", "__salt"))
      .filter(form.order)
      .filter(form.sizeGate)
    // ONE exchange for the dedup AND the parallelism pin: the explicit
    // repartition hash-partitions on exactly the fold's grouping keys,
    // so the aggregation reuses it (no second exchange), and AQE never
    // coalesces a user-specified repartition — the byte-light candidate
    // stream keeps `par`-way parallelism into the verify stage.
    if (positional)
      suffixFoldedPairs(
        met.filter(form.ubGate(
          least(col("__sa") - col("__pa"), col("__sb") - col("__pb")),
          col("__sa"), col("__sb"))),
        par)(form.ubGate)
    else met.select(col("__ra"), col("__rb"))
      .repartition(par, col("__ra"), col("__rb"))
      .distinct()
  }

  /** GROUPED SUFFIX FILTER (r15): the scalar distinct is an aggregation
    * anyway, so it folds the per-pair evidence instead of discarding it:
    * o = matched prefix tokens, (xa, xb) = the LAST match's positions.
    * Both arrays are ordered by the SAME global df order, so the
    * highest-ordered matched token sits at xa in A and xb in B, and any
    * UNCOUNTED common token is ordered after it — at positions > xa and
    * > xb — giving the exact bound |A ∩ B| ≤ o + min(sa−1−xa, sb−1−xb).
    * Pairs whose bound can't reach α die HERE, before the array joins
    * and the merge verify — PPJoin's suffix-filter effect at zero extra
    * exchange (the groupBy rides the same (ra, rb) repartition the
    * distinct used). Output-identical: the verify gate re-checks the
    * true α on the full sets, and every dropped pair had i ≤ ub < α. */
  private def suffixFoldedPairs(met: DataFrame, par: Int)
                               (ubGate: (Column, Column, Column) => Column): DataFrame = {
    met.select(col("__ra"), col("__rb"), col("__pa"), col("__pb"),
        col("__sa"), col("__sb"))
      .repartition(par, col("__ra"), col("__rb"))
      .groupBy(col("__ra"), col("__rb"))
      .agg(count(lit(1)).as("__o"), max(col("__pa")).as("__xa"),
        max(col("__pb")).as("__xb"), max(col("__sa")).as("__sa"),
        max(col("__sb")).as("__sb"))
      .filter(ubGate(
        col("__o") + least(col("__sa") - 1 - col("__xa"),
          col("__sb") - 1 - col("__xb")),
        col("__sa"), col("__sb")))
      .select(col("__ra"), col("__rb"))
  }

  /** Stage 4 of the prefix filter: candidates verified at REP level —
    * (__ra, __rb, __i inter size, __la, __lb set sizes), θ guaranteed.
    * Verify arrays come from reps' LEXICOGRAPHIC token sets (not the
    * df-ordered prefix arrays): [[PairForm.verify]] merge-intersects two
    * sorted arrays in one fused codegen'd pass — no per-pair hash set,
    * and the θ gate folded into the loop aborts a failing pair the
    * moment the remaining elements can't reach α (PPJoin's verify
    * early-exit). Exactness spec-pinned against the array_intersect +
    * integer-gate composition. */
  private def verifiedPairs(reps: DataFrame, sorted: DataFrame,
                            form: PairForm): DataFrame = {
    val candIds = prefixCandidates(sorted, form)
    val arrA = reps.filter(form.probe)
      .select(col("__rep").as("__ra"), col("__ts").as("__ta"),
        size(col("__ts")).cast("long").as("__la"))
    val arrB = reps.filter(form.build)
      .select(col("__rep").as("__rb"), col("__ts").as("__tb"),
        size(col("__ts")).cast("long").as("__lb"))
    // the gate is a one-element explode, not a Project alias: Catalyst
    // would inline an aliased `__i` into the `__i >= 0` filter, fold that
    // into the join condition and run the whole merge twice per pair
    candIds.join(arrA, Seq("__ra")).join(arrB, Seq("__rb"))
      .select(col("__ra"), col("__rb"),
        explode(array(form.verify(col("__ta"), col("__tb")))).as("__i"),
        col("__la"), col("__lb"))
      .filter(col("__i") >= 0L)
  }

  /** Past this rep count the bitmap join's quadratic popcount work
    * (≈ 0.5 G evals at the cap) loses to the prefix filter's candidate
    * bound. */
  private val BitmapMaxReps = 32768L

  /** DENSE-VOCAB BITMAP fast path for the exact jaccard/containment
    * families (optimization r18; guide §2.3 "shuffle fewer bytes" and
    * §2.4 "remove shuffles outright"): when the corpus' GLOBAL
    * distinct-token count fits one BIGINT (≤ 64 bits), every rep's token
    * set packs into a single mask, `bit_count(mask_a & mask_b)` IS the
    * exact intersection size, and the whole prefix-filter candidate
    * pipeline — token posexplode, ×8 salt replication, the
    * (token, salt) exchange, the per-pair suffix fold and the
    * sorted-array merge verify — collapses to ONE broadcast nested-loop
    * join over the rep table with a codegen'd popcount gate: ZERO
    * exchanges on the pair stream and no array churn. The dense-vocab
    * regime is real at scale (categorical attribute sets, tag/SKU
    * baskets — and this fixture's 31-token vocabulary); a large-vocab
    * corpus fails the 65-token probe on a dictionary-sized job and takes
    * the prefix-filter path unchanged.
    *
    * Gate, cheapest test first: (1) the rep table fits
    * `graft.graph.broadcastLimitBytes` ([[Graph.resolveBroadcast]] —
    * measured block bytes of the checkpointed reps, no job; they bound
    * the broadcast mask table); (2) rep count ≤ [[BitmapMaxReps]];
    * (3) distinct tokens ≤ 64. The byte limit is the only selector: 0
    * forces the prefix-filter twin on any non-empty rep table. Returns
    * (__rep [, carry…], __m, __sz) or None.
    *
    * Bit assignment is the sorted token order — any assignment yields
    * the same popcounts, sorting just keeps plans/specs deterministic. */
  private[graft] def bitmapMasks(reps: DataFrame,
                                 carryCols: Seq[String] = Nil): Option[DataFrame] = {
    if (!Graph.resolveBroadcast(reps) || reps.count() > BitmapMaxReps)
      return None
    val toks = reps.select(explode(col("__ts")).as("__t"))
      .distinct().orderBy(col("__t")).limit(65)
      .collect().map(_.getString(0))
    if (toks.length > 64) return None
    // token → bit as a MAP literal: the in-row fold is a pure projection
    // over the checkpointed rep table — no dictionary join, no exchange
    val dict = if (toks.isEmpty) map()
      else map(toks.sorted.zipWithIndex.flatMap { case (t, i) =>
        Seq(lit(t), lit(i)) }: _*)
    Some(reps.select(col("__rep") +: carryCols.map(col) :+
      aggregate(col("__ts"), lit(0L), (acc, x) =>
        acc.bitwiseOR(call_function("shiftleft", lit(1L),
          element_at(dict, x)))).as("__m") :+
      size(col("__ts")).cast("long").as("__sz"): _*))
  }

  /** All-pairs popcount join over the bitmap rep table: the exact
    * verified pair set (__ra, __rb, __i, __la, __lb) of the prefix
    * filter's [[verifiedPairs]] for the same form — probe side
    * repartitioned, build side broadcast, the form's pair order and
    * [[PairForm.ubGate]] on the exact popcount as the join CONDITION, so
    * only qualifying pairs ever materialize; the build side is
    * rep-count-bounded by the [[bitmapMasks]] gate. */
  private def bitmapPairs(masks: DataFrame, form: PairForm): DataFrame = {
    // tiny-input/pair-emitting join: the probe side is rep-count rows but
    // the output is the (potentially dense) pair stream, and the nested-
    // loop join inherits the probe's AQE-coalesced partitioning (often 1)
    // — pin explicit-count parallelism (REPARTITION_BY_NUM is never AQE-
    // coalesced) so the popcount gate AND everything downstream of the
    // pair stream fan across cores (the r13 levenshtein-verify lesson)
    val par = masks.sparkSession.sparkContext.defaultParallelism
    val a = masks.filter(form.probe)
      .select(col("__rep").as("__ra"), col("__m").as("__bma"),
        col("__sz").as("__la")).repartition(par)
    val b = broadcast(masks.filter(form.build)
      .select(col("__rep").as("__rb"), col("__m").as("__bmb"),
        col("__sz").as("__lb")))
    val i = call_function("bit_count",
      col("__bma").bitwiseAND(col("__bmb"))).cast("long")
    a.join(b, form.order && form.ubGate(i, col("__la"), col("__lb")))
      .select(col("__ra"), col("__rb"), i.as("__i"), col("__la"), col("__lb"))
  }

  /** Multi-threshold dedup PLANNING from one pipeline run at the LOOSEST
    * threshold: exact qualifying-pair COUNTS at each θ ∈ `thetasPct`
    * (percent, e.g. 70/80/90) — how a curation run picks its threshold
    * without re-running candidate generation per θ, and without ever
    * materializing the doc-level pair expansion the full join pays. A
    * verified rep pair (A, B) contributes |members(A)|·|members(B)|
    * distinct doc pairs (different token sets ⇒ disjoint member sets), a
    * clone family of m docs contributes C(m,2) at EVERY θ (J = 1), and no
    * doc pair is counted twice (a doc has exactly one token set) — so the
    * integer size products ARE the pair counts (spec-pinned against the
    * expand-then-count formulation). The θ gate replays the exact integer
    * form 100·i ≥ θ·(|A|+|B|−i) over the min-θ verified pairs. */
  def jaccardThresholdSweep(docs: DataFrame, idCol: String, textCol: String,
                            thetasPct: Seq[Int]): DataFrame = {
    require(thetasPct.nonEmpty && thetasPct.forall(t => t > 0 && t <= 100),
      s"thetasPct must be percentages in (0, 100], got $thetasPct")
    val tmin = thetasPct.min
    val reps = jaccardReps(docs, idCol, textCol).localCheckpoint()
    val (rp, sorted) = exactRepPairs(reps, tmin, 100,
      containment = false, cross = false)
    val cnt = reps.select(col("__rep"),
      size(col("__members")).cast("long").as("__c"))
    val thetaArr = array(thetasPct.map(lit(_)): _*)
    val cross = rp
      .join(cnt.select(col("__rep").as("__ra"), col("__c").as("__ca")), Seq("__ra"))
      .join(cnt.select(col("__rep").as("__rb"), col("__c").as("__cb")), Seq("__rb"))
      .select(explode(thetaArr).as("theta_pct"), col("__i"), col("__la"),
        col("__lb"), (col("__ca") * col("__cb")).as("__n"))
      .filter(lit(100L) * col("__i") >=
        col("theta_pct").cast("long") * (col("__la") + col("__lb") - col("__i")))
      .select(col("theta_pct"), col("__n"))
    val same = reps.filter(size(col("__members")) > 1)
      .select(size(col("__members")).cast("long").as("__m"))
      .select(explode(thetaArr).as("theta_pct"),
        expr("(__m * (__m - 1)) div 2").as("__n"))
    val result = cross.unionByName(same)
      .groupBy(col("theta_pct"))
      .agg(sum(col("__n")).as("n_pairs"))
      .localCheckpoint()
    freeCheckpoints(reps +: sorted: _*)
    result
  }

  /** Cross-corpus EXACT-recall jaccard join at θ = num/den: every
    * (incoming, reference) doc pair with J ≥ θ — the audit-grade exact
    * twin of [[dropNearDupsAgainst]]'s LSH screen (what a decontamination
    * audit thresholds on). Same machinery as [[jaccardJoinExact]]:
    * per-SIDE rep collapse (identical sets on opposite sides stay two
    * reps), ONE global rarest-first token order computed over BOTH sides'
    * reps, prefix join with size + positional pruning, codegen'd
    * merge-verify — but candidates pair ACROSS corpora only, so there is
    * no a < b canonicalization and no same-set expansion (a J = 1
    * cross pair meets through its shared prefix like any other pair).
    * Doc ids must be unique ACROSS both corpora (rep ids live in one
    * id space). Returns (id_in, id_ref, inter_size, size_in, size_ref,
    * jaccard). */
  def jaccardJoinAgainst(inc: DataFrame, ref: DataFrame, idCol: String,
                         textCol: String, thetaNum: Int,
                         thetaDen: Int): DataFrame = {
    require(thetaNum > 0 && thetaDen > 0 && thetaNum <= thetaDen,
      s"theta must be a rational in (0,1], got $thetaNum/$thetaDen")
    val reps = jaccardReps(inc, idCol, textCol).withColumn("__corp", lit(0))
      .unionByName(
        jaccardReps(ref, idCol, textCol).withColumn("__corp", lit(1)))
      .localCheckpoint()
    // the kernel's vocab probe and token order span BOTH sides' reps
    val (repPairs, sorted) = exactRepPairs(reps, thetaNum, thetaDen,
      containment = false, cross = true)
    val memA = reps.filter(col("__corp") === 0)
      .select(col("__rep").as("__ra"), col("__members").as("__mas"))
    val memB = reps.filter(col("__corp") === 1)
      .select(col("__rep").as("__rb"), col("__members").as("__mbs"))
    val result = memberPairs(repPairs.join(memA, Seq("__ra")).join(memB, Seq("__rb")),
        col("__mas"), col("__mbs"), col("__i"), col("__la"), col("__lb"))
      .select(col("__ma").as("id_in"), col("__mb").as("id_ref"),
        col("__i").as("inter_size"),
        col("__la").as("size_in"), col("__lb").as("size_ref"))
      .withColumn("jaccard", col("inter_size").cast("double") /
        (col("size_in") + col("size_ref") - col("inter_size")))
      .localCheckpoint()
    freeCheckpoints(reps +: sorted: _*)
    result
  }

  /** EXACT-recall set-similarity self-join (AllPairs/PPJoin prefix-filter
    * family, Bayardo et al. 2007 / Xiao et al. 2008): every pair of
    * documents whose token-set Jaccard ≥ θ = `thetaNum`/`thetaDen`, with
    * NO false negatives — the guarantee the minhash-LSH family
    * ([[minhashPairs]]) deliberately trades away. Use LSH for the routine
    * corpus pass; use this when recall must be provable (contamination
    * audits, legal-hold dedup, evaluating the LSH miss rate itself).
    *
    * Candidate pruning is the PREFIX FILTER: tokens are ordered by global
    * document frequency (rarest first, ties by token — a total order both
    * engines replay), each document keeps its first p = |d| − ⌈θ·|d|⌉ + 1
    * tokens, and candidates meet through a plain equi-join on a shared
    * PREFIX token. Exactness: if J(A,B) ≥ θ then o = |A∩B| ≥ ⌈θ·|A|⌉,
    * and the MINIMAL shared token (global order) has ≥ o−1 intersection
    * tokens after it in both documents, so it sits within both prefixes —
    * the equi-join cannot miss a qualifying pair. Skew-resistance falls
    * out of the same ordering: prefix tokens are each document's RAREST
    * tokens, so join buckets are bounded by design (the stopword bucket
    * never forms).
    *
    * Scale shape: one broadcast-or-shuffle df join + one id-keyed exchange
    * build the ordered token arrays; the candidate join shuffles prefix
    * rows only (p ≪ |d| per doc — at θ=0.8, a fifth of each document).
    * Candidate rows are scalar-width (rep id, size, match position) and
    * pass three cheap integer gates — the size-ratio filter
    * num·max ≤ den·min, then the PPJoin POSITIONAL upper bound
    * (num+den)·min(szₐ−pₐ, szᵦ−pᵦ) ≥ num·(szₐ+szᵦ) — before a scalar
    * `distinct` collapses the several meetings of a pair to ONE row.
    * Only then do the token arrays attach (two joins against the small
    * rep table) for exactly one in-row merge verify per surviving pair
    * ([[PairForm.verify]]), gated by den·o ≥ num·(|A|+|B|−o). The distinct
    * exchange never carries token arrays (the r7 wide-row lesson), and
    * the positional filter prunes candidates even when every document
    * shares a prefix token. */
  def jaccardJoinExact(docs: DataFrame, idCol: String, textCol: String,
                       thetaNum: Int, thetaDen: Int): DataFrame = {
    require(thetaNum > 0 && thetaDen > 0 && thetaNum <= thetaDen,
      s"theta must be a rational in (0,1], got $thetaNum/$thetaDen")
    // materialize the shared stages ONCE: reps feeds the token-df join,
    // both verify array sides, the member expansion, and the same-set
    // pairs; the kernel's sorted prefixes feed both sides of the
    // candidate join. Un-checkpointed, each
    // consumer re-runs the final aggregation past the reused exchange
    // (ReuseExchange shares only the exchange subtree) — the pagerank
    // lesson applied to a DAG instead of a loop. Blocks are freed
    // explicitly below once the result is materialized (the r5 leak
    // lesson: localCheckpoint blocks are invisible to clearCache).
    // Dense-vocab corpora skip `sorted` entirely (bitmapMasks doc).
    val reps = jaccardReps(docs, idCol, textCol).localCheckpoint()
    val (repPairs, sorted) = exactRepPairs(reps, thetaNum, thetaDen,
      containment = false, cross = false)
    // 4. expand members in-row (rep-id joins against the small rep table;
    // sizes swap with the id canonicalization), plus the in-group pairs
    val repsA = reps.select(col("__rep").as("__ra"), col("__members").as("__mas"))
    val repsB = reps.select(col("__rep").as("__rb"), col("__members").as("__mbs"))
    val cross = memberPairs(repPairs.join(repsA, Seq("__ra")).join(repsB, Seq("__rb")),
        col("__mas"), col("__mbs"), col("__i"), col("__la"), col("__lb"))
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"),
        col("__i").as("inter_size"),
        when(col("__ma") < col("__mb"), col("__la")).otherwise(col("__lb"))
          .as("size_a"),
        when(col("__ma") < col("__mb"), col("__lb")).otherwise(col("__la"))
          .as("size_b"))
    val same = sameSetPairs(reps, ordered = false,
        size(col("__ts")).cast("long").as("__sz"))
      .select(col("__ma").as("id_a"), col("__mb").as("id_b"),
        col("__sz").as("inter_size"), col("__sz").as("size_a"),
        col("__sz").as("size_b"))
    val result = cross.unionByName(same)
      .withColumn("jaccard", col("inter_size").cast("double") /
        (col("size_a") + col("size_b") - col("inter_size")))
      .localCheckpoint()
    freeCheckpoints(reps +: sorted: _*)
    result
  }

  /** EXACT-recall set-CONTAINMENT self-join: every ORDERED doc pair
    * (a, b) with |tokens(a) ∩ tokens(b)| ≥ ⌈θ·|tokens(a)|⌉ — the
    * "document a is subsumed by document b" dedup primitive (boilerplate
    * wrappers, quote posts, partial mirrors), which jaccard misses
    * whenever the container is much larger than the contained doc.
    *
    * Same scale skeleton as [[jaccardJoinExact]] — rep collapse, rarest-
    * first global token order, prefix-filtered candidate join, fused
    * merge verify, in-row member expansion — with the CONTAINMENT
    * asymmetries: (1) the prefix cut applies to the PROBE (contained)
    * side only — p = sz − ⌈θ·sz⌉ + 1, the same slice
    * [[jaccardOrderedPrefix]] already computes — while the build
    * (container) side exposes ALL its ordered tokens (any superset
    * qualifies, so no size-symmetric cut exists); (2) the size prune is
    * one-directional (den·|B| ≥ num·|A|); (3) the positional filter
    * bounds overlap by min(sa − pa, sb − pb) ≥ α = ⌈num·sa/den⌉ — exact
    * by the same minimal-shared-token argument, which holds on the build
    * side too because B's array is ordered by the SAME global order, so
    * every intersection token sits at-or-after the minimal one in both
    * arrays; (4) verify is [[SortedContainGate]], the asymmetric-α twin
    * of the jaccard gate; (5) pairs stay ORDERED (no canonicalization —
    * (a⊆b) and (b⊆a) are different facts), and clone families contribute
    * all ordered pairs at containment 1. Candidate volume stays
    * rep-level and prefix-bounded — nothing all-pairs, the 100 TB story
    * of the jaccard join unchanged. */
  def containmentJoinExact(docs: DataFrame, idCol: String, textCol: String,
                           thetaNum: Int, thetaDen: Int): DataFrame = {
    require(thetaNum > 0 && thetaDen > 0 && thetaNum <= thetaDen,
      s"theta must be a rational in (0,1], got $thetaNum/$thetaDen")
    val reps = jaccardReps(docs, idCol, textCol).localCheckpoint()
    val (repPairs, sorted) = exactRepPairs(reps, thetaNum, thetaDen,
      containment = true, cross = false)
    // ordered member expansion — contained ids from ra, container ids
    // from rb, NO least/greatest swap
    val repsA = reps.select(col("__rep").as("__ra"), col("__members").as("__mas"))
    val repsB = reps.select(col("__rep").as("__rb"), col("__members").as("__mbs"))
    val cross = memberPairs(repPairs.join(repsA, Seq("__ra")).join(repsB, Seq("__rb")),
        col("__mas"), col("__mbs"), col("__i"), col("__la"), col("__lb"))
      .select(col("__ma").as("id_a"), col("__mb").as("id_b"),
        col("__i").as("inter_size"), col("__la").as("size_a"),
        col("__lb").as("size_b"))
    // clone families: identical sets ⇒ containment 1 both ways — all
    // ordered pairs
    val same = sameSetPairs(reps, ordered = true,
        size(col("__ts")).cast("long").as("__sz"))
      .select(col("__ma").as("id_a"), col("__mb").as("id_b"),
        col("__sz").as("inter_size"), col("__sz").as("size_a"),
        col("__sz").as("size_b"))
    val result = cross.unionByName(same)
      .withColumn("containment",
        col("inter_size").cast("double") / col("size_a"))
      .localCheckpoint()
    freeCheckpoints(reps +: sorted: _*)
    result
  }

  /** ASYMMETRIC cross-corpus CONTAINMENT drop: remove every incoming
    * doc whose token set is ≥ θ-contained in ANY reference doc — the
    * benchmark-decontamination / "quoted-from-the-reference-corpus"
    * filter that jaccard-based cross-dedup misses whenever the reference
    * doc is much larger than the quote. Returns the SURVIVING incoming
    * doc ids; the reference is never dropped and incoming-internal dups
    * are untouched (that's the self-join families' job).
    *
    * Scale skeleton = [[jaccardJoinAgainst]] × [[containmentJoinExact]]:
    * rep collapse PER SIDE, ONE global set-df token order over both
    * sides' reps, prefix cut on the INCOMING (contained/probe) side
    * only, the reference (container/build) side exposing ALL its
    * ordered tokens, one-directional size prune, asymmetric-α
    * positional filter, [[SortedContainGate]] merge verify, and the
    * drop decided at REP level (an anti-join against the dropped rep
    * set — the doc-level pair expansion is never materialized, the
    * dropNearDups discipline). Identical cross-side sets drop at
    * containment 1 through the same candidate path (a full prefix
    * match always meets). */
  def containmentDropAgainst(reference: DataFrame, incoming: DataFrame,
                             idCol: String, textCol: String,
                             thetaNum: Int, thetaDen: Int): DataFrame = {
    require(thetaNum > 0 && thetaDen > 0 && thetaNum <= thetaDen,
      s"theta must be a rational in (0,1], got $thetaNum/$thetaDen")
    val reps = jaccardReps(incoming, idCol, textCol).withColumn("__corp", lit(0))
      .unionByName(
        jaccardReps(reference, idCol, textCol).withColumn("__corp", lit(1)))
      .localCheckpoint()
    // the drop stays decided at REP level
    val (repPairs, sorted) = exactRepPairs(reps, thetaNum, thetaDen,
      containment = true, cross = true)
    val droppedReps = repPairs.select(col("__ra")).distinct()
    val result = reps.filter(col("__corp") === 0)
      .join(droppedReps.withColumnRenamed("__ra", "__rep"),
        Seq("__rep"), "left_anti")
      .select(explode(col("__members")).as("doc_id"))
      .localCheckpoint()
    freeCheckpoints(reps +: sorted: _*)
    result
  }
}
