package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Corpus curation operators a large-scale training-data pipeline needs
 * beyond dedup (SURVEY §2.11 [EXT]): benchmark decontamination and
 * k-anonymity suppression.
 *
 * Both are declarative DataFrame plans — no UDFs, no driver-side loops —
 * so Catalyst owns the physical strategy and they scale with the corpus.
 */
object Curation {

  /** Distinct word n-grams of a projected [[Text.tokens]] column — the
    * token stream the dedup family uses. Documents shorter than n tokens,
    * and NULL documents, have none. */
  private def gramArray(toks: Column, n: Int): Column =
    array_distinct(Text.grams(toks, n))

  /** 60-bit md5-prefix hash of a gram ([[Text.md5Prefix]], 15 hex digits)
    * — fixed 8-byte join keys instead of variable-length strings (the
    * shuffle-byte economics that matter at corpus scale), replayed by the
    * oracle. 60 bits rather than 40: at a realistic ~1e7 distinct
    * benchmark grams, a 40-bit space gives each train gram ~1e-5 false-hit
    * probability — ~1% of 1000-gram documents falsely dropped as
    * contaminated — while 60 bits pushes that to ~1e-11 per gram.
    * SpanDedup's gram hash is the same. */
  private[graft] def gramHashMd5(g: Column): Column = Text.md5Prefix(g, 15)

  /** The production gram hashes of a document
    * ([[org.apache.spark.sql.graft.WordGramHashes]]), with NULL text
    * coalesced to "" first: the kernel propagates NULL, but the witness's
    * [[gramArray]] treats NULL text as zero grams — the empty-string path
    * gives the identical (0, 0, 0) row, keeping the full oracle and
    * witness contracts exact. */
  private def gramHashes(textCol: Column, n: Int): Column =
    org.apache.spark.sql.graft.WordGramHashes.of(coalesce(textCol, lit("")), n)

  /** Benchmark decontamination: for every training document, count how many
    * of its distinct word `n`-grams appear ANYWHERE in the held-out
    * benchmark corpus `bench`. Returns one row per training doc:
    * (id, n_grams_distinct, n_overlap, contaminated 0/1) — callers drop
    * `contaminated = 1` (the standard n-gram-overlap decontamination pass
    * run before pretraining, cf. the GPT-3/PaLM appendix methodology).
    *
    * Scale shape: the benchmark gram set is tiny next to the corpus
    * (benchmarks are MBs, corpora are TBs), so it is deduped and BROADCAST;
    * the training side streams map-side through the hash join — the only
    * shuffles are the benchmark-side distinct and the per-doc overlap
    * count. If the "benchmark" ever rivals the corpus, drop the broadcast
    * hint and Catalyst falls back to a shuffle hash join with the same
    * semantics. */
  def decontaminate(train: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val benchGrams = Query.ensureParallelism(bench)
      .select(Text.tokens(col(textCol)).as("__t"))
      .select(explode(gramArray(col("__t"), n)).as("__g"))
      .select(gramHashMd5(col("__g")).as("__gh"))
      .distinct()
    // ONE gram pass over the corpus: the per-doc distinct-gram count and
    // the exploded gram stream derive from the SAME projected array
    // (building the grams twice — once for the count, once for the join —
    // doubled the dominant cost, the gram construction itself).
    // explode_outer keeps gram-less docs as a single null-gram row, which
    // can never match, so they surface with n_overlap = 0 without a second
    // pass over `train`. The per-doc overlap count partially aggregates
    // map-side, so the one exchange carries |docs| rows, not |grams|.
    Query.ensureParallelism(train)
      .select(col(idCol), Text.tokens(col(textCol)).as("__t"))
      .select(col(idCol), gramArray(col("__t"), n).as("__grams"))
      .select(col(idCol), size(col("__grams")).as("n_grams_distinct"),
        explode_outer(col("__grams")).as("__g"))
      .select(col(idCol), col("n_grams_distinct"),
        gramHashMd5(col("__g")).as("__gh"))
      .join(broadcast(benchGrams.withColumn("__hit", lit(1))), Seq("__gh"), "left")
      .groupBy(col(idCol), col("n_grams_distinct"))
      .agg(count(col("__hit")).as("n_overlap"))
      .select(col(idCol), col("n_grams_distinct"), col("n_overlap"),
        when(col("n_overlap") > 0, 1).otherwise(0).as("contaminated"))
  }

  /** [[decontaminate]] on the production gram hash
    * ([[org.apache.spark.sql.graft.WordGramHashes]] — ONE fused native
    * kernel per row: byte-span tokenize, xxhash64 per token, rolling
    * n-gram combine, distinct — replacing the witness's per-gram md5
    * digest, gram-string construction, and multi-pass interpreted HOF
    * chain). The hash only mediates set membership, so any
    * injective-enough family gives the identical decontamination verdict
    * (60-bit collision analysis as [[gramHashMd5]]), and the hash never
    * leaves the plan — this variant carries a FULL oracle that joins on
    * the raw gram string. */
  def decontaminateFast(train: DataFrame, bench: DataFrame, idCol: String,
                        textCol: String, n: Int = 3): DataFrame = {
    val benchGrams = Query.ensureParallelism(bench)
      .select(explode(gramHashes(col(textCol), n)).as("__gh"))
      .distinct()
    Query.ensureParallelism(train)
      .select(col(idCol), gramHashes(col(textCol), n).as("__ghs"))
      .select(col(idCol), size(col("__ghs")).as("n_grams_distinct"),
        explode_outer(col("__ghs")).as("__gh"))
      .join(broadcast(benchGrams.withColumn("__hit", lit(1))), Seq("__gh"), "left")
      .groupBy(col(idCol), col("n_grams_distinct"))
      .agg(count(col("__hit")).as("n_overlap"))
      .select(col(idCol), col("n_grams_distinct"), col("n_overlap"),
        when(col("n_overlap") > 0, 1).otherwise(0).as("contaminated"))
  }

  /** [[decontaminateFast]]'s scale path for when the "benchmark" side
    * outgrows a broadcast (contractor eval suites, dedup-against-pretrain
    * corpora): prune the training gram stream with a BLOOM filter over the
    * benchmark gram hashes before the exact join, so the join exchange
    * carries only might-match grams instead of the whole corpus gram
    * stream. False negatives are impossible (bloom guarantee), false
    * positives die in the exact join — the result is BIT-IDENTICAL to
    * [[decontaminateFast]] (spec-pinned), only the physical shape changes:
    *
    *  - per-doc totals come from a map-only pass (`size(grams)` in-row,
    *    no exchange) rather than riding the join;
    *  - the candidate join shuffles only grams the filter passes (for a
    *    selective benchmark that is a ~1/fpp shuffle-byte cut);
    *  - the benchmark side is aggregated DISTRIBUTED into filter bytes
    *    (only ~numBits/8 bytes reach the driver — same bounded-driver
    *    contract as [[Prune.bloomSemiFilter]]), never broadcast as rows.
    *
    * Costs one extra kernel pass over the corpus (totals and candidates
    * cannot share one subtree without the pruning-vs-reuse trap — see
    * the tfidf note in STATUS.md); at 100 TB that map-only pass is cheap
    * next to shuffling the full gram stream into a join against an
    * unbroadcastable benchmark.
    *
    * The distinct benchmark gram set is `localCheckpoint`ed ONCE and both
    * consumers (bloom build, exact join) read the materialized blocks:
    * without it the bloom `.head` and the main action are separate jobs
    * with no cross-action exchange reuse, so the whole benchmark corpus
    * would be tokenized + distinct-shuffled TWICE (r8 verdict task 8 —
    * measured: the checkpoint halves the benchmark-side work and cuts
    * 12 → ~9 job barriers; the blocks are gram-dictionary-sized, the
    * same bounded trade `Dedup.dropNearDupsCC` makes for its final
    * rep list, and are reclaimed when the returned frame is GC'd). */
  def decontaminateBloom(train: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, n: Int = 3,
                         expectedGrams: Long = 1000L * 1000,
                         numBits: Long = 8L * 1024 * 1024): DataFrame = {
    val benchGrams = Query.ensureParallelism(bench)
      .select(explode(gramHashes(col(textCol), n)).as("__gh"))
      .distinct()
      .localCheckpoint()
    val bytes = benchGrams
      .select(org.apache.spark.sql.graft.Internals
        .bloomAgg(xxhash64(col("__gh")), expectedGrams, numBits).as("bf"))
      .head.getAs[Array[Byte]](0)
    val perDoc = Query.ensureParallelism(train)
      .select(col(idCol), size(gramHashes(col(textCol), n)).as("n_grams_distinct"))
    val hits =
      if (bytes == null) perDoc.select(col(idCol)).where(lit(false))
        .withColumn("n_overlap", lit(0L))
      else Query.ensureParallelism(train)
        .select(col(idCol), explode(gramHashes(col(textCol), n)).as("__gh"))
        .where(org.apache.spark.sql.graft.Internals
          .bloomMightContain(bytes, xxhash64(col("__gh"))))
        .join(benchGrams, Seq("__gh"))
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_overlap"))
    perDoc.join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_grams_distinct"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .select(col(idCol), col("n_grams_distinct"), col("n_overlap"),
        when(col("n_overlap") > 0, 1).otherwise(0).as("contaminated"))
  }

  /** Per-doc n-gram NOVELTY: the fraction of a document's distinct word
    * n-grams whose FIRST corpus occurrence (by doc-id order) is in this
    * document — the marginal-diversity score that ranks documents by
    * what they ADD to the corpus (boilerplate re-posts score ~0, fresh
    * content ~1); the curation dual of the decontamination overlap.
    *
    * Shape: one map-only kernel pass for per-doc totals, one exploded
    * kernel pass folded to gram→min(doc) (the gram dictionary — the only
    * corpus-sized exchange), re-folded to per-doc novel counts, one
    * row-sized join. The kernel deliberately runs TWICE rather than
    * checkpointing one shared (doc, grams) frame — the same
    * pruning-vs-reuse trade [[decontaminateBloom]] documents: the
    * checkpoint would persist the corpus-GRAM-sized stream, which at
    * 100 TB costs more than re-running the map-only kernel. The gram
    * hash never leaves the plan (same contract as [[decontaminateFast]]),
    * so the oracle replays raw gram strings.
    * Docs with fewer than n tokens have 0 grams → NULL novelty via the
    * nullif guard, identically cross-engine. */
  def gramNovelty(docs: DataFrame, idCol: String, textCol: String,
                  n: Int = 3): DataFrame = {
    val perDoc = Query.ensureParallelism(docs)
      .select(col(idCol), size(gramHashes(col(textCol), n)).as("n_grams"))
    val novel = Query.ensureParallelism(docs)
      .select(col(idCol), explode(gramHashes(col(textCol), n)).as("__gh"))
      .groupBy(col("__gh")).agg(min(col(idCol)).as(idCol))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        round(coalesce(col("n_novel"), lit(0L)).cast("double") /
          nullif(col("n_grams").cast("double"), lit(0.0)), 6).as("novelty"))
  }

  /** Winsorize a numeric column per group: clip values below the `lo`
    * quantile / above the `hi` quantile of their OWN group — the standard
    * robust-scaling step before numeric features feed a model (outliers
    * capped, not dropped, so row counts and joins are unaffected).
    *
    * Exact `percentile` (sort-based interpolation, the same definition as
    * DuckDB `quantile_cont`, hence a full oracle) rather than
    * `approx_percentile`: the sketch has no cross-engine twin. Two-pass
    * shape: one grouped aggregate whose exchange carries a row per group,
    * joined back (AQE broadcasts the quantile table when groups are few —
    * the common case) and a map-side `least/greatest` clip; the data rows
    * shuffle only if the join does. */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
                lo: Double, hi: Double): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, s"need 0 <= lo < hi <= 1, got ($lo, $hi)")
    val q = df.groupBy(col(groupCol)).agg(
      expr(s"percentile($valueCol, $lo)").as("__qlo"),
      expr(s"percentile($valueCol, $hi)").as("__qhi"))
    df.join(q, Seq(groupCol))
      .withColumn(s"${valueCol}_w",
        least(greatest(col(valueCol), col("__qlo")), col("__qhi")))
      .drop("__qlo", "__qhi")
  }

  /** Median-absolute-deviation outlier report: rows whose |value − group
    * median| exceeds `k` × the group's MAD (median of those absolute
    * deviations) — the robust outlier rule that, unlike a z-score, is not
    * itself dragged by the outliers it hunts (50% breakdown point vs 0%).
    * Returns the flagged rows plus `med`, `adev`, `mad`.
    *
    * Same two-aggregate join+filter shape as [[winsorize]], applied twice
    * (median of values, then median of deviations): each grouped aggregate
    * exchanges one row per group and AQE broadcasts the tiny quantile
    * tables back onto the data. Exact `percentile` matches DuckDB
    * `quantile_cont` (the proven winsorize seam — both interpolate on the
    * sorted values); at 100 TB with high-cardinality groups both medians
    * would need a mergeable quantile sketch, in the same shape. */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
                  k: Double): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(!df.columns.exists(Set("med", "adev", "mad")),
      "madOutliers reserves output columns med/adev/mad")
    val med = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, 0.5d)").as("med"))
    val dev = df.join(med, Seq(groupCol))
      .withColumn("adev", abs(col(valueCol) - col("med")))
    val mad = dev.groupBy(col(groupCol))
      .agg(expr("percentile(adev, 0.5d)").as("mad"))
    dev.join(mad, Seq(groupCol))
      .filter(col("adev") > lit(k) * col("mad"))
  }

  /** k-anonymity suppression: keep only rows whose quasi-identifier
    * combination (`qiCols`) is shared by at least `k` rows — groups smaller
    * than k are suppressed outright (the release would identify their
    * members). One window count over the QI partition — a single shuffle,
    * no groupBy+join double pass. */
  def kAnonymize(df: DataFrame, qiCols: Seq[String], k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(qiCols.nonEmpty, "qiCols must be non-empty")
    val w = Window.partitionBy(qiCols.map(col): _*)
    df.withColumn("__qi_n", count(lit(1)).over(w))
      .filter(col("__qi_n") >= k)
      .drop("__qi_n")
  }
}
