package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deterministic sampling and split operators for training-data curation
 * (SURVEY §2.11 [EXT] adjunct): train/test assignment, exact stratified
 * sampling, per-group caps.
 *
 * Everything keys off a cryptographic hash of the row id — NO RNG, so
 * assignments are reproducible run-over-run, stable under repartitioning,
 * and replayable by the DuckDB oracle (md5 is the one cross-engine hash).
 * Cluster shape: hash-split is a pure map (zero shuffle); stratified
 * sampling and caps are one window shuffle on the stratum key — both
 * trivially parallel at 100 TB. Skewed strata (one giant group) inherit the
 * single-partition-per-stratum window cost; cap/sample per SUB-stratum and
 * re-aggregate when a stratum exceeds one executor's slice.
 */
object Sampling {

  /** 16-bit bucket from the leading md5 hex digits of the id — the
    * deterministic "random" driver for every operator here. Uniform to
    * ~0.4% (65536 % 100 bias), which is what hash-bucket splits accept in
    * exchange for engine-independence. */
  private def hashBucket(idCol: Column, buckets: Int): Column =
    Text.md5Prefix(idCol.cast("string"), 4) % lit(buckets.toLong)

  /** Train/test split: `trainPct` percent of rows (by id-hash bucket) get
    * 'train', the rest 'test'. Pure map — no shuffle, no state; a row's
    * split never changes as the corpus grows, which is the property
    * training pipelines need (new data cannot flip old rows across the
    * leakage boundary). */
  def hashSplit(df: DataFrame, idCol: String, trainPct: Int): DataFrame = {
    require(trainPct >= 0 && trainPct <= 100, s"trainPct in [0,100], got $trainPct")
    df.withColumn("split",
      when(hashBucket(col(idCol), 100) < trainPct, "train").otherwise("test"))
  }

  /** Deterministic source mixing: keep each row with a per-stratum
    * percentage — the domain-reweighting step of a training-data pipeline
    * ("90% of wiki, 10% of crawl"). Pure map like [[hashSplit]]: no
    * shuffle, membership a function of (id, rate) alone, so it is stable
    * under corpus growth and reproducible across engines. `ratePct` is an
    * integer Column in [0,100], typically derived from the stratum column
    * (a literal lookup or join against a mixing-weights table). */
  def weightedMix(df: DataFrame, idCol: String, ratePct: Column): DataFrame =
    df.filter(hashBucket(col(idCol), 100) < ratePct)

  /** Exact stratified sample: per stratum, keep ceil(frac·n) rows chosen in
    * id-hash order (deterministic pseudo-random, ties broken by id). Exact
    * counts per group — unlike `df.sampleBy`, which is Bernoulli and only
    * approximates the fraction — at the cost of one window shuffle. */
  def stratified(df: DataFrame, strataCol: String, idCol: String,
                 frac: Double): DataFrame = {
    require(frac >= 0.0 && frac <= 1.0, s"frac in [0,1], got $frac")
    val w = Window.partitionBy(col(strataCol))
      .orderBy(hashBucket(col(idCol), 1 << 16).asc, col(idCol).asc)
    val n = Window.partitionBy(col(strataCol))
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(n))
      .filter(col("__rn") <= ceil(lit(frac) * col("__n")))
      .drop("__rn", "__n")
  }

  /** Concatenate-and-chop sequence packing, per group: order each group's
    * chunks by `orderCols`, accumulate token counts, and assign every chunk
    * to context window floor(start_offset / capacity) — the standard LLM
    * pre-training packing step (documents are concatenated into a token
    * stream and sliced at the context boundary; a chunk straddling the
    * boundary belongs to the window its first token lands in). Partitioned
    * by `groupCol`, so the window pass parallelizes across groups instead
    * of collapsing to a single global sort (domains/shards are the natural
    * packing unit at corpus scale). Emits (group, window_id, start_offset)
    * per input row. */
  def packSequences(chunks: DataFrame, groupCol: String, orderCols: Seq[String],
                    tokenCol: String, capacity: Int): DataFrame = {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(orderCols.map(col(_).asc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chunks
      .withColumn("__end", sum(col(tokenCol)).over(w))
      .withColumn("start_offset", (col("__end") - col(tokenCol)).cast("long"))
      .withColumn("window_id",
        floor(col("start_offset").cast("double") / lit(capacity.toDouble)).cast("long"))
      .drop("__end")
  }

  /** Per-group cap: keep at most `n` rows per group, lowest `orderCol`
    * first (corpus curation: "at most N documents per domain"). One window
    * shuffle; Spark inserts WindowGroupLimit so per-partition top-n prunes
    * before the exchange. */
  def capPerGroup(df: DataFrame, groupCol: String, orderCol: String,
                  n: Int): DataFrame = {
    require(n > 0, s"cap must be positive, got $n")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(orderCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** Fixed-SIZE uniform sample: the k rows with the smallest id-hash, ties
    * by id — the deterministic, distributed stand-in for reservoir sampling
    * ("give me exactly 100k random documents from the corpus"). Plans as
    * TakeOrderedAndProject: every partition surfaces at most k rows and the
    * driver merges, so there is NO global sort and no shuffle of the corpus
    * — the right shape at 100 TB as long as k is driver-sized (it is, by
    * the operator's own contract: the sample must fit somewhere). Same
    * membership stability as [[hashSplit]]: a row's hash rank never
    * changes, so growing the corpus only ever EVICTS rows from the sample
    * (by better-ranked arrivals), never reshuffles it wholesale. */
  def uniformFixed(df: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    df.orderBy(hashBucket(col(idCol), 1 << 16).asc, col(idCol).asc).limit(k)
  }

  /** TOKEN-budget source mixing: training mixtures are specified over
    * tokens, not documents ("30% of the training tokens from wiki, 10%
    * from forums"), and a per-row keep-rate ([[weightedMix]]) cannot hit a
    * token target when sources have different token totals. This operator
    * computes, per source, the keep rate that lands the mixture on the
    * LARGEST achievable total budget: B = min over targeted sources of
    * floor(tokens_s·1e6/share_ppm_s) (the binding source is sampled at
    * ~100%, every other source is thinned to its share of B), then keeps a
    * row iff its 16-bit id-hash bucket clears the source's ceiling'd
    * threshold. Sources absent from `sharePpm` are dropped (share 0).
    *
    * All threshold arithmetic is exact BigInt (ceil via (num+den−1)/den) —
    * `bucket < ceil(x)` is exactly `bucket < x` for integer buckets — so
    * the DuckDB oracle replays membership bit-for-bit from the same
    * integer math (HUGEINT on its side).
    *
    * Scale shape: ONE aggregate pass over (source, tokenCount) whose
    * exchange carries a row per source (map-side partial combine), a
    * driver-side threshold table bounded by the number of sources, and a
    * broadcast join + map filter over the corpus — the corpus itself is
    * never shuffled. Expected sampled tokens per source ≈ share_s·B
    * (hash-uniform to ~0.4%, the family's stated bucket bias). */
  def tokenBudgetMix(df: DataFrame, idCol: String, sourceCol: String,
                     tokenCount: Column,
                     sharePpm: Map[String, Long]): DataFrame = {
    require(sharePpm.nonEmpty, "sharePpm must name at least one source")
    require(sharePpm.values.forall(v => v > 0 && v <= 1000000L),
      s"shares are ppm in (0, 1e6], got $sharePpm")
    require(sharePpm.values.sum <= 1000000L,
      s"shares sum to ${sharePpm.values.sum} ppm > 1e6")
    val spark = df.sparkSession
    val totals = df
      .select(col(sourceCol).cast("string").as("__src"),
        tokenCount.cast("long").as("__tok"))
      .groupBy(col("__src")).agg(sum(col("__tok")).as("__tokens"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val budget = sharePpm.collect {
      case (s, share) if totals.getOrElse(s, 0L) > 0L =>
        BigInt(totals(s)) * 1000000L / share
    }.minOption.getOrElse(BigInt(0))
    val thresholds = sharePpm.toSeq.map { case (s, share) =>
      val tok = BigInt(totals.getOrElse(s, 0L))
      val thr =
        if (tok == 0) BigInt(0)
        else {
          val num = BigInt(65536) * share * budget
          val den = BigInt(1000000) * tok
          ((num + den - 1) / den).min(BigInt(65536))
        }
      (s, thr.toLong)
    }
    import spark.implicits._
    val thrDf = thresholds.toDF("__src", "__thr")
    df.join(broadcast(thrDf), col(sourceCol) === col("__src"))
      .filter(hashBucket(col(idCol), 1 << 16) < col("__thr"))
      .drop("__src", "__thr")
  }

  /** Probability-proportional-to-size (PPS) Poisson sampling with target
    * expected size `k`: row i is kept with probability min(1, k·wᵢ/W)
    * where W = Σw — the weighted generalization of [[uniformFixed]]'s
    * uniform draw (long documents / heavy partitions get proportionally
    * more representation, the estimator divides by the known inclusion
    * probability). Membership is the cross-multiplied EXACT integer
    * inequality h·W < k·wᵢ·2¹⁶ over the 16-bit salted id-hash — no
    * division, no float, so the DuckDB oracle replays it bit-for-bit
    * (HUGEINT on its side) and membership is reproducible run-over-run.
    * Rows with k·wᵢ ≥ W are kept with certainty (the classic PPS cap;
    * their excess mass is NOT redistributed, so the realized size runs
    * slightly under k on skewed weights — the standard Poisson-PPS
    * tradeoff, chosen over two-pass Sampford rejection).
    *
    * Scale shape: one aggregate whose exchange carries ONE row (partial
    * sums map-side), broadcast back as a 1-row frame, then a pure map
    * filter — the corpus is never shuffled. Overflow bound: h < 2¹⁶ and
    * the ANSI multiply throws rather than wraps, so W (and k·w·2¹⁶) must
    * stay below 2⁴⁷ — i.e. Σw under ~140 T, documented headroom for a
    * 100 TB corpus weighted by characters ÷ chunk. */
  def ppsSample(df: DataFrame, idCol: String, weight: Column, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val tot = df.agg(sum(weight.cast("long")).as("__W"))
    val h = Text.md5Prefix(concat(lit("pps:"), col(idCol).cast("string")), 4)
    df.crossJoin(broadcast(tot))
      .filter(h * col("__W") < lit(k.toLong) * weight.cast("long") * lit(65536L))
      .drop("__W")
  }

  /** Keep the top `frac` fraction of each group by `score` (descending,
    * ties by id): quality-threshold curation expressed as a RANK, not an
    * absolute cutoff — "keep the best 25% of each language" holds the
    * per-group retention fixed whatever the score distribution looks like,
    * where a fixed threshold over- or under-collects as the corpus drifts.
    * Same window shape (and the same giant-stratum caveat) as
    * [[stratified]]; exact per-group counts, `ceil(frac·n)` kept. */
  def topFracByGroup(df: DataFrame, groupCol: String, score: Column,
                     idCol: String, frac: Double): DataFrame = {
    require(frac >= 0.0 && frac <= 1.0, s"frac in [0,1], got $frac")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(score.desc, col(idCol).asc)
    val n = Window.partitionBy(col(groupCol))
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(n))
      .filter(col("__rn") <= ceil(lit(frac) * col("__n")))
      .drop("__rn", "__n")
  }
}
