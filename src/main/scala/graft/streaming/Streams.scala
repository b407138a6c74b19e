package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.Query.dsum

/**
 * Structured-Streaming surface (SURVEY §2.9).
 *
 * taps is "streaming" in the incremental/resumable sense: a stateful cursor
 * per table, checkpointed after every chunk, at-least-once delivery with a
 * repair path (T1–T6). Spark-native, those semantics live in Structured
 * Streaming: checkpointed source offsets ≙ the pk watermark, idempotent
 * exactly-once file sinks ≙ the repair path, and graceful shutdown ≙ T6.
 *
 * Everything here is shaped for unbounded input: windowed aggregations carry
 * a watermark so state is bounded (old windows evict), and the custom
 * stateful operator uses [[GroupStateTimeout]] so abandoned keys expire.
 * At 100 TB/day the same code runs against Kafka/file sources — the
 * transforms are source-agnostic DataFrame combinators, also applicable in
 * batch mode: the `stream_tumbling_counts`, `stream_sliding_counts` and
 * `stream_dedup_keys` queries run [[tumblingCounts]], [[slidingCounts]] and
 * [[dedupStream]] on the events table. In batch, Spark drops the
 * watermark, and [[dedupStream]] keeps one row per key.
 */
object Streams {

  /** T7: tumbling event-time window counts with a watermark bounding state;
    * `sum_value` is the exact fixed-point [[graft.operators.Query.dsum]]. */
  def tumblingCounts(events: DataFrame, tsCol: String, lateness: String = "10 minutes",
                     width: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), width))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("n"), col("sum_value"))

  /** Sliding window variant (width, slide). */
  def slidingCounts(events: DataFrame, tsCol: String, width: String, slide: String,
                    lateness: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), width, slide))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"), col("n"))

  /** Session windows per user: gap-based, the streaming analogue of taps'
    * per-table "activity until the cursor goes quiet". */
  def sessionCounts(events: DataFrame, tsCol: String, keyCol: String, gap: String,
                    lateness: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, lateness)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n"))
      .select(col(keyCol), col("session_window.start").as("sess_start"), col("n"))

  /** Streaming exact dedup — X1's unbounded form: drop rows whose dedup key
    * was already seen within the watermark horizon
    * (`dropDuplicatesWithinWatermark`). State is BOUNDED: a key's entry
    * evicts once event time passes the lateness bound, which is the only
    * way exact dedup runs forever on an unbounded stream; duplicates that
    * recur across horizons are the residual a periodic batch pass
    * ([[graft.operators.Dedup.exact]]) cleans. Spark rejects
    * `dropDuplicatesWithinWatermark` on a batch frame; there the whole
    * input is one horizon, so the batch form is `dropDuplicates`. */
  def dedupStream(events: DataFrame, tsCol: String, keyCols: Seq[String],
                  lateness: String = "10 minutes"): DataFrame =
    if (events.isStreaming)
      events.withWatermark(tsCol, lateness).dropDuplicatesWithinWatermark(keyCols)
    else events.dropDuplicates(keyCols)

  /** Stream-static enrichment: join an unbounded stream against a bounded
    * dimension table — the standard on-ingest decoration (user → account,
    * IP → geo, id → label). The dim side is broadcast-hinted: a stream
    * must never SHUFFLE per micro-batch to meet a static table, and the
    * broadcast re-resolves per batch, so a refreshed dim snapshot is
    * picked up without restarting the query. Works identically in batch
    * (the oracle's form). `joinType` "inner" drops unmatched events,
    * "left_outer" keeps them with NULL dim columns. */
  def enrichStream(stream: DataFrame, dim: DataFrame,
                   streamKey: String, dimKey: String,
                   joinType: String = "inner"): DataFrame =
    stream.join(broadcast(dim), col(streamKey) === col(dimKey), joinType)

  /** Stream-stream interval join (the unbounded form of
    * [[graft.operators.Temporal.rangeJoinBinned]]'s fixture query): left
    * rows pair with right rows of the same key whose event time falls in
    * [left.ts, left.ts + window). Both sides carry watermarks, and the
    * time-bound join condition is what lets Spark EVICT buffered state —
    * an unbounded stream-stream join without a time bound grows state
    * forever. Batch twin: `join_range_purchase_clicks` (oracle-checked);
    * in batch mode the same plan is an ordinary range join. */
  def intervalJoinStream(left: DataFrame, right: DataFrame, keyCol: String,
                         tsCol: String, window: String,
                         lateness: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(tsCol, lateness).alias("l")
    val r = right.withWatermark(tsCol, lateness).alias("r")
    l.join(r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col(s"r.$tsCol") >= col(s"l.$tsCol") &&
        col(s"r.$tsCol") < col(s"l.$tsCol") + expr(s"INTERVAL $window"))
  }

  /** One doc already in an LSH bucket's state: id, event-time millis, and
    * the full minhash signature vector (for the jaccard estimate). */
  final case class BucketDoc(id: Long, tsMs: Long, sigs: Array[Long])
  final case class BucketState(docs: Seq[BucketDoc])
  /** Emitted match: `doc_id` arrived and collided with `earlier_id` (first
    * seen earlier in event time) in LSH band `band`; `est_jaccard` is the
    * minhash estimate (fraction of equal signature components). */
  final case class NearDupHit(doc_id: Long, earlier_id: Long, band: Int,
                              est_jaccard: Double)
  /** Internal exploded row (public only because encoder codegen needs
    * access): one document in one LSH band bucket. */
  final case class BandRow(band: Int, band_sig: String, id: Long,
                           ts: java.sql.Timestamp, sigs: Array[Long])

  /** Streaming NEAR-dup detection — X2's unbounded form (dedup-on-ingest):
    * every arriving document is checked against the documents of the last
    * watermark horizon that share any LSH band, and matches with an
    * estimated jaccard ≥ `threshold` are emitted as [[NearDupHit]] rows.
    * The batch family ([[graft.operators.Dedup.minhashPairsFast]]) is the
    * periodic full pass; this is the continuous front line in a training
    * pipeline that cannot afford to re-shuffle the corpus per increment.
    *
    * Same production kernels as the batch path — one fused
    * tokenize+hash traversal per document
    * ([[org.apache.spark.sql.graft.TokenSetHashes]]), fused signature
    * minima ([[org.apache.spark.sql.graft.MinHashSigs]]), identical
    * band construction — so stream and batch agree document-for-document
    * (spec-pinned against the batch candidate set).
    *
    * Scale shape: state lives per (band, band_sig) BUCKET, keyed exactly
    * like the batch band self-join, so the shuffle is band-hash
    * partitioned and hot buckets are the same hot buckets the batch path
    * has. State is bounded two ways: event-time eviction at the watermark
    * (an [[GroupStateTimeout.EventTimeTimeout]] garbage-collects buckets
    * that stop receiving traffic), and `maxBucketDocs` caps a single
    * bucket (boilerplate corpora put thousands of near-identical docs in
    * one bucket; beyond the cap the OLDEST entries drop first, trading
    * recall against earlier docs for bounded state — the batch pass
    * catches what the cap misses). A pair matching in several bands emits
    * once per matching band (buckets are independent state partitions) —
    * at-least-once per pair by design; downstream consumers dedupe on
    * (doc_id, earlier_id) if they need exactly-once.
    *
    * `threshold < 0` (the default) resolves to the band bound
    * `rowsPerBand/seeds` — the estimate a single shared band already
    * guarantees — so the default stream emits EXACTLY the batch
    * candidate set at any banding; raise it to verify-tighter matches
    * on ingest. Pair attribution and cap eviction both order by EVENT
    * time (ties by id), so an allowed-late arrival is still recorded as
    * the earlier document and the cap drops genuinely-oldest entries. */
  def nearDupStream(docs: DataFrame, tsCol: String, idCol: String,
                    textCol: String, lateness: String = "10 minutes",
                    seeds: Int = 16, rowsPerBand: Int = 8,
                    threshold: Double = -1.0,
                    maxBucketDocs: Int = 1024): Dataset[NearDupHit] = {
    import graft.operators.Dedup
    val spark = docs.sparkSession
    import spark.implicits._
    // default threshold = the band bound rowsPerBand/seeds: a shared band
    // forces ≥ rowsPerBand equal signature components, so at this
    // threshold the stream emits EXACTLY the batch candidate set at ANY
    // banding (a fixed 0.5 would silently drop candidates at, say, 16/4)
    val minEst = if (threshold < 0) rowsPerBand.toDouble / seeds else threshold
    val bands = docs
      .withWatermark(tsCol, lateness)
      // cheap token-presence gate (kernel NULL ⟺ no tokens); the
      // `isNotNull` form would re-run the kernel as a pushed scan filter
      .filter(length(translate(col(textCol), " ", "")) > 0)
      .select(col(idCol).cast("long").as("id"), col(tsCol).as("ts"),
        org.apache.spark.sql.graft.TokenSetHashes.of(col(textCol))
          .getField("harr").as("__harr"))
      // band construction SHARED with the batch family (Dedup.sigArrayExpr
      // / Dedup.bandSigExprs) — stream and batch cannot drift
      .select(col("id"), col("ts"), Dedup.sigArrayExpr(seeds).as("__sigs"))
      .select(col("id"), col("ts"), col("__sigs"),
        posexplode(array(Dedup.bandSigExprs(seeds, rowsPerBand): _*))
          .as(Seq("band", "band_sig")))
      .select(col("band").cast("int").as("band"), col("band_sig"),
        col("id"), col("ts"), col("__sigs").as("sigs"))
      .as[BandRow]
    bands.groupByKey(r => s"${r.band}_${r.band_sig}")
      .flatMapGroupsWithState[BucketState, NearDupHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, rows: Iterator[BandRow], state: GroupState[BucketState]) =>
          val wm = state.getCurrentWatermarkMs()
          val live = state.getOption.map(_.docs).getOrElse(Seq.empty)
            .filter(_.tsMs >= wm)
          def park(docs: Seq[BucketDoc]): Unit =
            if (docs.isEmpty) state.remove()
            else {
              state.update(BucketState(docs))
              state.setTimeoutTimestamp(math.max(docs.map(_.tsMs).max, wm) + 1)
            }
          if (state.hasTimedOut) { park(live); Iterator.empty }
          else {
            val batch = rows.toSeq.sortBy(r => (r.ts.getTime, r.id))
            val hits = Seq.newBuilder[NearDupHit]
            val cur = collection.mutable.ArrayBuffer.from(live)
            batch.foreach { r =>
              cur.foreach { d =>
                if (d.id != r.id) {
                  var eq = 0; var j = 0
                  while (j < r.sigs.length) {
                    if (d.sigs(j) == r.sigs(j)) eq += 1; j += 1
                  }
                  val est = eq.toDouble / r.sigs.length
                  if (est >= minEst) {
                    // attribute by EVENT time (ties by id), not arrival:
                    // an allowed-late row can be event-earlier than state
                    val rT = r.ts.getTime
                    val rLater = rT > d.tsMs || (rT == d.tsMs && r.id > d.id)
                    if (rLater) hits += NearDupHit(r.id, d.id, r.band, est)
                    else hits += NearDupHit(d.id, r.id, r.band, est)
                  }
                }
              }
              cur += BucketDoc(r.id, r.ts.getTime, r.sigs)
            }
            // cap by EVENT time too: the oldest documents drop first even
            // when a late arrival inserted out of order
            park(cur.sortBy(d => (d.tsMs, d.id)).takeRight(maxBucketDocs).toSeq)
            hits.result().iterator
          }
      }
  }
}
