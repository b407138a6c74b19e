package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Ordered chunked scans — the heart of the reference's data movement.
 *
 * taps reads every table as a sequence of ordered chunks using one of two
 * access paths (chosen in `lib/taps/data_stream.rb:228-242`):
 *
 *  - S3 offset pagination: `SELECT * FROM t ORDER BY <order> LIMIT n OFFSET o`
 *    (`lib/taps/data_stream.rb:76-87`) — works for any table, O(offset) per
 *    chunk, which taps itself documents as "incredibly slow" (`README.rdoc:36`).
 *  - S4 keyset pagination: `SELECT * FROM t WHERE pk > :w ORDER BY pk LIMIT n`
 *    (`lib/taps/data_stream.rb:279-301`) — only for single-int-pk tables;
 *    the watermark makes each chunk O(n).
 *
 * We reproduce both faithfully as single-chunk operators (for parity and the
 * oracle), and generalize keyset pagination into what it really is at Spark
 * scale: RANGE PARTITIONING. `rangeChunks` splits the pk domain into N
 * disjoint ranges that execute as N parallel partitions — one shuffle-free
 * scan instead of count/chunksize sequential round-trips. That is the 100 TB
 * path: the sequential chunk loop exists only for semantics parity; real
 * transfers go through `rangeChunks` / Spark's native partitioned reads.
 */
object Scan {

  /** S3: offset-paginated chunk. `ORDER BY orderCols LIMIT n OFFSET off`.
    * Faithful to `lib/taps/data_stream.rb:78`; inherits its pathology —
    * a global sort + offset cannot parallelize, so at scale prefer
    * [[keysetChunk]] / [[rangeChunks]]. Spark plans this as
    * TakeOrderedAndProject when (off+n) is small: each partition produces
    * its local top-(off+n), only those rows reach the driver-side merge. */
  def offsetChunk(df: DataFrame, orderCols: Seq[String], n: Int, off: Int): DataFrame =
    df.orderBy(orderCols.map(col): _*).offset(off).limit(n)

  /** S3 variant via row_number — same result, window form (W1). Kept because
    * it composes with arbitrary frame logic and shows up in SURVEY §2.5. */
  def offsetChunkViaRowNumber(df: DataFrame, orderCols: Seq[String], n: Int, off: Int): DataFrame = {
    val w = Window.orderBy(orderCols.map(col): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > off && col("__rn") <= off + n)
      .drop("__rn")
  }

  /** S4: keyset-paginated chunk. `WHERE pk > watermark ORDER BY pk LIMIT n`
    * (`lib/taps/data_stream.rb:287-289`). The pk predicate is pushed into the
    * Parquet scan by Catalyst (PushedFilters), so each chunk reads only the
    * row groups past the watermark — the same O(n) property taps gets from a
    * btree index. */
  def keysetChunk(df: DataFrame, pk: String, watermark: Long, n: Int): DataFrame =
    df.filter(col(pk) > lit(watermark)).orderBy(col(pk)).limit(n)

  /** A2: the next watermark after a chunk — `max(pk)`
    * (`lib/taps/data_stream.rb:294-297`, repair path :329-336). */
  def maxPk(df: DataFrame, pk: String): DataFrame =
    df.agg(max(col(pk)).as("max_pk"))

  /** The scale generalization of S4: split the pk domain into `parts`
    * disjoint ranges — the moral equivalent of Spark's JDBC
    * partitionColumn/lowerBound/upperBound/numPartitions. All ranges scan in
    * parallel; no global sort, no sequential watermark ping-pong. Returns the
    * input tagged with a `chunk_id` so downstream sinks can write
    * idempotently per range (resume = skip completed chunk_ids). */
  def rangeChunks(df: DataFrame, pk: String, lower: Long, upper: Long, parts: Int): DataFrame = {
    val span = math.max(1L, (upper - lower + parts) / parts)
    // integer division, not floor(double/) — exact past 2^53 and identical
    // in every SQL engine
    df.withColumn("chunk_id",
      least(expr(s"(`$pk` - ${lower}L) div ${span}L"), lit(parts - 1L)).cast("int"))
  }

  /** The [lo, hi) pk interval of each [[rangeChunks]] chunk id — same span
    * arithmetic, driver-side. Callers that move one chunk at a time filter
    * on `pk >= lo AND pk < hi` so the predicate reaches the Parquet scan as
    * PushedFilters (a filter on the computed chunk_id column cannot push
    * down; an explicit pk range prunes row groups). Pinned equivalent to
    * rangeChunks' assignment by ScanSpec. */
  def rangeBounds(lower: Long, upper: Long, parts: Int): Seq[(Long, Long)] = {
    val span = math.max(1L, (upper - lower + parts) / parts)
    (0 until parts).map { id =>
      val lo = lower + id * span
      val hi = if (id == parts - 1) Long.MaxValue else lower + (id + 1) * span
      (lo, hi) // last chunk absorbs the remainder, like least(..., parts-1)
    }
  }

  /** Access-path selection, mirroring `DataStream.factory`
    * (`lib/taps/data_stream.rb:228-242`): keyset iff single integer pk. */
  def chooseAccessPath(meta: graft.Tables.TableMeta): String =
    if (meta.singleIntPk) "keyset" else "offset"

  /** O4: taps over-fetches 1.1× (server) / 3× (client) of the requested chunk
    * into a local buffer (`calc_limit`, `lib/taps/data_stream.rb:268-277`). */
  def calcLimit(chunksize: Int, serverSide: Boolean): Int =
    if (serverSide) (chunksize * 1.1).ceil.toInt else chunksize * 3
}
