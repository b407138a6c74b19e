package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Source/destination reconciliation — the rigorous form of taps'
 * post-transfer verification. The reference checks per-chunk row counts and
 * re-fetches on mismatch (`lib/taps/data_stream.rb:47-49,329-340`); at
 * warehouse scale the questions are sharper: WHICH rows changed between two
 * snapshots, and WHICH chunk of a 10 TB table is corrupt. Both answers are
 * single-shuffle distributed plans here.
 */
object Reconcile {

  /** Snapshot diff: classify every pk between two snapshots of a table as
    * `insert` (new only), `delete` (old only), `update` (both, any
    * `compareCols` differs — null-safe), or `same`. One full-outer hash
    * join on the pk — each side shuffles once on the key it is usually
    * already partitioned by; no row ever reaches the driver.
    *
    * This is change-data-capture derived from storage (the only option when
    * the source offers no log), and the exact form of "did the transfer
    * land?": `snapshotDiff(source, destination, pk, allCols)` with zero
    * non-`same` rows is a row-level proof, far stronger than the reference's
    * count probes. Comparison is column-wise `IS DISTINCT FROM`, not a
    * serialized row hash — no engine-specific serialization, so the oracle
    * can replay it exactly. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, pkCols: Seq[String],
                   compareCols: Seq[String]): DataFrame = {
    require(pkCols.nonEmpty, "pkCols must be non-empty")
    val keep = pkCols ++ compareCols
    val o = oldDf.select(keep.map(col): _*).withColumn("__in_old", lit(1))
    val n = compareCols.foldLeft(
        newDf.select(keep.map(col): _*).withColumn("__in_new", lit(1)))(
        (d, c) => d.withColumnRenamed(c, s"__new_$c"))
    val changed: Column = compareCols
      .map(c => !(col(c) <=> col(s"__new_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    o.join(n, pkCols, "full_outer")
      .select(pkCols.map(col) :+
        when(col("__in_old").isNull, "insert")
          .when(col("__in_new").isNull, "delete")
          .when(changed, "update")
          .otherwise("same").as("change_type"): _*)
  }

  /** Per-chunk content checksums over the pk-range chunking of
    * [[Scan.rangeChunks]]: for each range, the row count, the sum and the
    * xor of a 48-bit md5-prefix hash of the serialized row. Matching a
    * chunk's (n, sum_h, xor_h) against the destination localizes corruption
    * to one re-transferable range — taps' per-chunk verify loop
    * (`lib/taps/data_stream.rb:47-49`) as one distributed aggregation
    * instead of count/chunksize sequential probes.
    *
    * The checksum is order-insensitive (sum and xor are commutative), so no
    * per-chunk sort is needed and partial aggregation runs map-side — the
    * whole pass is one scan plus one tiny shuffle of `parts` rows. The sum
    * accumulates in DECIMAL(38,0): 48-bit hash values overflow a BIGINT sum
    * past ~2^15 rows/chunk, which a deployment that passes a small `parts`
    * over a big table silently hits — the decimal sum is exact to 10^38
    * (~10^23 rows/chunk), far past any physical chunk. `rowRepr` must be
    * engine-portable — cast doubles through DECIMAL, format dates — so the
    * oracle reproduces it. */
  def chunkChecksums(df: DataFrame, pk: String, lower: Long, upper: Long,
                     parts: Int, rowRepr: Column): DataFrame =
    checksumAgg(df, pk, lower, upper, parts,
      Text.md5Prefix(rowRepr, 12))

  /** Production variant of [[chunkChecksums]]: the row hash is `xxhash64`
    * (codegen'd, single 64-bit pass) instead of md5→hex-substring→conv —
    * four string ops per row replaced by one integer hash, the same
    * fast-path/oracle-twin split the simhash and fingerprint operators use
    * (xxhash64 has no DuckDB equivalent, so the md5 form above stays the
    * cross-engine witness). Identical localization contract: a corrupted
    * row flips exactly its chunk's (sum_h, xor_h) — pinned against the md5
    * path by ReconcileSpec. */
  def chunkChecksumsFast(df: DataFrame, pk: String, lower: Long, upper: Long,
                         parts: Int, rowRepr: Column): DataFrame =
    checksumAgg(df, pk, lower, upper, parts, xxhash64(rowRepr))

  private def checksumAgg(df: DataFrame, pk: String, lower: Long, upper: Long,
                          parts: Int, hashCol: Column): DataFrame =
    Scan.rangeChunks(df, pk, lower, upper, parts)
      .select(col("chunk_id"), hashCol.as("__h"))
      .groupBy(col("chunk_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("__h").cast("decimal(38,0)")).as("sum_h"),
        expr("bit_xor(__h)").as("xor_h"))

  /** Merkle digest tree over per-chunk checksums: level 0 is one digest
    * per chunk row, level l+1 folds each PAIR of level-l node digests
    * (md5 of the '|'-joined children in node order) — so comparing two
    * tables top-down localizes a corrupted chunk in O(log chunks) digest
    * comparisons instead of diffing the full chunk list. At 100 TB with
    * millions of chunks, [[verifyChunks]]'s flat compare ships the whole
    * checksum table; the Merkle root is ONE row, and each mismatch
    * descent halves the suspect range — the anti-entropy structure
    * replicated storage systems use, expressed as log2(chunks) tiny
    * aggregates (each exchange carries the shrinking node list, never
    * data). Digests are engine-portable (md5 over decimal-as-string), so
    * the DuckDB oracle replays every level.
    *
    * `chunks` is [[chunkChecksums]] output; `levels` = ceil(log2(parts)).
    * Returns (level, node_id, digest) for all levels 0..levels (the last
    * holding the single root). */
  def merkleTree(chunks: DataFrame, levels: Int): DataFrame = {
    require(levels >= 1, s"levels must be >= 1, got $levels")
    var cur = chunks.select(lit(0).as("level"),
      col("chunk_id").cast("long").as("node_id"),
      md5(concat_ws("|", col("chunk_id"), col("n"),
        col("sum_h").cast("string"), col("xor_h"))).as("digest"))
    var out = cur
    for (l <- 1 to levels) {
      cur = cur
        .select(expr("node_id div 2").as("__p"), col("node_id").as("__c"),
          col("digest"))
        .groupBy(col("__p"))
        .agg(md5(array_join(transform(
          array_sort(collect_list(struct(col("__c"), col("digest")))),
          s => s.getField("digest")), "|")).as("digest"))
        .select(lit(l).as("level"), col("__p").as("node_id"), col("digest"))
      out = out.unionByName(cur)
    }
    out
  }

  /** Anti-entropy tree comparison: the differing nodes of two
    * [[merkleTree]]s — for a single corrupted chunk this is exactly the
    * root-to-leaf descent path (a leaf digest change propagates through
    * every ancestor fold), so the output DEMONSTRATES the O(log chunks)
    * localization a replicated store performs by fetching levels lazily:
    * compare roots (1 row), descend only into differing parents, finish
    * at the corrupt leaves. Missing nodes on either side (truncated
    * replica) surface as NULL-digest rows via the full outer join. */
  def merkleDiff(a: DataFrame, b: DataFrame): DataFrame =
    a.withColumnRenamed("digest", "digest_a")
      .join(b.withColumnRenamed("digest", "digest_b"),
        Seq("level", "node_id"), "full_outer")
      .filter(!(col("digest_a") <=> col("digest_b")))

  /** Partial aggregates of `valueCol` per `groupCols`: (group, sum, count)
    * — the algebraic state from which sum/count/avg are exactly
    * recoverable. The building block of [[mergeAggStates]]. */
  def aggState(df: DataFrame, groupCols: Seq[String], valueCol: Column): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(sum(valueCol).as("sum_v"), count(valueCol).as("n_v"))

  /** Incremental aggregate maintenance: merge stored partial-aggregate
    * states with a new delta's states instead of rescanning history.
    * sum/count are algebraic — merged state = element-wise (+, +) per
    * group — so `mergeAggStates(aggState(base), aggState(delta))` EQUALS
    * `aggState(base ∪ delta)` exactly, and a 100 TB history is aggregated
    * once, then maintained at delta cost forever (the nightly-rollup
    * pattern; avg derives as sum/count at read time). One shuffle of
    * |groups| rows, never of data. */
  def mergeAggStates(states: DataFrame*): DataFrame = {
    require(states.nonEmpty, "need at least one state")
    val groupCols = states.head.columns.filterNot(Set("sum_v", "n_v")).toSeq
    states.reduce(_ unionByName _)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("sum_v")).as("sum_v"), sum(col("n_v")).as("n_v"))
  }

  /** Compare source vs destination per-chunk checksums: returns the chunks
    * that disagree (missing on either side counts as disagreement). Empty
    * result = transfer verified at chunk granularity. */
  def verifyChunks(src: DataFrame, dst: DataFrame): DataFrame = {
    val d = Seq("n", "sum_h", "xor_h").foldLeft(dst)(
      (df, c) => df.withColumnRenamed(c, s"dst_$c"))
    src.join(d, Seq("chunk_id"), "full_outer")
      .filter(!(col("n") <=> col("dst_n")) ||
        !(col("sum_h") <=> col("dst_sum_h")) ||
        !(col("xor_h") <=> col("dst_xor_h")))
  }
}
