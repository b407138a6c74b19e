package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Data layout (SURVEY §2.11 [EXT]): bucketed tables, small-file compaction,
 * and the Z-order (Morton) key that lets parquet min/max statistics prune
 * on SEVERAL columns at once.
 *
 * Why it matters at 100 TB: a table range-partitioned and sorted on one
 * key prunes scans on that key only — a predicate on any other column
 * reads everything. Interleaving the bits of k normalized dimensions into
 * one sort key gives every dimension locality ~2^(bits/k): each file's
 * min/max footer range covers a small rectangle of the key space, so the
 * reader skips files/row-groups for predicates on ANY of the clustered
 * columns. This is the layout trick behind the z-ordering of the lakehouse
 * table formats; the key is a plain narrow expression ([[zValue]]).
 *
 * Everything is integer bit arithmetic (`&`, `>>`, `<<` on longs) — exactly
 * reproducible in any engine, so the z-values themselves are oracle-checked
 * cross-engine.
 */
object Layout {

  /** Morton z-value of `cols`, each already normalized to [0, 2^bits).
    * Bit b of dimension d lands at position b·k + d of the result —
    * dimension-alternating interleave. Requires bits·k ≤ 62 (BIGINT-safe,
    * no sign games). */
  def zValue(cols: Seq[Column], bits: Int): Column = {
    val k = cols.size
    require(k >= 1, "zValue needs at least one column")
    require(bits >= 1 && bits * k <= 62, s"bits*k must be in [1,62], got ${bits * k}")
    cols.zipWithIndex.flatMap { case (c, d) =>
      (0 until bits).map { b =>
        shiftleft(shiftright(c.cast("long"), b).bitwiseAND(lit(1L)), b * k + d)
      }
    }.reduce(_ + _)
  }

  /** Write `df` as a BUCKETED table (hash-partitioned into `buckets` files
    * by `key`, bucket-sorted) and return its catalog name — idempotent per
    * session. This is the other half of the layout story besides z-order:
    * bucketing pre-pays the shuffle of every future equi-join/aggregation
    * on the bucket key AT WRITE TIME. At 100 TB the nightly fact tables
    * are bucketed once on their join key and every downstream join reads
    * co-located buckets with ZERO exchange on either side — the single
    * biggest shuffle a star-schema pipeline otherwise pays, gone. The
    * `repartition(buckets, key)` before the write pins one FILE per bucket
    * (many small writer-side files per bucket would void the read-side
    * sorted property and bloat task counts).
    *
    * `path` makes it an external table (the data outlives the session
    * catalog; re-registration is a metadata-only CREATE). */
  def ensureBucketed(s: org.apache.spark.sql.SparkSession, df: => DataFrame,
                     name: String, key: String, buckets: Int,
                     path: String): String = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    if (!s.catalog.tableExists(name)) {
      graft.Transfer.writeBucketed(df.repartition(buckets, col(key)),
        name, key, buckets, sortCols = Seq(key), path = Some(path))
    }
    name
  }

  /** Co-located equi-join of two tables bucketed on their respective join
    * keys with the SAME bucket count: both sides' output partitioning
    * already satisfies the join's distribution requirement, so Catalyst
    * plans a sort-merge join with NO Exchange under either side (pinned by
    * PlanShapeSpec). The merge hint only forbids the broadcast fallback —
    * at fixture scale the small side would broadcast and hide the
    * co-location this operator exists to demonstrate; at 100 TB neither
    * side fits a broadcast and the bucket-aligned SMJ IS the plan. */
  def colocatedJoin(s: org.apache.spark.sql.SparkSession,
                    leftTable: String, rightTable: String,
                    leftKey: String, rightKey: String): DataFrame =
    s.table(leftTable).hint("merge")
      .join(s.table(rightTable), col(leftKey) === col(rightKey))

  /** Small-file compaction: rewrite a parquet directory into
    * ceil(totalBytes / targetBytes) files. The 100 TB maintenance problem
    * this solves: streaming sinks and partitioned CDC writes accrete
    * thousands of KB-scale files per partition, and every downstream scan
    * then pays per-file open/footer/schema costs that dwarf the reads
    * (NameNode/liststore pressure at cluster scale, task-launch floor per
    * split locally).
    *
    * Scale shape: `coalesce`, NOT `repartition` — compaction must not buy
    * a full shuffle of the data it rewrites; coalesce folds existing
    * splits into fewer write tasks with zero exchange (pinned by
    * LayoutSpec). The trade: coalesced tasks inherit input-split skew. For
    * a pathologically skewed directory pass `shuffle = true` to spread
    * rows evenly (round-robin repartition) at full-shuffle cost.
    *
    * Writes to `dstDir` (never in place — the swap is the caller's
    * rename, which object stores and HDFS both do atomically at the
    * directory level). Returns (filesIn, filesOut). */
  def compact(s: org.apache.spark.sql.SparkSession, srcDir: String,
              dstDir: String, targetBytes: Long = 128L << 20,
              shuffle: Boolean = false): (Int, Int) = {
    require(targetBytes > 0, s"targetBytes must be > 0, got $targetBytes")
    // listing goes through the Hadoop FileSystem RESOLVED FROM THE PATH —
    // a java.io.File listing is silently empty for the hdfs:///s3a://
    // directories this operator exists for, degenerating nOut to 1 (one
    // giant coalesced write) and the reported counts to 0
    def listParquet(dir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    }
    val in = listParquet(srcDir)
    require(in.nonEmpty, s"no parquet files to compact under $srcDir")
    val nOut = math.max(1L,
      (in.map(_.getLen).sum + targetBytes - 1) / targetBytes).toInt
    val df = s.read.parquet(srcDir)
    (if (shuffle) df.repartition(nOut) else df.coalesce(nOut))
      .write.mode("overwrite").parquet(dstDir)
    (in.size, listParquet(dstDir).size)
  }
}
