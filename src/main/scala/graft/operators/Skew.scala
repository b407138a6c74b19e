package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Skew mitigation for shuffle joins (the 100 TB failure mode AQE can't
 * always save: one pathological key → one straggler task → the job is as
 * slow as its hottest key).
 *
 * Technique: SALTING. The big (probe) side gets a deterministic salt in
 * [0, salts); the small (build) side is replicated once per salt value; the
 * join key becomes (key, salt). Each hot key now spreads over `salts`
 * shuffle partitions. Join RESULTS are independent of salt assignment —
 * pinned by spec against the unsalted join.
 *
 * Order of preference at scale:
 *  1. AQE skew-join (`spark.sql.adaptive.skewJoin.enabled`) — free, handles
 *     moderate skew; leave it on.
 *  2. Broadcast the small side — no shuffle of the big side at all
 *     (`Query.starJoin5Way` does this for dimension chains).
 *  3. Salting (this module) — when the small side is too big to broadcast
 *     AND a few keys dominate (taps-world example: one giant table's rows
 *     keyed by table name; LLM-world: boilerplate documents all landing in
 *     one LSH band — see `Dedup.minhashPairs`).
 */
object Skew {

  /** Key histogram — find the hot keys before deciding a strategy. */
  def keyHistogram(df: DataFrame, key: String, topN: Int = 20): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col(key)).limit(topN)

  /** Deterministic salt in [0, salts): a hash of the whole row, so re-runs
    * salt identically (no RNG — `rand()` breaks task-retry determinism). */
  private def rowSalt(df: DataFrame, salts: Int): Column =
    pmod(xxhash64(df.columns.map(col): _*), lit(salts)).cast("int")

  /** Salted equi-join: `big ⋈ small` on `key`, with the big side salted and
    * the small side replicated `salts` times. Output columns = big.* then
    * small.* minus the join key (standard join shape). */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salts: Int,
                 joinType: String = "inner"): DataFrame = {
    require(salts > 0, "salts must be positive")
    // the scheme (big side salted once, small side replicated per salt) is
    // only correct when unmatched SMALL-side rows are never emitted: a
    // right/full outer join would emit each unmatched small row `salts` times
    val normalized = joinType.toLowerCase.replace("_", "")
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti")(normalized),
      s"saltedJoin supports inner/left/left_semi/left_anti, not $joinType " +
        "(right/full outer would duplicate unmatched small-side rows per salt)")
    val spark = big.sparkSession
    val saltsDf = spark.range(salts).select(col("id").cast("int").as("__salt"))
    val bigS = big.withColumn("__salt", rowSalt(big, salts))
    val smallS = small.crossJoin(broadcast(saltsDf))
    bigS.join(smallS, Seq(key, "__salt"), joinType).drop("__salt")
  }
}
