package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Salting must never change join results — only their distribution. */
class SkewSpec extends AnyFunSuite with SparkSpec {

  private lazy val (big, small) = {
    val sq = spark
    import sq.implicits._
    // 90% of big rows share key 1 (the straggler shape)
    val b = (1 to 1000).map(i => (if (i % 10 == 0) i % 7 else 1, s"row$i"))
      .toDF("k", "payload")
    val s = (0 to 6).map(k => (k, s"dim$k")).toDF("k", "attr")
    (b, s)
  }

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.select("k", "payload", "attr").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sorted.toSeq

  test("saltedJoin == plain join (inner)") {
    val plain = big.join(small, Seq("k"))
    val salted = Skew.saltedJoin(big, small, "k", salts = 8)
    assert(canon(salted) == canon(plain))
  }

  test("keyHistogram surfaces the hot key first") {
    val h = Skew.keyHistogram(big, "k").collect()
    // key 1: the 900 non-multiples of 10, plus multiples of 10 with i%7==1
    // (i ≡ 50 mod 70 → 14 of them) = 914
    assert(h.head.getInt(0) == 1 && h.head.getLong(1) == 914)
  }

  test("saltedJoin == plain join (left_outer and left_anti)") {
    val bigPlus = big.unionByName(
      spark.createDataFrame(Seq((99, "orphan"))).toDF("k", "payload"))
    val plainOuter = bigPlus.join(small, Seq("k"), "left_outer")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).sorted.toSeq
    val saltedOuter = Skew.saltedJoin(bigPlus, small, "k", 8, "left_outer")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(saltedOuter == plainOuter)
    val plainAnti = bigPlus.join(small, Seq("k"), "left_anti")
      .collect().map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
    val saltedAnti = Skew.saltedJoin(bigPlus, small, "k", 8, "left_anti")
      .collect().map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
    assert(saltedAnti == plainAnti && plainAnti.nonEmpty)
  }

  test("saltedJoin rejects join types that would duplicate small-side rows") {
    for (jt <- Seq("right", "right_outer", "full", "full_outer", "outer")) {
      val e = intercept[IllegalArgumentException] {
        Skew.saltedJoin(big, small, "k", 8, jt)
      }
      assert(e.getMessage.contains("saltedJoin"), jt)
    }
  }

  test("salted plan spreads the hot key over multiple partitions") {
    val parts = Skew.saltedJoin(big, small, "k", salts = 8)
      .filter(col("k") === 1)
      .withColumn("pid", spark_partition_id())
      .select("pid").distinct().count()
    assert(parts > 1, "hot key must no longer live in a single partition")
  }
}
