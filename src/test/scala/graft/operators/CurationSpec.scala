package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, monotonically_increasing_id}
import graft.SparkSpec

/** Decontamination overlap counting and k-anonymity suppression semantics. */
class CurationSpec extends AnyFunSuite with SparkSpec {

  test("decontaminate counts distinct-gram overlap and flags contaminated docs") {
    import spark.implicits._
    val train = Seq(
      (1L, "alpha beta gamma delta"),        // shares "alpha beta gamma" with bench
      (2L, "totally different words here"),  // clean
      (3L, "xy")                             // < 3 tokens -> no grams
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma epsilon")).toDF("doc_id", "text")
    val out = Curation.decontaminate(train, bench, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getInt(3)))).toMap
    // doc1 grams: "alpha beta gamma","beta gamma delta" -> one hits the bench set
    assert(out(1L) == ((2, 1L, 1)))
    assert(out(2L)._2 == 0L && out(2L)._3 == 0)
    assert(out(3L) == ((0, 0L, 0)))
  }

  test("decontaminate counts each overlapping gram once (distinct), not per occurrence") {
    import spark.implicits._
    // the gram "a b c" occurs twice in the train doc; distinct-gram counting
    // must report overlap 1, not 2
    val train = Seq((1L, "a b c x a b c")).toDF("doc_id", "text")
    val bench = Seq((9L, "a b c")).toDF("doc_id", "text")
    val row = Curation.decontaminate(train, bench, "doc_id", "text").head()
    assert(row.getLong(2) == 1L && row.getInt(3) == 1)
  }

  test("decontaminateFast (xxhash64) output is identical to the md5 witness on the fixture corpus") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val train = docs.filter(col("doc_id") % 13 =!= 0)
    val bench = docs.filter(col("doc_id") % 13 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
    val witness = rows(Curation.decontaminate(train, bench, "doc_id", "text", 3))
    val fast = rows(Curation.decontaminateFast(train, bench, "doc_id", "text", 3))
    assert(witness.exists(_._3 > 0), "fixture must contain contaminated docs")
    assert(fast == witness)
  }

  test("decontaminateBloom is bit-identical to decontaminateFast on the fixture corpus") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val train = docs.filter(col("doc_id") % 13 =!= 0)
    val bench = docs.filter(col("doc_id") % 13 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
    val fast = rows(Curation.decontaminateFast(train, bench, "doc_id", "text", 3))
    val bloom = rows(Curation.decontaminateBloom(train, bench, "doc_id", "text", 3))
    assert(fast.exists(_._3 > 0), "fixture must contain contaminated docs")
    assert(bloom == fast)
  }

  test("decontaminateBloom survives a saturated filter: false positives die in the exact join") {
    // 64 filter bits for thousands of grams -> the bloom passes nearly
    // everything; the result must still be exact (the filter is physical
    // pruning only, never a correctness surface)
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val train = docs.filter(col("doc_id") % 13 =!= 0)
    val bench = docs.filter(col("doc_id") % 13 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
    val fast = rows(Curation.decontaminateFast(train, bench, "doc_id", "text", 3))
    val bloom = rows(Curation.decontaminateBloom(train, bench, "doc_id", "text", 3,
      expectedGrams = 4, numBits = 64))
    assert(bloom == fast)
  }

  test("decontaminateBloom: empty benchmark and NULL text match the fast path") {
    import spark.implicits._
    val train = Seq((1L, "alpha beta gamma delta"), (2L, null: String), (3L, "xy"))
      .toDF("doc_id", "text")
    val emptyBench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
    // empty benchmark: BloomFilterAggregate returns NULL bytes -> the guard
    // path must still emit one clean row per training doc
    val bloomEmpty = rows(Curation.decontaminateBloom(train, emptyBench, "doc_id", "text", 3))
    assert(bloomEmpty == Set((1L, 2, 0L, 0), (2L, 0, 0L, 0), (3L, 0, 0L, 0)))
    assert(bloomEmpty == rows(Curation.decontaminateFast(train, emptyBench, "doc_id", "text", 3)))
    // NULL text on the benchmark side too
    val nullBench = Seq((9L, null: String), (10L, "alpha beta gamma")).toDF("doc_id", "text")
    val bloomNull = rows(Curation.decontaminateBloom(train, nullBench, "doc_id", "text", 3))
    assert(bloomNull == rows(Curation.decontaminateFast(train, nullBench, "doc_id", "text", 3)))
    assert(bloomNull.contains((1L, 2, 1L, 1)))
  }

  test("kAnonymize keeps only QI groups of size >= k") {
    import spark.implicits._
    val df = Seq(
      (1, "a", 10), (2, "a", 10), (3, "a", 10), // group size 3
      (4, "b", 20), (5, "b", 20),               // group size 2
      (6, "c", 30)                              // group size 1
    ).toDF("id", "qi1", "qi2")
    val kept = Curation.kAnonymize(df, Seq("qi1", "qi2"), 3)
      .select("id").as[Int].collect().sorted.toSeq
    assert(kept == Seq(1, 2, 3))
  }

  test("kAnonymize at k=1 is the identity") {
    import spark.implicits._
    val df = Seq((1, "a"), (2, "b")).toDF("id", "qi")
    assert(Curation.kAnonymize(df, Seq("qi"), 1).count() == 2)
  }

  test("madOutliers flags only rows beyond k x the group's OWN MAD; a " +
      "group whose deviations are uniform flags nothing") {
    import spark.implicits._
    // g0: median 10.5, deviations {2.5,1.5,0.5,0.5,1.5,79.5} -> MAD 1.5;
    // only 90 exceeds 3 x 1.5 = 4.5. g1: tight cluster -> nothing flagged.
    val df = (Seq(8.0, 9.0, 10.0, 11.0, 12.0, 90.0).map(("g0", _)) ++
      Seq(1.0, 2.0, 3.0, 4.0, 5.0).map(("g1", _)))
      .toDF("g", "v").withColumn("id", monotonically_increasing_id())
    val out = Curation.madOutliers(df, "g", "v", 3.0)
      .select("g", "v", "med", "adev", "mad").collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getString(0) == "g0" && r.getDouble(1) == 90.0)
    assert(r.getDouble(2) == 10.5 && r.getDouble(3) == 79.5 && r.getDouble(4) == 1.5)
  }

  test("winsorize clips to each group's OWN quantiles, row count preserved") {
    import spark.implicits._
    // g0: 1..100 -> p05=5.95, p95=95.05 (interpolated); g1: all 7s, clip is identity
    val df = ((1 to 100).map(i => ("g0", i.toDouble)) ++
      (1 to 10).map(_ => ("g1", 7.0))).toDF("g", "v")
      .withColumn("id", monotonically_increasing_id())
    val out = Curation.winsorize(df, "g", "v", 0.05, 0.95)
    assert(out.count() == 110)
    val g0 = out.filter(col("g") === "g0").select("v_w")
      .collect().map(_.getDouble(0))
    val (lo, hi) = (g0.min, g0.max)
    assert(lo > 5.0 && lo < 7.0 && hi > 95.0 && hi < 96.0, s"($lo, $hi)")
    // interior values untouched
    assert(g0.count(v => v == 50.0) == 1)
    assert(out.filter(col("g") === "g1").select("v_w")
      .collect().forall(_.getDouble(0) == 7.0))
  }

  test("gramNovelty: first occurrence by id order wins; re-posts score 0; " +
      "short and NULL docs keep a NULL novelty") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),            // grams: "a b c", "b c d" — both first here
      (2L, "a b c d"),            // exact re-post: 0 novel of 2
      (3L, "a b c x y z"),        // "a b c" seen; 3 of 4 novel
      (4L, "a b"),                // < 3 tokens: 0 grams, NULL novelty
      (5L, null.asInstanceOf[String]),
    ).toDF("doc_id", "text")
    val got = Curation.gramNovelty(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), if (r.isNullAt(3)) -1.0 else r.getDouble(3)))
      .toMap
    assert(got(1L) == ((2, 2L, 1.0)))
    assert(got(2L) == ((2, 0L, 0.0)))
    assert(got(3L) == ((4, 3L, 0.75)))
    assert(got(4L) == ((0, 0L, -1.0)))
    assert(got(5L) == ((0, 0L, -1.0)))
  }
}
