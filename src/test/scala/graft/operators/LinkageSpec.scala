package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

class LinkageSpec extends AnyFunSuite with SparkSpec {

  test("linkPairs: candidates only within a block, canonical id_a < id_b, " +
      "score gate filters, lev rides along") {
    import spark.implicits._
    val df = Seq(
      (1L, "navy linen shirt", "B1"),
      (2L, "navy linen shirts", "B1"), // near-dup of 1, same block
      (3L, "crimson steel rod", "B1"), // same block, dissimilar
      (4L, "navy linen shirt", "B2")   // identical to 1 but other block
    ).toDF("id", "name", "brand")
    val out = Linkage.linkPairs(df, "id", "name", Seq("brand"), 0.9)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Int]("lev")))
      .toSeq
    // only (1,2) survives: blocking excludes 4, the gate excludes 3,
    // and the canonical order emits each pair once with id_a < id_b
    assert(out == Seq((1L, 2L, 1)))
  }

  test("linkPairs refuses an unblocked self-join") {
    import spark.implicits._
    val df = Seq((1L, "a", "b")).toDF("id", "name", "brand")
    intercept[IllegalArgumentException] {
      Linkage.linkPairs(df, "id", "name", Nil, 0.9)
    }
  }

  /** Classic dynamic-programming edit distance — the brute-force twin. */
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("nearestByEdit matches a brute-force argmin with (dist, id) ties, " +
      "stays inside blocks, and drops singleton blocks") {
    import spark.implicits._
    val rows = Seq(
      (1L, "navy linen shirt", "B1"),
      (2L, "navy linen shirts", "B1"),
      (3L, "wavy linen shirt", "B1"),  // dist 1 from id 1 — tie with id 2
      (4L, "crimson steel rod", "B1"),
      (5L, "navy linen shirt", "B2")   // singleton block: no candidate
    )
    val want = (for {
      (i, na, ba) <- rows
      cands = rows.filter { case (j, _, bb) => j != i && bb == ba }
      if cands.nonEmpty
    } yield {
      val (j, d) = cands.map { case (j, nb, _) => (j, lev(na, nb)) }
        .minBy { case (j, d) => (d, j) }
      (i, j, d)
    }).sortBy(_._1)
    val got = Linkage.nearestByEdit(rows.toDF("id", "name", "brand"),
      "id", "name", Seq("brand"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == want)
    assert(!got.exists(_._1 == 5L))
  }
}
