package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{PqArgmin, SqDistLong}
import graft.SparkSpec
import graft.operators.Similarity

/** The native PQ kernels: bit-equivalence with the HOF compositions they
  * replace (PqArgmin ≡ array_position∘array_min over per-centroid sqDist
  * folds, ties included; SqDistLong ≡ the zip_with/aggregate fold), null
  * semantics, codegen participation. */
class PqKernelsSpec extends AnyFunSuite with SparkSpec {

  /** 0-based index of the nearest centroid (min squared L2, ties → lowest
    * index) — the HOF reference (`array_position` returns the FIRST
    * occurrence, = the kernel's strict-less update). */
  private def pqNearestHof(sv: Column, cents: Array[Array[Long]]): Column = {
    val dists = array(cents.map(c => Similarity.sqDist(sv, lit(c))): _*)
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  // deterministic pseudo-random BIGINT subvectors, WITH planted exact
  // duplicates of centroid rows so argmin ties are exercised
  private lazy val subs = {
    val sq = spark
    import sq.implicits._
    (0 until 80).map { i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 131 + d * 17) % 23 - 11).toLong))
    }.toDF("id", "sv")
  }

  // rectangular codebook containing two IDENTICAL centroids (indices 2 and
  // 5) — any subvector nearest to that point ties and must take index 2
  private val cents: Array[Array[Long]] = Array.tabulate(6, 8) { (j, d) =>
    val jj = if (j == 5) 2 else j
    ((jj * 37 + d * 13) % 19 - 9).toLong
  }

  test("PqArgmin matches the HOF argmin bit-for-bit, ties to first index") {
    val cmp = subs.select(
      PqArgmin(col("sv"), cents).as("native"),
      pqNearestHof(col("sv"), cents).as("hof"))
    assert(cmp.filter(col("native") =!= col("hof")).count() == 0)
    // the duplicated centroid proves the tie rule is actually exercised:
    // feed the centroid itself, expect the FIRST occurrence (2, never 5)
    val sq = spark
    import sq.implicits._
    val tie = Seq(Tuple1(cents(5))).toDF("sv")
      .select(PqArgmin(col("sv"), cents).as("native"),
        pqNearestHof(col("sv"), cents).as("hof")).head()
    assert(tie.getInt(0) == 2 && tie.getInt(1) == 2)
  }

  test("PqArgmin null semantics: null input and length mismatch yield null") {
    val sq = spark
    import sq.implicits._
    val df = Seq(
      Tuple1(null.asInstanceOf[Array[Long]]),
      Tuple1(Array(1L, 2L, 3L)) // wrong length vs dsub = 8
    ).toDF("sv")
    val rs = df.select(PqArgmin(col("sv"), cents)).collect()
    assert(rs.forall(_.isNullAt(0)))
  }

  test("SqDistLong matches the zip_with/aggregate fold bit-for-bit") {
    val pairs = subs.as("a").crossJoin(subs.as("b"))
      .filter(col("a.id") < col("b.id"))
    val cmp = pairs.select(
      SqDistLong(col("a.sv"), col("b.sv")).as("native"),
      Similarity.sqDist(col("a.sv"), col("b.sv")).as("hof"))
    assert(cmp.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("SqDistLong null semantics: null input / length mismatch yield null") {
    val sq = spark
    import sq.implicits._
    val df = Seq(
      (Array(1L, 2L, 3L), Array(1L, 2L)),
      (null.asInstanceOf[Array[Long]], Array(1L, 2L))
    ).toDF("a", "b")
    val rs = df.select(
      SqDistLong(col("a"), col("b")).as("native"),
      Similarity.sqDist(col("a"), col("b")).as("hof")).collect()
    assert(rs.forall(r => r.isNullAt(0) && r.isNullAt(1)))
  }

  test("both kernels participate in codegen (no interpreted fallback)") {
    val p = subs.as("a").crossJoin(subs.as("b"))
      .select(SqDistLong(col("a.sv"), col("b.sv")).as("d"),
        PqArgmin(col("a.sv"), cents).as("c"))
      .queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
    assert(p.contains("WholeStageCodegen"), p.take(500))
  }
}
