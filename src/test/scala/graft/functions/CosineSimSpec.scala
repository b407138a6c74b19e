package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CosineSim
import graft.SparkSpec
import graft.operators.Similarity

/** The native cosine expression: bit-equivalence with the HOF composition,
  * null semantics, SQL registration, codegen path. */
class CosineSimSpec extends AnyFunSuite with SparkSpec {

  /** The built-in-composition reference the native expression is verified
    * against: a left-to-right zip_with/aggregate dot product in double. */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  private def cosineHof(a: Column, b: Column, scale: Int): Column =
    round(dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b))), scale)

  private lazy val vecs = {
    val sq = spark
    import sq.implicits._
    // pseudo-random but deterministic vectors
    (0 until 50).map { i =>
      (i.toLong, Array.tabulate(16)(d => ((i * 31 + d * 7) % 13 - 6).toFloat / 3f))
    }.toDF("id", "v")
  }

  test("native expression matches the zip_with/aggregate fold bit-for-bit") {
    val pairs = vecs.as("a").crossJoin(vecs.as("b"))
      .filter(col("a.id") < col("b.id"))
    val cmp = pairs.select(
      Similarity.cosine(col("a.v"), col("b.v"), 9).as("native"),
      cosineHof(col("a.v"), col("b.v"), 9).as("hof"))
    assert(cmp.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("null inputs produce null, not errors") {
    val sq = spark
    import sq.implicits._
    val df = Seq((Array(1.0f), null.asInstanceOf[Array[Float]])).toDF("a", "b")
    assert(df.select(CosineSim(col("a"), col("b"))).head().isNullAt(0))
  }

  test("unequal-length vectors yield null, matching the HOF composition") {
    val sq = spark
    import sq.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f))).toDF("a", "b")
    // zip_with null-pads the shorter array → aggregate sum absorbs the null
    val r = df.select(
      CosineSim(col("a"), col("b")).as("native"),
      cosineHof(col("a"), col("b"), 9).as("hof")).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("registered as a SQL function via GraftExtensions' injection") {
    // same registration path SparkSessionExtensions uses, applied to the
    // already-running test session's registry
    val sq = spark
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    sq.sessionState.functionRegistry.registerFunction(
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CosineSim(children(0), children(1)))
    vecs.createOrReplaceTempView("vspec")
    val r = sq.sql(
      "SELECT round(cosine_sim(a.v, a.v), 6) AS s FROM vspec a LIMIT 5")
      .collect().map(_.getDouble(0))
    assert(r.forall(_ == 1.0)) // self-similarity is exactly 1
  }

  test("expression participates in codegen (no fallback to interpreted)") {
    val p = vecs.as("a").crossJoin(vecs.as("b"))
      .select(CosineSim(col("a.v"), col("b.v")).as("s"))
      .queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
    assert(p.contains("WholeStageCodegen"), p.take(500))
  }
}
