package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Layout: z-value interleave arithmetic and small-file compaction. */
class LayoutSpec extends AnyFunSuite with SparkSpec {

  test("zValue interleaves bits dimension-alternating (known vectors)") {
    import spark.implicits._
    // x=0b11=3, y=0b01=1, bits=2: bit0(x)→pos0, bit0(y)→pos1, bit1(x)→pos2,
    // bit1(y)→pos3 ⇒ z = 1 + 2 + 4 + 0 = 7
    val df = Seq((3L, 1L), (0L, 0L), (1L, 0L), (0L, 1L), (3L, 3L))
      .toDF("x", "y")
    val z = df.select(Layout.zValue(Seq(col("x"), col("y")), 2).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(z == Seq(7L, 0L, 1L, 2L, 15L))
  }

  test("zValue is monotone-local: nearby points share high bits") {
    import spark.implicits._
    // the defining property used for pruning: quadrants of the key space
    // map to disjoint z ranges (top interleaved bits = quadrant id)
    val pts = for (x <- 0 until 16; y <- 0 until 16) yield (x.toLong, y.toLong)
    val rows = pts.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zValue(Seq(col("x"), col("y")), 4).as("z"))
      .collect()
    rows.foreach { r =>
      val (x, y, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val quadrant = ((y >> 3) << 1) | (x >> 3) // top bit of each dim
      assert(z >> 6 === quadrant, s"($x,$y) z=$z")
    }
  }

  test("compact folds a small-file directory without shuffling or losing rows") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("compact").toString
    val (src, dst) = (s"$base/src", s"$base/dst")
    // 24 tiny files — the post-streaming-sink pathology
    (1 to 2400).map(i => (i.toLong, s"row_$i")).toDF("id", "payload")
      .repartition(24).write.parquet(src)
    val (nIn, nOut) = Layout.compact(spark, src, dst, targetBytes = 1L << 40)
    assert(nIn == 24 && nOut == 1, s"in=$nIn out=$nOut")
    // pure rewrite: identical multiset of rows
    val a = spark.read.parquet(src).collect().map(_.toSeq).sortBy(_.toString)
    val b = spark.read.parquet(dst).collect().map(_.toSeq).sortBy(_.toString)
    assert(a.toSeq == b.toSeq)
    // the compaction plan must be shuffle-free (coalesce, not repartition)
    val plan = spark.read.parquet(src).coalesce(1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"compaction must not shuffle:\n$plan")
    // sizing: a 2-file target yields 2 files
    val dst2 = s"$base/dst2"
    val total = Option(new java.io.File(src).listFiles()).get
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val (_, n2) = Layout.compact(spark, src, dst2, targetBytes = total / 2 + 1)
    assert(n2 == 2, s"want 2 output files, got $n2")
  }
}
