package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** IVF ANN: training convergence on separable clusters, exact recall when
  * clusters are obvious, determinism, and the probe mechanics. */
class IvfSpec extends AnyFunSuite with SparkSpec {

  /** Three well-separated direction clusters in 6-d. */
  private lazy val clustered = {
    val sq = spark
    import sq.implicits._
    val base = Seq(
      Array(1f, 0f, 0f, 0f, 0f, 0f),
      Array(0f, 0f, 1f, 0f, 0f, 0f),
      Array(0f, 0f, 0f, 0f, 1f, 0f))
    (0 until 30).map { i =>
      val c = base(i % 3)
      // jitter one off-axis coordinate a little; direction stays in-cluster
      val v = c.clone(); v((i % 3 * 2 + 1) % 6) = 0.1f + 0.01f * (i / 3)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  test("trainCentroids separates obvious clusters; assignment is pure") {
    val cents = Similarity.trainCentroids(clustered, k = 3, iters = 3)
    assert(cents.length == 3)
    val buckets = clustered
      .withColumn("b", Similarity.nearestCentroid(col("embedding"), cents))
      .select("vec_id", "b")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // every member of a direction cluster lands in the same bucket
    for (m <- 0 until 3) {
      val ids = (0 until 30).filter(_ % 3 == m).map(_.toLong)
      assert(ids.map(buckets).toSet.size == 1, s"cluster $m split: ${ids.map(buckets)}")
    }
    // and the three clusters use three distinct buckets
    assert((0 until 3).map(m => buckets(m.toLong)).toSet.size == 3)
  }

  test("ivfTopK with nprobe=1 on separable data == brute force within the cluster") {
    val cents = Similarity.trainCentroids(clustered, k = 3, iters = 3)
    val queries = clustered.filter(col("vec_id") < 3)
    val ivf = Similarity.ivfTopK(clustered, queries, k = 3, cents, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val brute = Similarity.bruteForceTopK(clustered, queries, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    // nearest neighbors of an in-cluster query are in-cluster → IVF agrees
    assert(ivf == brute)
  }

  test("probeCentroids returns nprobe distinct bucket ids, nearest first") {
    val cents = Similarity.trainCentroids(clustered, k = 3, iters = 2)
    val probes = clustered.filter(col("vec_id") === 0L)
      .select(Similarity.probeCentroids(col("embedding"), cents, 2))
      .head().getSeq[Int](0)
    assert(probes.length == 2 && probes.distinct.length == 2)
    val own = clustered.filter(col("vec_id") === 0L)
      .select(Similarity.nearestCentroid(col("embedding"), cents)).head().getInt(0)
    assert(probes.head == own) // first probe = the assignment bucket
  }

  test("ivfTopK with nprobe = all centroids degrades exactly to bruteForceTopK") {
    val sq = spark
    import sq.implicits._
    // unclustered: most neighbors sit outside the query's own cell
    val rnd = new scala.util.Random(11)
    val df = (0L until 40L).map(i => (i, Array.fill(6)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(df, k = 4, iters = 2)
    val queries = df.filter(col("vec_id") < 8)
    def rows(out: org.apache.spark.sql.DataFrame) = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val brute = rows(Similarity.bruteForceTopK(df, queries, k = 5))
    val probed = rows(Similarity.ivfTopK(df, queries, k = 5, cents, nprobe = 4))
    assert(probed == brute && brute.size == 40)
  }

  test("training and search are deterministic run-over-run (no RNG)") {
    val a = Similarity.trainCentroids(clustered, 3, 2)
    val b = Similarity.trainCentroids(clustered, 3, 2)
    assert(a.map(_.toList).toList == b.map(_.toList).toList)
  }
}
