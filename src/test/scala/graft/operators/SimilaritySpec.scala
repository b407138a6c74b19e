package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** X3 cosine/LSH similarity on hand-constructed vectors with known geometry. */
class SimilaritySpec extends AnyFunSuite with SparkSpec {

  private lazy val vecs = {
    import spark.implicits._
    Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(2.0f, 0.0f, 0.0f)),   // parallel to 0 → cos = 1
      (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal to 0 → cos = 0
      (3L, Array(-1.0f, 0.0f, 0.0f)),  // antiparallel → cos = -1
      (4L, Array(1.0f, 1.0f, 0.0f)),   // 45° → cos ≈ 0.707107
    ).toDF("vec_id", "embedding")
  }

  test("cosine geometry: parallel=1, orthogonal=0, antiparallel=-1, 45°≈0.707107") {
    val q = vecs.filter(col("vec_id") === 0L)
    val sims = Similarity.bruteForceTopK(vecs, q, k = 4)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(sims(1L) == 1.0)
    assert(sims(2L) == 0.0)
    assert(sims(3L) == -1.0)
    assert(sims(4L) == 0.707107) // round(1/sqrt(2), 6)
  }

  test("top-k is k rows per query, rank ordered by sim desc then id") {
    val q = vecs.filter(col("vec_id") < 2)
    val out = Similarity.bruteForceTopK(vecs, q, k = 3).collect()
    assert(out.length == 6) // 2 queries × k=3
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val ranked = rows.sortBy(_.getInt(3))
      assert(ranked.map(_.getInt(3)).toSeq == Seq(1, 2, 3))
      // sims non-increasing with rank
      assert(ranked.map(_.getDouble(2)).toSeq.reverse.sorted.reverse ==
        ranked.map(_.getDouble(2)).toSeq)
    }
  }

  test("lshBucket is deterministic and colinear vectors share a bucket") {
    val b = vecs.select(col("vec_id"),
      Similarity.lshBucket(col("embedding"), 8).as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b2 = vecs.select(col("vec_id"),
      Similarity.lshBucket(col("embedding"), 8).as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b == b2) // hyperplanes are hash-derived, no RNG
    assert(b(0L) == b(1L)) // scaling never flips a sign projection
    // antiparallel flips every nonzero projection → different bucket
    assert(b(0L) != b(3L))
  }

  test("embeddingNearDups finds the parallel pair and respects threshold") {
    val dups = Similarity.embeddingNearDups(vecs, 0.99, bits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(dups.exists(d => d._1 == 0L && d._2 == 1L && d._3 == 1.0))
    dups.foreach { case (a, b, s) => assert(a < b && s >= 0.99) }
  }

  test("dropEmbeddingNearDupsCC keeps one vector per transitive cosine cluster") {
    import spark.implicits._
    // 5, 6, 7 are colinear (pairwise cos = 1, identical LSH bucket —
    // identical direction ⇒ identical sign bits); 8 is orthogonal to them
    val docs = Seq(
      (5L, Array(1.0f, 2.0f, 0.0f)),
      (6L, Array(2.0f, 4.0f, 0.0f)),
      (7L, Array(0.5f, 1.0f, 0.0f)),
      (8L, Array(0.0f, 0.0f, 3.0f)),
    ).toDF("vec_id", "embedding")
    val kept = Similarity.dropEmbeddingNearDupsCC(docs, 0.99, bits = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(5L, 8L), s"cluster {5,6,7} keeps its minimum; got $kept")
  }

  test("lshBucketTopK finds the exact neighbor when it shares the bucket") {
    val q = vecs.filter(col("vec_id") === 0L)
    val out = Similarity.lshBucketTopK(vecs, q, k = 2, bits = 2)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(out.get(1L).contains(1.0)) // colinear neighbor always co-buckets
  }

  test("int8 quantization: codes in [0,255], constant dims → 0, roundtrip error bounded") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(0.0f, 5.0f, -2.0f)),
      (2L, Seq(1.0f, 5.0f, 2.0f)),
      (3L, Seq(0.5f, 5.0f, 0.1f)),
    ).toDF("vec_id", "embedding")
    val (mn, mx) = Similarity.dimStats(vecs)
    assert(mn.toSeq == Seq(0.0, 5.0, -2.0) && mx.toSeq == Seq(1.0, 5.0, 2.0))
    val codes = Similarity.quantizeInt8(vecs, mn, mx).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(codes.values.forall(c => c >= 0 && c <= 255))
    assert(codes((1L, 0)) == 0 && codes((2L, 0)) == 255) // range endpoints
    assert(codes.filter(_._1._2 == 1).values.forall(_ == 0)) // constant dim
    // dequantized values stay within half a bucket of the original
    (0 until 3).foreach { d =>
      val width = mx(d) - mn(d)
      vecs.collect().foreach { r =>
        val v = r.getSeq[Float](1)(d).toDouble
        val c = codes((r.getLong(0), d))
        val back = mn(d) + c * width / 255.0
        assert(math.abs(back - v) <= width / 255.0 / 2 + 1e-9,
          s"dim $d: $v -> code $c -> $back")
      }
    }
  }

  test("kmeansAssignInt8 matches brute-force code-space argmin with " +
      "lower-id ties, under any partitioning") {
    import spark.implicits._
    // deterministic pseudo-random vectors; ids 0..11, k = 3 seeds
    val rows = (0L to 11L).map { i =>
      (i, (0 until 4).map(d => ((i * 7 + d * 13) % 10).toFloat).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val (mn, mx) = Similarity.dimStats(df)
    def code(v: Float, d: Int): Long =
      if (mx(d) == mn(d)) 0L
      else math.floor((v.toDouble - mn(d)) * 255.0 / (mx(d) - mn(d)) + 0.5).toLong
    val codes = rows.map { case (i, vs) =>
      i -> vs.zipWithIndex.map { case (v, d) => code(v, d) }
    }.toMap
    val want = rows.map { case (i, _) =>
      val (d, c) = (0L to 2L).map { c =>
        (codes(i).zip(codes(c)).map { case (x, y) => (x - y) * (x - y) }.sum, c)
      }.min
      (i, c, d)
    }
    Seq(df, df.repartition(7)).foreach { in =>
      val got = Similarity.kmeansAssignInt8(in, k = 3)
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == want)
    }
  }

  test("kmeansRound2Int8 matches the brute-force assign/update/reassign " +
      "cycle (floored integer-mean centroids), under any partitioning") {
    import spark.implicits._
    val rows = (0L to 11L).map { i =>
      (i, (0 until 4).map(d => ((i * 7 + d * 13) % 10).toFloat).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val (mn, mx) = Similarity.dimStats(df)
    def code(v: Float, d: Int): Long =
      if (mx(d) == mn(d)) 0L
      else math.floor((v.toDouble - mn(d)) * 255.0 / (mx(d) - mn(d)) + 0.5).toLong
    val codes = rows.map { case (i, vs) =>
      i -> vs.zipWithIndex.map { case (v, d) => code(v, d) }
    }.toMap
    def assignTo(cents: Map[Long, Seq[Long]]): Map[Long, (Long, Long)] =
      rows.map { case (i, _) =>
        val (d, c) = cents.toSeq.map { case (cid, cc) =>
          (codes(i).zip(cc).map { case (x, y) => (x - y) * (x - y) }.sum, cid)
        }.min
        i -> ((c, d))
      }.toMap
    val cents0 = (0L to 2L).map(c => c -> codes(c)).toMap
    val a1 = assignTo(cents0)
    val cents1 = a1.groupBy(_._2._1).map { case (cid, members) =>
      val mcodes = members.keys.toSeq.map(codes)
      cid -> (0 until 4).map(d => mcodes.map(_(d)).sum / mcodes.size)
    }
    val a2 = assignTo(cents1)
    val want = rows.map { case (i, _) => (i, a2(i)._1, a2(i)._2) }
    Seq(df, df.repartition(7)).foreach { in =>
      val got = Similarity.kmeansRound2Int8(in, k = 3)
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == want)
    }
  }

  test("kmeansAssignInt8 edge cases: k larger than the corpus still " +
      "assigns every vector (self-assignment at distance 0)") {
    import spark.implicits._
    val df = Seq((1L, Seq(1f, 2f)), (2L, Seq(3f, 4f)), (3L, Seq(5f, 6f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kmeansAssignInt8(df, k = 10)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // every vector is its own centroid: dist 0, cluster = own id
    assert(got == Seq((1L, 1L, 0L), (2L, 2L, 0L), (3L, 3L, 0L)))
  }

  test("kmeansRound2Int8 edge cases: k beyond the corpus keeps " +
      "self-assignment stable through the update round (centroids = the " +
      "points themselves, round 2 re-assigns identically)") {
    import spark.implicits._
    val df = Seq((1L, Seq(1f, 2f)), (2L, Seq(3f, 4f)), (3L, Seq(5f, 6f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kmeansRound2Int8(df, k = 10)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 1L, 0L), (2L, 2L, 0L), (3L, 3L, 0L)))
  }

  test("rankFusionRrf equals the brute-force fused ranking (both rankers " +
      "replayed in Scala, integer RRF contributions)") {
    import spark.implicits._
    val rows = (0L to 11L).map { i =>
      (i, (0 until 4).map(d => (((i * 13 + d * 7) % 11) - 5).toFloat).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val queries = Seq(0L, 1L)
    val k = 4
    val vecs = rows.toMap
    def cosine(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val mn = (0 until 4).map(d => rows.map(_._2(d)).min.toDouble)
    val mx = (0 until 4).map(d => rows.map(_._2(d)).max.toDouble)
    def codes(v: Seq[Float]): Seq[Long] = v.zipWithIndex.map { case (x, d) =>
      if (mx(d) == mn(d)) 0L
      else math.floor((x.toDouble - mn(d)) * 255.0 / (mx(d) - mn(d)) + 0.5).toLong
    }
    val want = queries.flatMap { q =>
      val others = rows.map(_._1).filter(_ != q)
      val ra = others.map(c => (c, cosine(vecs(q), vecs(c))))
        .sortBy { case (c, s) => (-s, c) }.take(k).zipWithIndex
        .map { case ((c, _), i) => c -> (1000000L / (60 + i + 1)) }.toMap
      val rb = others.map { c =>
        (c, codes(vecs(q)).zip(codes(vecs(c)))
          .map { case (x, y) => (x - y) * (x - y) }.sum)
      }.sortBy { case (c, d) => (d, c) }.take(k).zipWithIndex
        .map { case ((c, _), i) => c -> (1000000L / (60 + i + 1)) }.toMap
      (ra.keySet ++ rb.keySet).toSeq
        .map(c => (q, c, ra.getOrElse(c, 0L) + rb.getOrElse(c, 0L)))
        .sortBy { case (_, c, s) => (-s, c) }.take(3)
    }.sortBy(x => (x._1, -x._3, x._2))
    val got = Similarity.rankFusionRrf(df,
        df.filter(col("vec_id").isin(queries: _*)), k = k, topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(x => (x._1, -x._3, x._2)).toSeq
    assert(got == want)
  }

  test("hardNegatives: nearest DIFFERENT-label vectors, brute-force parity, " +
      "same-label and null-label rows excluded, (dist, id) tie-break") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val data = (0L until 40L).map { i =>
      val lab: Integer = if (i % 13 == 0) null else Int.box((i % 3).toInt)
      (i, Array.fill(8)(rnd.nextFloat()), lab)
    }
    val df = data.toDF("vec_id", "embedding", "label")
    val q = df.filter(col("vec_id") < 5)
    val got = Similarity.hardNegatives(df, q, dims = 8, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(4)) -> r.getLong(1)).toMap
    // brute force in the same fixed-point metric
    def fp(v: Array[Float]) = v.map(x => math.floor(x.toDouble * 65536 + 0.5).toLong)
    val all = data.map { case (id, v, l) => (id, fp(v), Option(l).map(_.toInt)) }
    for ((qid, qv, ql) <- all.take(5); if ql.nonEmpty) {
      val want = all
        .filter { case (cid, _, cl) => cid != qid && cl.nonEmpty && cl != ql }
        .map { case (cid, cv, _) =>
          (qv.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum, cid) }
        .sorted.take(3).map(_._2)
      want.zipWithIndex.foreach { case (cid, i) =>
        assert(got((qid, i + 1)) == cid, s"query $qid rank ${i + 1}")
      }
    }
    // null-labeled queries emit nothing; no same-label neighbor anywhere
    val rows = Similarity.hardNegatives(df, df.filter(col("vec_id") === 13L ||
        col("vec_id") === 1L), dims = 8, k = 3).collect()
    assert(rows.forall(_.getLong(0) == 1L)) // 13 is null-labeled
  }

  test("prefixDimOverlap: identical rankings at full prefix (overlap = k); " +
      "engineered prefix decoy lowers the overlap; zero-overlap queries " +
      "still emit") {
    import spark.implicits._
    // 1 query + 4 candidates in 4 dims: prefix (first 2 dims) ranks decoy
    // FIRST while the full distance ranks it LAST
    val df = Seq(
      (0L, Array(0.0f, 0.0f, 0.0f, 0.0f)),   // query
      (1L, Array(0.1f, 0.0f, 0.0f, 0.0f)),   // near in both
      (2L, Array(0.2f, 0.0f, 0.0f, 0.0f)),   // near in both
      (3L, Array(0.0f, 0.0f, 9.0f, 9.0f)),   // prefix-perfect decoy, far in full
      (4L, Array(0.3f, 0.3f, 0.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") === 0L)
    val atFull = Similarity.prefixDimOverlap(df, q, prefixDims = 4,
      fullDims = 4, k = 2).collect()(0)
    assert(atFull.getLong(1) == 2L && atFull.getDouble(2) == 1.0)
    val pre = Similarity.prefixDimOverlap(df, q, prefixDims = 2,
      fullDims = 4, k = 2).collect()(0)
    // prefix top-2 = {3, 1} (decoy wins the prefix), full top-2 = {1, 2}
    assert(pre.getLong(1) == 1L && pre.getDouble(2) == 0.5)
    // k = 1: prefix picks ONLY the decoy -> zero overlap, row still emitted
    val z = Similarity.prefixDimOverlap(df, q, prefixDims = 2,
      fullDims = 4, k = 1).collect()(0)
    assert(z.getLong(1) == 0L && z.getDouble(2) == 0.0)
  }

  test("ranking contract: every ranker ranks by (score, neighbor_id) from 1, " +
      "skips self-matches, and never ranks a NULL or short vector") {
    import spark.implicits._
    // 4-d corpus: 7 duplicates 3 (tied scores), 9 is NULL, 10 is short
    def vec(i: Long) = Array.tabulate(4)(d => (((i * 7 + d * 5) % 11) - 5) / 5f)
    val rows = (0L until 12L).map {
      case 7L => (7L, vec(3L), 1)
      case 9L => (9L, null, 0)
      case 10L => (10L, vec(10L).take(3), 1)
      case i => (i, vec(i), (i % 3).toInt)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val bad = Set(9L, 10L)
    val clean = df.filter(!col("vec_id").isin(bad.toSeq: _*))
    val cents = Similarity.trainCentroids(clean, k = 3, iters = 2)
    val cb = Similarity.trainPqCodebooks(clean, m = 2, k = 4, iters = 2)
    val coarse = Similarity.trainPqCodebooks(clean, m = 1, k = 3, iters = 2)(0)
    val k = 20 // past the corpus size
    // (name, output, score column, descending, ranks every valid pair)
    val rankers = Seq(
      ("bruteForceTopK", Similarity.bruteForceTopK(df, df, k), "sim", true, true),
      ("lshBucketTopK", Similarity.lshBucketTopK(df, df, k, bits = 2), "sim", true, false),
      ("ivfTopK", Similarity.ivfTopK(df, df, k, cents, nprobe = 2), "sim", true, false),
      ("pqTopK", Similarity.pqTopK(df, df, cb, k), "dist", false, true),
      ("pqTopKRefine", Similarity.pqTopKRefine(df, df, cb, k, shortlist = k),
        "dist", false, true),
      ("exactTopKFixed", Similarity.exactTopKFixed(df, df, 4, k), "dist", false, true),
      ("hardNegatives", Similarity.hardNegatives(df, df, 4, k), "dist", false, false),
      ("ivfPqTopK", Similarity.ivfPqTopK(df, df, coarse, cb, k, nprobe = 2),
        "dist", false, false))
    val valid = rows.count(r => !bad(r._1))
    for ((name, out, score, desc, full) <- rankers) {
      val got = out.select(col("query_id"), col("neighbor_id"),
          col(score).cast("double"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          Option(r.getAs[java.lang.Double](2)).map(_.doubleValue), r.getInt(3)))
      assert(got.nonEmpty, name)
      assert(got.forall(_._3.nonEmpty), s"$name ranked a NULL score")
      assert(got.forall { case (q, n, _, _) => q != n }, s"$name: self-match")
      assert(got.forall { case (q, n, _, _) => !bad(q) && !bad(n) },
        s"$name ranked a NULL or short vector: ${got.filter(r => bad(r._1) || bad(r._2)).toSeq}")
      got.groupBy(_._1).foreach { case (q, g) =>
        val byRank = g.sortBy(_._4).toSeq
        assert(byRank.map(_._4) == (1 to g.length), s"$name: query $q ranks")
        val keys = byRank.map { case (_, n, sc, _) => (if (desc) -sc.get else sc.get, n) }
        assert(keys == keys.sorted, s"$name: query $q order")
        if (full) assert(g.length == valid - 1, s"$name: query $q rows")
      }
    }
    // the fused ranking inherits the contract from both of its rankings
    val fused = Similarity.rankFusionRrf(df, df, k, topK = k).collect()
    assert(fused.nonEmpty && fused.forall(r => !bad(r.getLong(0)) && !bad(r.getLong(1))))
    // sign-LSH takes 1 to 64 hyperplane bits
    Seq(0, 65).foreach { b =>
      intercept[IllegalArgumentException](Similarity.lshBucket(col("embedding"), b))
    }
  }

  test("training and int8 k-means contract: a NULL or short vector never " +
      "seeds and is never assigned, even among the smallest ids") {
    import spark.implicits._
    def vec(i: Long) = Array.tabulate(4)(d => (((i * 7 + d * 5) % 11) - 5) / 5f)
    // id 0 is NULL; id 1 is short — a prefix of id 5's vector, so the int8
    // calibration (per-dimension min and max) is the clean corpus' own
    val df = (0L until 12L).map {
      case 0L => (0L, null)
      case 1L => (1L, vec(5L).take(3))
      case i => (i, vec(i))
    }.toDF("vec_id", "embedding")
    val clean = df.filter(col("vec_id") >= 2)
    // (function, its result as a comparable value)
    val table: Seq[(String, org.apache.spark.sql.DataFrame => Any)] = Seq(
      ("trainCentroids", d => Similarity.trainCentroids(d, k = 3, iters = 2).toSeq),
      ("trainPqCodebooks", d => Similarity.trainPqCodebooks(d, m = 2, k = 4, iters = 2)
        .map(_.map(_.toSeq).toSeq).toSeq),
      ("kmeansAssignInt8", d => Similarity.kmeansAssignInt8(d, k = 3).collect().toSet),
      ("kmeansRound2Int8", d => Similarity.kmeansRound2Int8(d, k = 3).collect().toSet))
    // equal to the clean corpus' result: the bad vectors did not seed,
    // and the int8 assignments carry no row for them
    for ((name, run) <- table) assert(run(df) == run(clean), name)
  }
}
