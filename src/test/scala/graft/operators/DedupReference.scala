package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dedup's UNFUSED minhash pipeline — signatures as (id, j, sig) rows, bands
  * by a collect_list aggregate, and jaccard over exploded token rows — kept
  * as the brute-force reference the fused production forms
  * ([[Dedup.minhashPairs]], [[Dedup.nearDupsFused]]) are pinned against. */
object DedupReference {

  /** Minhash signatures as (id, j, sig) rows. sig_j(doc) = min over tokens
    * of the j-th affine hash of the token's 40-bit md5 prefix. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        seeds: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val seedsDf = (0 until seeds).map { j =>
      val (a, b) = Dedup.sigAffine(j); (j.toLong, a, b)
    }.toDF("j", "a", "b")
    Dedup.tokens(docs, idCol, textCol)
      .withColumn("h", Dedup.h40Md5(col("w")))
      .crossJoin(broadcast(seedsDf))
      .groupBy(col(idCol), col("j"))
      .agg(min((col("a") * col("h") + col("b")) % lit(Dedup.SigMod)).as("sig"))
  }

  /** LSH banding: each band's signatures in seed order, joined with '_'.
    * Returns (id, band, band_sig). */
  def minhashBands(sigs: DataFrame, idCol: String, rowsPerBand: Int): DataFrame =
    sigs.withColumn("band", expr(s"j div $rowsPerBand"))
      .groupBy(col(idCol), col("band"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("j"), col("sig")))),
          x => x.getField("sig").cast("string")), "_").as("band_sig"))

  /** Exact token-set jaccard on the candidate pairs (doc_a, doc_b), keeping
    * pairs with jaccard ≥ threshold: (doc_a, doc_b, jaccard). */
  def jaccardOnCandidates(docs: DataFrame, idCol: String, textCol: String,
                          candidates: DataFrame, threshold: Double): DataFrame = {
    val arrs = Dedup.tokens(docs, idCol, textCol).groupBy(col(idCol))
      .agg(sort_array(collect_set(col("w"))).as("toks"))
    candidates
      .join(arrs.select(col(idCol).as("doc_a"), col("toks").as("ta")), Seq("doc_a"))
      .join(arrs.select(col(idCol).as("doc_b"), col("toks").as("tb")), Seq("doc_b"))
      .withColumn("i", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("jaccard",
        col("i").cast("double") /
          (size(col("ta")) + size(col("tb")) - col("i")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }
}
