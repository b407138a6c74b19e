package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Composed corpus-preparation pipeline (SURVEY §2.11): the end-to-end pass a
 * training-data run executes, built from the X4/X1 operators —
 *
 *   PII scrub → normalize → quality gate → exact dedup → cleaned corpus
 *
 * The point of shipping the COMPOSITION (not just the operators) is the
 * plan it produces: scrub + normalize + both quality ratios fuse into one
 * narrow whole-stage-codegen'd projection over the scan, the gate is a
 * filter on that same pass, and the only shuffle in the whole pipeline is
 * the dedup window on the cleaned text (pinned by PipelineSpec). 100 TB
 * in, one shuffle, cleaned corpus out.
 */
object Pipeline {

  /** Clean `docs` for training: mask PII, normalize, drop low-quality docs
    * (too short after cleaning, or alpha ratio below `minAlpha` — the
    * classic boilerplate/markup signal), then keep the lowest-id doc per
    * distinct cleaned text. Returns (id, clean_text, n_tokens). */
  def cleanCorpus(docs: DataFrame, idCol: String, textCol: String,
                  minChars: Int = 50, minAlpha: Double = 0.5): DataFrame = {
    val cleaned = TextAnalysis.normalize(TextAnalysis.maskPii(col(textCol)))
    val alpha = length(regexp_replace(col(textCol), "[^a-zA-Z]", "")).cast("double") /
      length(col(textCol)).cast("double")
    // the 1-element explode is a PREDICATE-PUSHDOWN BARRIER, not data
    // flow: the quality gate filters on clean_text, and without the
    // barrier Catalyst pushes that predicate below the projection into
    // the scan, where it re-runs the whole 4-regex scrub+normalize chain
    // — the pipeline's dominant per-row cost — a second time per row
    // (codegen subexpression elimination does not span Filter/Project;
    // measured 0.72 → 0.50 s at sf0.1/local[32])
    val staged = docs
      .select(col(idCol),
        explode(array(struct(cleaned.as("ct"), alpha.as("al")))).as("__x"))
      .select(col(idCol), col("__x.ct").as("clean_text"),
        col("__x.al").as("__alpha"))
      .filter(length(col("clean_text")) >= minChars && col("__alpha") >= minAlpha)
      .drop("__alpha")
    // dedup as a window, not a groupBy+self-join: rank within each distinct
    // cleaned text by id and keep rank 1 — ONE exchange on clean_text, and
    // WindowGroupLimit pushes the rank-1 cut ahead of the sort per partition
    val perText = Window.partitionBy(col("clean_text")).orderBy(col(idCol))
    staged
      .withColumn("__rn", row_number().over(perText))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("clean_text"),
        size(Text.tokens(col("clean_text"))).as("n_tokens"))
  }
}
