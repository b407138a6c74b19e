package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * The text family's shared steps — tokenizer, word n-grams, md5-prefix
 * hash — each written once. TextAnalysis, Dedup, Curation, SpanDedup,
 * Sampling and the text keys in `SparkEntry` build on these; the DuckDB
 * oracle SQL keeps its own text, because it is the oracle. The fused
 * native kernels (`org.apache.spark.sql.graft.TokenKernels`) scan the
 * same bytes as [[tokens]].
 *
 * NULL-text rule: [[tokens]] propagates NULL — a NULL document tokenizes
 * to NULL, as DuckDB's `string_split` does — while "" and an all-space
 * document tokenize to the empty array. So a token count of a NULL
 * document is NULL and its token explode yields no rows, while [[grams]]
 * of a NULL token array is the empty array (its `size >= n` guard is not
 * true), so gram counts are 0. A caller that counts a NULL document as
 * empty coalesces the text to "" first, as SpanDedup, the Curation
 * kernels, `ext_type_token_ratio` and `ext_contamination_matrix` do.
 * `TextContractSpec` pins each entry point on NULL, "", all-space,
 * one-token and short documents.
 */
private[graft] object Text {

  /** `lower(c)` split on single spaces, empty strings kept — the array
    * [[tokens]] filters. `TextAnalysis.tokenCounts` explodes it and drops
    * the empty rows after the explode, the plan its oracle-checked key
    * has always run. */
  def words(c: Column): Column = split(lower(c), " ")

  /** The family tokenizer: lowercased, split on single spaces, empties
    * dropped. Only 0x20 separates tokens — a tab or newline stays inside
    * its token. */
  def tokens(c: Column): Column = filter(words(c), w => w =!= "")

  /** The whitespace-run variant (`\s+` split), which the
    * `ext_token_count_per_doc` and `ext_length_histogram` oracles pin. */
  def whitespaceTokens(c: Column): Column =
    filter(split(lower(c), "\\s+"), w => w =!= "")

  /** Word `n`-grams of a token array in order, duplicates kept, each its
    * `n` tokens joined by single spaces; empty below `n` tokens (the guard
    * also keeps `sequence` from running a descending range). Pass the
    * tokens as a projected column, not as the [[tokens]] expression: the
    * lambda evaluates `toks` once per gram, so an inline tokenizer splits
    * the document again for every gram. */
  def grams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - lit(n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** The leading `hexDigits` hex digits of md5(c) as a BIGINT: the
    * oracle-replayable hash family (the DuckDB oracle decodes the same
    * digits). At most 15 digits keep the value below 2^63. */
  def md5Prefix(c: Column, hexDigits: Int): Column =
    conv(substring(md5(c), 1, hexDigits), 16, 10).cast("long")
}
