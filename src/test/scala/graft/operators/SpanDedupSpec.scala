package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Paragraph-level dedup semantics (the cross-engine values are the
  * `ext_paragraph_dedup` oracle's job; this pins the first-occurrence
  * election, ordering, edge docs, and the no-collect_list-on-the-election
  * plan property on crafted corpora). */
class SpanDedupSpec extends AnyFunSuite with SparkSpec {

  private def corpus(rows: (Long, String)*) = {
    val sq = spark
    import sq.implicits._
    rows.toDF("doc_id", "text")
  }

  test("corpus-wide first occurrence wins; docs rebuilt in paragraph order") {
    // w=3: doc 1 = [a b c][d e f][g h], doc 2 repeats [d e f] then fresh,
    // doc 3 is entirely doc 1's first paragraph
    val out = SpanDedup.dedupParagraphs(corpus(
        1L -> "a b c d e f g h",
        2L -> "d e f x y z",
        3L -> "a b c"), "doc_id", "text", w = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == ((3, 3L, "a b c d e f g h"))) // first occurrences all
    assert(out(2L) == ((2, 1L, "x y z")))           // lost [d e f] to doc 1
    assert(out(3L) == ((1, 0L, "")))                // fully deduped, row kept
  }

  test("within one doc a repeated paragraph keeps only its first position") {
    val out = SpanDedup.dedupParagraphs(corpus(
        7L -> "p q r s t u p q r"), "doc_id", "text", w = 3)
      .collect().head
    assert(out.getInt(1) == 3 && out.getLong(2) == 2L &&
      out.getString(3) == "p q r s t u")
  }

  test("election order is (doc_id, pidx), not arrival: lower doc id wins " +
      "even when its copy sits at a later paragraph index") {
    val out = SpanDedup.dedupParagraphs(corpus(
        1L -> "x x x a b c", // [a b c] at pidx 1
        2L -> "a b c"),      // [a b c] at pidx 0 — still loses to doc 1
      "doc_id", "text", w = 3)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out(1L) == "x x x a b c" && out(2L) == "")
  }

  test("empty / NULL / whitespace docs survive with zero paragraphs") {
    val out = SpanDedup.dedupParagraphs(corpus(
        1L -> "", 2L -> null, 3L -> "   ", 4L -> "k l"), "doc_id", "text", w = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == ((0, 0L, "")) && out(2L) == ((0, 0L, "")))
    assert(out(3L) == ((0, 0L, "")))
    assert(out(4L) == ((1, 1L, "k l"))) // ragged final paragraph kept whole
  }

  test("the election plans as a window rank, never a collect_list " +
      "(a billion-clone paragraph carries one retained row, not an array)") {
    val plan = SpanDedup.dedupParagraphs(corpus(1L -> "a b c d"),
      "doc_id", "text", w = 2).queryExecution.optimizedPlan.toString
    assert(plan.contains("row_number"))
    // the only collect_list is the per-DOC reassembly (bounded by doc
    // length); the per-PARAGRAPH election must not collect members
    assert(!plan.contains("collect_set"))
  }
}
