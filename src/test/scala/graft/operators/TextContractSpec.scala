package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The text family's edge-document contract (the NULL-text rule on
  * [[Text]]): every entry point runs over a NULL document, "", an
  * all-space document, one token, fewer than n tokens (with a run of
  * spaces), and an n-token control document. Each document is its own
  * one-row corpus, so a row is the entry point's answer for that
  * document alone. The md5 and xxhash64 values come from plain-JVM
  * references below, not from Spark. */
class TextContractSpec extends AnyFunSuite with SparkSpec {

  private val docs: Seq[(Long, String)] = Seq(
    1L -> null, 2L -> "", 3L -> "   ", 4L -> "Alpha",
    5L -> "alpha  beta", 6L -> "The cat sat")

  private def corpus(id: Long): DataFrame = {
    import spark.implicits._
    Seq(id -> docs.toMap.apply(id)).toDF("doc_id", "text")
  }

  /** A row as "a|b|…", arrays as "[x,y]", NULL as "null". */
  private def show(r: Row): String = r.toSeq.map {
    case null => "null"
    case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
    case v => v.toString
  }.mkString("|")

  private def md5Prefix(s: String, hexDigits: Int): Long = {
    val hex = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.take(hexDigits), 16)
  }
  private def xxhash64(s: String): Long = {
    val b = s.getBytes("UTF-8")
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }
  private def rolling(toks: Seq[String], h: String => Long): Long =
    toks.foldLeft(0L)((acc, w) => (acc * 31 + h(w)) % TextAnalysis.FingerprintMod)
  private def fp(toks: Seq[String]) =
    rolling(toks, w => Math.floorMod(xxhash64(w), TextAnalysis.FingerprintMod))
  private def fpMd5(toks: Seq[String]) = rolling(toks, md5Prefix(_, 14))
  private def h40(toks: Seq[String]) = toks.map(md5Prefix(_, 10)).sorted.mkString("[", ",", "]")

  private val abc = Seq("the", "cat", "sat")

  /** (entry point, run on a one-document corpus, expected rows per doc id —
    * sorted, as [[show]] prints them). */
  private val table: Seq[(String, DataFrame => DataFrame, Map[Long, Seq[String]])] = Seq(
    ("Text.tokens / Text.grams",
      d => d.select(col("doc_id"), Text.tokens(col("text")),
        Text.grams(Text.tokens(col("text")), 2)),
      Map(1L -> Seq("1|null|[]"), 2L -> Seq("2|[]|[]"), 3L -> Seq("3|[]|[]"),
        4L -> Seq("4|[alpha]|[]"), 5L -> Seq("5|[alpha,beta]|[alpha beta]"),
        6L -> Seq("6|[the,cat,sat]|[the cat,cat sat]"))),
    ("TextAnalysis.tokenCounts",
      d => TextAnalysis.tokenCounts(d, "text"),
      Map(1L -> Nil, 2L -> Nil, 3L -> Nil, 4L -> Seq("alpha|1"),
        5L -> Seq("alpha|1", "beta|1"), 6L -> Seq("cat|1", "sat|1", "the|1"))),
    ("TextAnalysis.tokenCountPerDoc",
      d => TextAnalysis.tokenCountPerDoc(d, "doc_id", "text"),
      Map(1L -> Seq("1|null"), 2L -> Seq("2|0"), 3L -> Seq("3|0"), 4L -> Seq("4|1"),
        5L -> Seq("5|2"), 6L -> Seq("6|3"))),
    // a ratio over zero characters or zero tokens is NULL
    ("TextAnalysis.qualityScore",
      d => TextAnalysis.qualityScore(d, "doc_id", "text"),
      Map(1L -> Seq("1|null|null|null|null|null"), 2L -> Seq("2|0|0|null|null|null"),
        3L -> Seq("3|3|0|0.0|null|null"), 4L -> Seq("4|5|1|1.0|0.0|5.0"),
        5L -> Seq("5|11|2|0.8181818181818182|0.0|5.0"),
        6L -> Seq("6|11|3|0.8181818181818182|0.3333333333333333|3.0"))),
    ("TextAnalysis.fingerprint",
      d => TextAnalysis.fingerprint(d, "doc_id", "text"),
      Map(1L -> Seq("1|null"), 2L -> Seq("2|0"), 3L -> Seq("3|0"),
        4L -> Seq(s"4|${fp(Seq("alpha"))}"), 5L -> Seq(s"5|${fp(Seq("alpha", "beta"))}"),
        6L -> Seq(s"6|${fp(abc)}"))),
    ("TextAnalysis.fingerprintMd5",
      d => TextAnalysis.fingerprintMd5(d, "doc_id", "text"),
      Map(1L -> Seq("1|null"), 2L -> Seq("2|0"), 3L -> Seq("3|0"),
        4L -> Seq(s"4|${fpMd5(Seq("alpha"))}"),
        5L -> Seq(s"5|${fpMd5(Seq("alpha", "beta"))}"), 6L -> Seq(s"6|${fpMd5(abc)}"))),
    ("TextAnalysis.ngramRepetition",
      d => TextAnalysis.ngramRepetition(d, "doc_id", "text", n = 3),
      Map(1L -> Seq("1|0|0|0.0"), 2L -> Seq("2|0|0|0.0"), 3L -> Seq("3|0|0|0.0"),
        4L -> Seq("4|0|0|0.0"), 5L -> Seq("5|0|0|0.0"), 6L -> Seq("6|1|1|0.0"))),
    ("TextAnalysis.winnowFingerprints",
      d => TextAnalysis.winnowFingerprints(d, "doc_id", "text", shingle = 2, window = 2),
      Map(1L -> Seq("1|0|0|"), 2L -> Seq("2|0|0|"), 3L -> Seq("3|0|0|"),
        4L -> Seq("4|0|0|"), 5L -> Seq("5|1|0|"),
        6L -> Seq(s"6|2|1|${math.min(md5Prefix("the cat", 14), md5Prefix("cat sat", 14))}"))),
    ("Curation.decontaminate",
      d => Curation.decontaminate(d, d, "doc_id", "text", n = 3),
      Map(1L -> Seq("1|0|0|0"), 2L -> Seq("2|0|0|0"), 3L -> Seq("3|0|0|0"),
        4L -> Seq("4|0|0|0"), 5L -> Seq("5|0|0|0"), 6L -> Seq("6|1|1|1"))),
    ("Curation.decontaminateFast",
      d => Curation.decontaminateFast(d, d, "doc_id", "text", n = 3),
      Map(1L -> Seq("1|0|0|0"), 2L -> Seq("2|0|0|0"), 3L -> Seq("3|0|0|0"),
        4L -> Seq("4|0|0|0"), 5L -> Seq("5|0|0|0"), 6L -> Seq("6|1|1|1"))),
    ("Curation.decontaminateBloom",
      d => Curation.decontaminateBloom(d, d, "doc_id", "text", n = 3),
      Map(1L -> Seq("1|0|0|0"), 2L -> Seq("2|0|0|0"), 3L -> Seq("3|0|0|0"),
        4L -> Seq("4|0|0|0"), 5L -> Seq("5|0|0|0"), 6L -> Seq("6|1|1|1"))),
    ("Curation.gramNovelty",
      d => Curation.gramNovelty(d, "doc_id", "text", n = 3),
      Map(1L -> Seq("1|0|0|null"), 2L -> Seq("2|0|0|null"), 3L -> Seq("3|0|0|null"),
        4L -> Seq("4|0|0|null"), 5L -> Seq("5|0|0|null"), 6L -> Seq("6|1|1|1.0"))),
    ("SpanDedup.removeDupSpans",
      d => SpanDedup.removeDupSpans(d, "doc_id", "text", n = 2),
      Map(1L -> Seq("1|0|0|0|"), 2L -> Seq("2|0|0|0|"), 3L -> Seq("3|0|0|0|"),
        4L -> Seq("4|1|0|0|alpha"), 5L -> Seq("5|2|0|0|alpha beta"),
        6L -> Seq("6|3|0|0|the cat sat"))),
    ("SpanDedup.dedupParagraphs",
      d => SpanDedup.dedupParagraphs(d, "doc_id", "text", w = 2),
      Map(1L -> Seq("1|0|0|"), 2L -> Seq("2|0|0|"), 3L -> Seq("3|0|0|"),
        4L -> Seq("4|1|1|alpha"), 5L -> Seq("5|1|1|alpha beta"),
        6L -> Seq("6|2|2|the cat sat"))),
    ("Dedup.tokens",
      d => Dedup.tokens(d, "doc_id", "text"),
      Map(1L -> Nil, 2L -> Nil, 3L -> Nil, 4L -> Seq("4|alpha"),
        5L -> Seq("5|alpha", "5|beta"), 6L -> Seq("6|cat", "6|sat", "6|the"))),
    ("Dedup.tokenSets",
      d => Dedup.tokenSets(d, "doc_id", "text")
        .select(col("doc_id"), col("toks"), array_sort(col("__harr"))),
      Map(1L -> Nil, 2L -> Nil, 3L -> Nil, 4L -> Seq(s"4|[alpha]|${h40(Seq("alpha"))}"),
        5L -> Seq(s"5|[alpha,beta]|${h40(Seq("alpha", "beta"))}"),
        6L -> Seq(s"6|[cat,sat,the]|${h40(abc)}"))))

  for ((name, run, want) <- table)
    test(s"$name on NULL, empty, all-space, one-token, short and n-token docs") {
      val bad = docs.map(_._1).flatMap { id =>
        val got = try run(corpus(id)).collect().map(show).toSeq.sorted
          catch { case e: Exception => Seq(s"threw ${e.getClass.getSimpleName}") }
        if (got == want(id)) None else Some(s"doc $id: got $got, want ${want(id)}")
      }
      assert(bad.isEmpty, bad.mkString("\n"))
    }
}
