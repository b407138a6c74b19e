/*
 * Lives under org.apache.spark.sql.* because the expression-integration API
 * it builds on (ExpressionUtils.column / AbstractDataType in ExpectsInputTypes)
 * is private[sql] — the established pattern for third-party native
 * expressions (see MinHashSigs). All graft-facing entry points re-export
 * from graft.operators.
 */
package org.apache.spark.sql.graft

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ExpressionDescription, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/**
 * Fused single-pass kernels for the PRODUCTION (xxhash64) token pipelines.
 *
 * Why custom Expressions (SURVEY §2.10 preference order): the HOF
 * composition — `split` → `filter` → `array_sort` → `array_distinct` →
 * `transform(xxhash64)` (and for grams a second `transform` over index
 * sequences) — runs 5-6 array traversals per row, allocates an intermediate
 * array per step, and higher-order functions are CodegenFallback, so every
 * ELEMENT crosses a boxed lambda dispatch. Tokenize+hash is the dominant
 * CPU of the whole dedup/decontamination family. These kernels do the
 * entire pipeline in one compiled loop over the raw UTF-8 bytes: no token
 * String objects, no intermediate arrays, one pass.
 *
 * Hash family: IDENTICAL to the HOF fast paths they replace —
 * token hash = `xxhash64(token)` (XXH64 over the token's UTF-8 bytes,
 * seed 42, exactly Spark's `xxhash64` of a string column); gram hash =
 * Spark's variadic `xxhash64(h_1, …, h_n)` seed-chaining (`acc = 42; acc =
 * hashLong(h_i, acc)`), folded with `pmod` into [0, 2^60). Only the
 * fast/rows-only operators use these (the md5 witnesses stay HOF-built and
 * hash-exact against the DuckDB oracle); set-membership semantics are what
 * the fast paths need, and the per-family collision analyses in
 * Dedup/Curation hold unchanged.
 */
object TokenKernels {

  private val sha = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("SHA-256")
  }

  /** 64-bit xxhash64 (seed 42 — Spark's `xxhash64`) of each token
    * [[tokenSpans]] finds, in token order, duplicates kept; null when the
    * text has no tokens. */
  private def tokenHashes(text: UTF8String): Array[Long] = {
    val (bytes, spans, m) = tokenSpans(text)
    if (m == 0) return null
    val arr = new Array[Long](m)
    var i = 0
    while (i < m) {
      arr(i) = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + spans(2 * i),
        spans(2 * i + 1) - spans(2 * i), 42L)
      i += 1
    }
    arr
  }

  /** Sort + dedupe in place; returns the deduped length. */
  private def sortDistinct(a: Array[Long]): Int = {
    java.util.Arrays.sort(a)
    var w = 0
    var i = 0
    while (i < a.length) {
      if (w == 0 || a(i) != a(w - 1)) { a(w) = a(i); w += 1 }
      i += 1
    }
    w
  }

  /** Kernel of [[TokenSetHashes]]: (set-identity key, 40-bit hash array).
    * key = SHA-256 over the sorted distinct 64-bit token hashes (identical
    * token SETS → identical key; distinct sets collide only through a
    * 64-bit token-hash collision, far below the family's documented
    * 40/60-bit bounds); harr = the sorted distinct 2^40 folds of those
    * hashes — the same VALUES as the HOF fast form it replaced
    * (`array_distinct(transform(toks, w => pmod(xxhash64(w), 2^40)))`;
    * order differs; every consumer is order-insensitive: signature minima,
    * intersect sizes, set grouping). */
  def tokenSet(text: UTF8String): InternalRow = {
    val th = tokenHashes(text)
    if (th == null) return null
    val m = sortDistinct(th)
    val md = sha.get()
    md.reset()
    val bb = java.nio.ByteBuffer.allocate(m * 8)
    var i = 0
    while (i < m) { bb.putLong(th(i)); i += 1 }
    val key = md.digest(bb.array())
    val folded = new Array[Long](m)
    i = 0
    while (i < m) { folded(i) = Math.floorMod(th(i), 1L << 40); i += 1 }
    val k = sortDistinct(folded)
    new GenericInternalRow(Array[Any](key,
      UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(folded, k))))
  }

  /** Kernel of [[WordGramHashes]]: distinct 60-bit hashes of all word
    * `n`-grams (rolling window over the in-order token-hash stream,
    * duplicates kept before gramming, exactly like the HOF form); EMPTY
    * array — not null — when the text has fewer than n tokens, so
    * gram-less docs survive `explode_outer` counting. */
  def gramHashes(text: UTF8String, n: Int): UnsafeArrayData = {
    val th = tokenHashes(text)
    if (th == null || th.length < n)
      return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val g = new Array[Long](th.length - n + 1)
    var i = 0
    while (i < g.length) {
      var acc = 42L
      var j = 0
      while (j < n) { acc = XXH64.hashLong(th(i + j), acc); j += 1 }
      g(i) = Math.floorMod(acc, 1L << 60)
      i += 1
    }
    val k = sortDistinct(g)
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(g, k))
  }

  /** Byte spans (start, end) of the space-separated tokens of
    * `lower(text)` in its UTF-8 bytes — the one tokenizer of every kernel
    * here. 0x20 never occurs inside a UTF-8 multi-byte sequence, so
    * splitting on the raw byte equals `split(text, " ")`, and empty spans
    * (runs of spaces) are skipped like the `w != ""` filter. Returns the
    * lowered bytes plus a packed span array (even index = start, odd =
    * end); 0 spans ⇒ no tokens. */
  private def tokenSpans(text: UTF8String): (Array[Byte], Array[Int], Int) = {
    val bytes = text.toLowerCase.getBytes
    var spans = new Array[Int](32)
    var m = 0
    var start = 0
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        if (i > start) {
          if (2 * m == spans.length) spans = java.util.Arrays.copyOf(spans, spans.length * 2)
          spans(2 * m) = start; spans(2 * m + 1) = i
          m += 1
        }
        start = i + 1
      }
      i += 1
    }
    (bytes, spans, m)
  }

  private def spanCompare(b: Array[Byte], s1: Int, e1: Int, s2: Int, e2: Int): Int = {
    var i = s1; var j = s2
    while (i < e1 && j < e2) {
      val c = (b(i) & 0xff) - (b(j) & 0xff)
      if (c != 0) return c
      i += 1; j += 1
    }
    (e1 - s1) - (e2 - s2)
  }

  /** Kernel of [[TokenTfPairs]]: per-doc term frequencies as
    * (token STRING, tf) structs, tokens sorted in binary (= UTF-8 code
    * point) order — exactly the values of the HOF run-length form
    * `array_sort(tokens)` → run starts → (token, run length), which the
    * DuckDB oracle can replay from raw text (no hashes anywhere). One
    * pass, one sort of span indices, no intermediate arrays-of-String
    * until the final emit. Null when the text has no tokens. */
  def tokenTfPairs(text: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val (bytes, spans, m) = tokenSpans(text)
    if (m == 0) return null
    val idx = new Array[Integer](m)
    var i = 0
    while (i < m) { idx(i) = Integer.valueOf(i); i += 1 }
    java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int =
        spanCompare(bytes, spans(2 * a), spans(2 * a + 1), spans(2 * b), spans(2 * b + 1))
    })
    val out = new java.util.ArrayList[AnyRef](m)
    var r = 0
    while (r < m) {
      val t = idx(r)
      var run = r + 1
      while (run < m && spanCompare(bytes,
        spans(2 * t), spans(2 * t + 1),
        spans(2 * idx(run)), spans(2 * idx(run) + 1)) == 0) run += 1
      val s = spans(2 * t)
      out.add(new GenericInternalRow(Array[Any](
        UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, s, spans(2 * t + 1))),
        (run - r).toLong)))
      r = run
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Kernel of [[DistinctTokens]]: the distinct tokens of a doc as STRINGS
    * in sorted order — the values of `array_distinct(tokens)` (order
    * differs from the HOF form's first-occurrence order; every consumer
    * aggregates or set-compares). Empty array when no tokens. */
  def distinctTokens(text: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val tf = tokenTfPairs(text)
    if (tf == null)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[AnyRef])
    val n = tf.numElements()
    val out = new Array[AnyRef](n)
    var i = 0
    while (i < n) { out(i) = tf.getStruct(i, 2).getUTF8String(0); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Kernel of [[SimHash64]]: the classic bit-vote circuit over the
    * distinct token hashes — bit k of the result is set iff more distinct
    * tokens have bit k set than cleared (ties clear, exactly like the
    * aggregated `sum > 0` form). Returns null when the text has no tokens
    * (such docs produce no row in the aggregated form). -1L sentinel is
    * never produced: some bit pattern is always a valid simhash, so the
    * null is signalled by the boxed return. */
  def simHash64(text: UTF8String): java.lang.Long = {
    val th = tokenHashes(text)
    if (th == null) return null
    val m = sortDistinct(th)
    val votes = new Array[Int](64)
    var i = 0
    while (i < m) {
      val h = th(i)
      var k = 0
      while (k < 64) {
        if (((h >>> k) & 1L) == 1L) votes(k) += 1 else votes(k) -= 1
        k += 1
      }
      i += 1
    }
    var out = 0L
    var k = 0
    while (k < 64) {
      if (votes(k) > 0) out |= 1L << k
      k += 1
    }
    java.lang.Long.valueOf(out)
  }
}

/**
 * Native expression: one-pass tokenize → set-identity key + 40-bit hash
 * array for the minhash PRODUCTION path ([[graft.operators.Dedup]]'s
 * xxhash64 family — the md5 witness keeps [[graft.operators.Dedup.tokenSets]]).
 * Returns `struct<key: binary, harr: array<bigint>>`,
 * NULL when the document tokenizes to nothing (callers filter, as with the
 * HOF form's `size(toks) > 0` gate).
 */
@ExpressionDescription(
  usage = "token_set_hashes(text) - set-identity key and 40-bit token hashes.")
case class TokenSetHashes(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def dataType: DataType = StructType(Seq(
    StructField("key", BinaryType, nullable = false),
    StructField("harr", ArrayType(LongType, containsNull = false), nullable = false)))

  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    TokenKernels.tokenSet(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
         |InternalRow $r = org.apache.spark.sql.graft.TokenKernels.tokenSet($c);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): TokenSetHashes =
    copy(child = newChild)
}

object TokenSetHashes {
  /** Column form — usable without any registry. */
  def of(text: Column): Column =
    ExpressionUtils.column(TokenSetHashes(ExpressionUtils.expression(text)))
}

/**
 * Native expression: distinct 60-bit word n-gram hashes in one pass, for
 * the decontamination PRODUCTION path ([[graft.operators.Curation]]).
 * Empty array (not NULL) below n tokens.
 */
@ExpressionDescription(
  usage = "word_gram_hashes(text, n) - distinct 60-bit word n-gram hashes.")
case class WordGramHashes(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(n >= 1, s"n must be >= 1, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    TokenKernels.gramHashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = org.apache.spark.sql.graft.TokenKernels.gramHashes($c, $n);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): WordGramHashes =
    copy(child = newChild)
}

object WordGramHashes {
  /** Column form — usable without any registry. */
  def of(text: Column, n: Int): Column =
    ExpressionUtils.column(WordGramHashes(ExpressionUtils.expression(text), n))
}

/**
 * Native expression: per-document term frequencies in ONE pass — tokenize,
 * sort, run-length — as `array<struct<token: string, tf: bigint>>`, tokens
 * in binary-sorted order. STRING-valued (no hashes), so any engine can
 * replay the identical values from raw text: this is the oracle-safe fast
 * path for tf-idf-family operators, replacing a 4-step HOF chain
 * (array_sort → sequence/filter run starts → transform structs) whose
 * per-element lambda dispatch dominated the map stage. NULL when the
 * document tokenizes to nothing.
 */
@ExpressionDescription(
  usage = "token_tf_pairs(text) - (token, tf) pairs of the document, token-sorted.")
case class TokenTfPairs(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("token", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)

  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    TokenKernels.tokenTfPairs(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
         |org.apache.spark.sql.catalyst.util.GenericArrayData $r =
         |  org.apache.spark.sql.graft.TokenKernels.tokenTfPairs($c);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): TokenTfPairs =
    copy(child = newChild)
}

object TokenTfPairs {
  /** Column form — usable without any registry. */
  def of(text: Column): Column =
    ExpressionUtils.column(TokenTfPairs(ExpressionUtils.expression(text)))
}

/**
 * Native expression: the distinct tokens of a document as sorted STRINGS,
 * one pass — the document-frequency side of tf-idf (explode → count per
 * token). Empty array for tokenless docs (they contribute no df).
 */
@ExpressionDescription(
  usage = "distinct_tokens(text) - sorted distinct tokens of the document.")
case class DistinctTokens(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    TokenKernels.distinctTokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = org.apache.spark.sql.graft.TokenKernels.distinctTokens($c);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): DistinctTokens =
    copy(child = newChild)
}

object DistinctTokens {
  /** Column form — usable without any registry. */
  def of(text: Column): Column =
    ExpressionUtils.column(DistinctTokens(ExpressionUtils.expression(text)))
}

/**
 * Native expression: 64-bit SimHash of a document in ONE pass — tokenize,
 * xxhash64 per token, bit votes, assemble. Turns the whole simhash
 * operator into a shuffle-FREE map (the aggregated form explodes tokens
 * through a 64-column vote aggregation and pays a doc-level exchange);
 * at corpus scale simhashing is embarrassingly parallel and this shape
 * keeps it that way. NULL for tokenless docs (the aggregated form emits
 * no row for them — callers filter).
 */
@ExpressionDescription(
  usage = "simhash64(text) - 64-bit SimHash over xxhash64 token hashes.")
case class SimHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    TokenKernels.simHash64(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
         |java.lang.Long $r = org.apache.spark.sql.graft.TokenKernels.simHash64($c);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  /** Column form — usable without any registry. */
  def of(text: Column): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(text)))
}
