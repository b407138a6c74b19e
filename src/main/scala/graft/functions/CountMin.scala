package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Count-min buffer: d×w counters, row-major. */
final case class CmBuf(cells: Array[Long])

/**
 * Count-min sketch as a typed `Aggregator` (§2.10 custom-UDAF surface) —
 * the point-frequency sketch beside Spark's built-in ones (HLL =
 * cardinality, Bloom = membership):
 * fixed d·w counters per partition, merged by elementwise ADD, so a
 * 100 TB token stream reduces with NO token-level exchange and the
 * estimate  ĉ(t) = min_r cells[r·w + hash_r(t)]  satisfies the classical
 * guarantees: ĉ ≥ c always (counters only ever add), and
 * P[ĉ − c > 2N/w] < (1/2)^d on any stream of total length N.
 *
 * Unlike HLL/Misra-Gries, the FINISHED sketch is partition- and
 * merge-tree-INVARIANT (every cell is a plain sum), so query keys built
 * on it are full-oracle checkable: the row hash is the engine-portable
 * md5-prefix family (first 16 bits of md5("cm<r>:" + token), mod w —
 * exactly `md5PrefixValueSql(4, …) % w` on the DuckDB side), and the
 * oracle recomputes every cell relationally. CountMinSpec pins the
 * sketch bit-equal to that relational form under 1/4/32 partitionings.
 */
class CountMin(d: Int, w: Int) extends Aggregator[String, CmBuf, Array[Long]] {
  require(d >= 1 && d <= 16, s"depth in [1,16], got $d")
  require(w >= 2, s"width must be >= 2, got $w")

  def zero: CmBuf = CmBuf(new Array[Long](d * w))

  def reduce(b: CmBuf, token: String): CmBuf = {
    if (token == null) return b
    var r = 0
    while (r < d) {
      b.cells(r * w + CountMin.bucket(token, r, w)) += 1L
      r += 1
    }
    b
  }

  def merge(a: CmBuf, b: CmBuf): CmBuf = {
    val out = a.cells
    var i = 0
    while (i < out.length) { out(i) += b.cells(i); i += 1 }
    a
  }

  def finish(b: CmBuf): Array[Long] = b.cells

  def bufferEncoder: Encoder[CmBuf] = Encoders.product[CmBuf]
  def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}

object CountMin {
  /** Row-r bucket: first 4 hex digits (= first 2 bytes, big-endian) of
    * md5("cm<r>:<token>") mod w — the repo's one cross-engine hash family,
    * bit-equal to the SQL `conv(substring(md5(…),1,4),16,10) % w`. */
  def bucket(token: String, row: Int, w: Int): Int = {
    val dig = MessageDigest.getInstance("MD5")
      .digest(s"cm$row:$token".getBytes(StandardCharsets.UTF_8))
    (((dig(0) & 0xff) << 8) | (dig(1) & 0xff)) % w
  }

  /** Column form: aggregate a string column into the d×w cell array. */
  def sketch(c: Column, d: Int, w: Int): Column = udaf(new CountMin(d, w)).apply(c)
}
