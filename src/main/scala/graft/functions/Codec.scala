package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Codec & integrity functions (SURVEY §2.8).
 *
 * taps ships every chunk as `base64(gzip(Marshal(rows)))` with a CRC32
 * checksum verified on receive (`lib/taps/utils.rb:25-39`,
 * `lib/taps/data_stream.rb:188-189`). In Spark the wire format dissolves
 * into Parquet/shuffle (which carry their own page CRCs), but the functions
 * themselves remain useful query surface — all are codegen'd built-ins, no
 * UDFs.
 */
object Codec {

  /** F1: CRC32 of a string/binary value (`Zlib.crc32`, `lib/taps/utils.rb:25-31`). */
  def crc32Of(c: Column): Column = crc32(c.cast("binary"))

  /** F2: base64 encode / decode (`lib/taps/utils.rb:33-39`). Spark's
    * built-in emits RFC-2045 MIME chunking (a `\r\n` every 76 chars) for
    * long inputs; strip it for the canonical unchunked form every other
    * engine produces. */
  def b64(c: Column): Column = replace(base64(c.cast("binary")), lit("\r\n"), lit(""))
  def unb64(c: Column): Column = unbase64(c)

  /** F4: JSON field extraction — taps round-trips all state/table lists
    * through JSON (vendored okjson, `lib/vendor/okjson.rb`). */
  def jsonGet(c: Column, path: String): Column = get_json_object(c, path)

  /** F6: thousands-grouped number formatting
    * (`format_number`, `lib/taps/operation.rb:175-177`). */
  def formatNumber(c: Column): Column = format_number(c, 0)

  /** F5: the url-masking regex taps applies before logging credentials
    * (`lib/taps/operation.rb:153-155`). */
  def maskUrl(c: Column): Column =
    regexp_replace(c, "://([^:@/]+):[^@/]+@", "://$1:xxxxx@")
}
