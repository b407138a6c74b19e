package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Cross-engine NTZ↔UTC contract (VERDICT r8 task 6).
  *
  * The fixture stores `events.ts` as Parquet TIMESTAMP_MICROS with
  * isAdjustedToUTC=false — a NAIVE wall-clock. DuckDB reads it naively;
  * Spark reads it as TIMESTAMP_NTZ and [[Tables.normalizeEventsTs]] casts to
  * session-TZ TimestampType. That cast is value-exact ONLY because every
  * entry point pins `spark.sql.session.timeZone=UTC`; under any other zone
  * the formatted wall-clock strings the oracles compare would shift. This
  * spec pins the full chain on boundary values so a future TZ or cast
  * change fails here, not in a lost round of driver artifacts. */
class NtzUtcSemanticsSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("session timezone is pinned UTC (precondition for NTZ→TZ exactness)") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("date_format over normalized ts == formatting the raw NTZ wall-clock") {
    // ground truth: format the NAIVE timestamp itself (NTZ formatting is
    // timezone-free by construction — exactly what DuckDB strftime sees)
    val raw = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("s"))
    val normalized = Tables.load(spark, sf, "events")
      .select(col("event_id"), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("s"))
    val diff = raw.join(normalized, "event_id")
      .filter(raw("s") =!= normalized("s")).count()
    assert(diff == 0L)
  }

  test("fn_date_format_events boundary hours match the naive wall-clock") {
    Tables.load(spark, sf, "events") // a legacy nanos fixture needs the read conf this sets
    val Array(minNaive, maxNaive) = spark.read.parquet(s"$sf/events.parquet")
      .agg(date_format(min("ts"), "yyyy-MM-dd HH"),
           date_format(max("ts"), "yyyy-MM-dd HH")).collect()(0)
      .toSeq.map(_.toString).toArray
    val hours = SparkEntry.queries("fn_date_format_events")(spark, sf)
      .select("hour_str").collect().map(_.getString(0)).toSet
    assert(hours.contains(minNaive) && hours.contains(maxNaive))
  }

  test("tumbling-window edge: min/max events land in their naive 10-min bucket") {
    val win = SparkEntry.queries("stream_tumbling_counts")(spark, sf)
      .select("win_start").collect().map(_.getString(0)).toSet
    // floor the naive boundary timestamps to 10 minutes WITHOUT any TZ math
    val edges = spark.read.parquet(s"$sf/events.parquet")
      .agg(min("ts").as("lo"), max("ts").as("hi"))
      .select(
        date_format(timestamp_seconds(floor(unix_timestamp(col("lo").cast("timestamp")) / 600) * 600),
          "yyyy-MM-dd HH:mm").as("lo_win"),
        date_format(timestamp_seconds(floor(unix_timestamp(col("hi").cast("timestamp")) / 600) * 600),
          "yyyy-MM-dd HH:mm").as("hi_win"))
      .collect()(0)
    assert(win.contains(edges.getString(0)) && win.contains(edges.getString(1)))
    // and the total window count covers every event exactly once
    val nEvents = Tables.load(spark, sf, "events").count()
    val nInWindows = SparkEntry.queries("stream_tumbling_counts")(spark, sf)
      .agg(sum("n")).collect()(0).getLong(0)
    assert(nInWindows == nEvents)
  }
}
