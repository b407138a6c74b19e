package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkSpec, Tables}

/** End-to-end: the REAL events fixture streamed through the windowed
  * aggregation must equal the batch run of the same transform — the
  * batch/streaming unification taps never had (its "streaming" was chunked
  * batch; ours is the same declarative plan in both modes). */
class EventsStreamSpec extends AnyFunSuite with SparkSpec {

  test("streaming tumbling counts over events.parquet == batch result") {
    val sf = "/root/testdata/sf0.001"
    val batchEvents = Tables.load(spark, sf, "events") // sets nanosAsLong conf
    val expected = Streams.tumblingCounts(batchEvents, "ts")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet

    // stream the same data: readStream wants a DIRECTORY of files — stage
    // the fixture into one. ts arrives in whatever physical form the
    // fixture generation used; normalize exactly as the batch load does.
    val dir = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val rawSchema = spark.read.parquet(s"$sf/events.parquet").schema
    val streamed = Tables.normalizeEventsTs(
      spark.readStream.schema(rawSchema).parquet(dir.toString))
    val q = Streams.tumblingCounts(streamed, "ts")
      .writeStream.format("memory").queryName("ev_tumbling")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination()
      val got = spark.sql("SELECT * FROM ev_tumbling")
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == expected && got.nonEmpty)
    } finally q.stop()
  }
}
