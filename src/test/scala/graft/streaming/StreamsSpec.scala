package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import graft.SparkSpec

/** Structured-Streaming semantics (T7), driven end-to-end through
  * MemoryStream micro-batches. */
class StreamsSpec extends AnyFunSuite with SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("tumbling window counts over a real stream (watermark bounds state)") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val mem = MemoryStream[(Timestamp, Double)]
    val events = mem.toDF().toDF("ts", "value")
    val q = Streams.tumblingCounts(events, "ts")
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("update").start()
    try {
      mem.addData(
        (ts("2026-01-01 10:01:00"), 1.0),
        (ts("2026-01-01 10:04:00"), 2.0),
        (ts("2026-01-01 10:12:00"), 4.0))
      q.processAllAvailable()
      val rows = sq.sql("SELECT * FROM tumbling ORDER BY win_start").collect()
      assert(rows.length == 2)
      assert(rows(0).getLong(1) == 2 && rows(0).getDouble(2) == 3.0)
      assert(rows(1).getLong(1) == 1 && rows(1).getDouble(2) == 4.0)
    } finally q.stop()
  }

  test("dedupStream drops in-horizon duplicates over a real stream") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val events = mem.toDF().toDF("ts", "user_id", "event_type")
    val q = Streams.dedupStream(events, "ts", Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      mem.addData(
        (ts("2026-01-01 10:00:00"), 1L, "click"),
        (ts("2026-01-01 10:01:00"), 1L, "click"), // dup within horizon → dropped
        (ts("2026-01-01 10:02:00"), 1L, "view"),
        (ts("2026-01-01 10:03:00"), 2L, "click"))
      q.processAllAvailable()
      val rows = sq.sql("SELECT user_id, event_type FROM dedup ORDER BY user_id, event_type")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(rows.toSeq == Seq((1L, "click"), (1L, "view"), (2L, "click")))
    } finally q.stop()
  }

  test("watermark semantics: a row later than lateness behind the max event " +
      "time is DROPPED from the windowed aggregate; an in-bound late row lands") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "user", "value")
    val q = Streams.tumblingCounts(events, "ts", lateness = "10 minutes")
      .writeStream.format("memory").queryName("late")
      .outputMode("update").start()
    try {
      // batch 1 advances the watermark to 11:00 − 10 min = 10:50
      mem.addData((ts("2026-01-01 11:00:00"), "u1", 1.0))
      q.processAllAvailable()
      // batch 2: 10:55 is within lateness (≥ 10:50) → lands in its window;
      // 10:30 is beyond it → silently dropped (bounded state: that window's
      // state may already be evicted)
      mem.addData(
        (ts("2026-01-01 10:55:00"), "u1", 2.0),
        (ts("2026-01-01 10:30:00"), "u1", 100.0))
      q.processAllAvailable()
      val got = sq.sql("SELECT win_start, n FROM late")
        .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
      assert(got("2026-01-01 10:50:00.0") == 1L) // the in-bound late row
      assert(!got.contains("2026-01-01 10:30:00.0"),
        "a beyond-watermark row must not create its window")
    } finally q.stop()
  }

  test("enrichStream decorates a live stream from a static dim without restarting") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val dim = Seq((1L, "gold"), (2L, "iron")).toDF("cust_id", "segment")
    val mem = MemoryStream[(Timestamp, Long)]
    val events = mem.toDF().toDF("ts", "user_id")
    val q = Streams.enrichStream(events, dim, "user_id", "cust_id", "left_outer")
      .select(col("user_id"), col("segment"))
      .writeStream.format("memory").queryName("enrich")
      .outputMode("append").start()
    try {
      mem.addData((ts("2026-01-01 10:00:00"), 1L), (ts("2026-01-01 10:01:00"), 3L))
      q.processAllAvailable()
      val rows = sq.sql("SELECT user_id, segment FROM enrich ORDER BY user_id")
        .collect().map(r => (r.getLong(0), Option(r.getString(1))))
      // matched row decorated; unmatched kept with NULL (left semantics)
      assert(rows.toSeq == Seq((1L, Some("gold")), (3L, None)))
    } finally q.stop()
  }

  test("intervalJoinStream pairs right rows inside the left row's window, over a real stream") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val lm = MemoryStream[(Timestamp, Long, Long)]
    val rm = MemoryStream[(Timestamp, Long, Long)]
    val left = lm.toDF().toDF("ts", "user_id", "purchase_id")
    val right = rm.toDF().toDF("ts", "user_id", "click_id")
    val q = Streams.intervalJoinStream(left, right, "user_id", "ts", "1 HOUR")
      .select(col("purchase_id"), col("click_id"))
      .writeStream.format("memory").queryName("ivjoin")
      .outputMode("append").start()
    try {
      lm.addData((ts("2026-01-01 10:00:00"), 1L, 100L))
      rm.addData(
        (ts("2026-01-01 10:00:00"), 1L, 200L), // boundary: inclusive lo
        (ts("2026-01-01 10:59:00"), 1L, 201L), // inside
        (ts("2026-01-01 11:00:00"), 1L, 202L), // boundary: exclusive hi
        (ts("2026-01-01 10:30:00"), 2L, 203L)) // other user
      q.processAllAvailable()
      val rows = sq.sql("SELECT purchase_id, click_id FROM ivjoin ORDER BY click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.toSeq == Seq((100L, 200L), (100L, 201L)))
    } finally q.stop()
  }

  test("batch-mode twin: tumbling/sliding/session windows agree with hand counts") {
    val sq = spark
    import sq.implicits._
    val events = Seq(
      (ts("2026-01-01 10:00:30"), "u1", 1.0),
      (ts("2026-01-01 10:05:00"), "u1", 2.0),
      (ts("2026-01-01 10:30:00"), "u1", 3.0), // >10min gap → new session
      (ts("2026-01-01 10:06:00"), "u2", 4.0),
    ).toDF("ts", "user_id", "value")

    val tumb = Streams.tumblingCounts(events, "ts").orderBy("win_start").collect()
    assert(tumb.map(_.getLong(1)).toSeq == Seq(3, 1))

    val slid = Streams.slidingCounts(events, "ts", "10 minutes", "5 minutes")
    assert(slid.agg(sum("n")).head().getLong(0) == 8) // each event in 2 slides

    val sess = Streams.sessionCounts(events, "ts", "user_id", "10 minutes")
      .orderBy("user_id", "sess_start").collect()
    assert(sess.map(r => (r.getString(0), r.getLong(2))).toSeq ==
      Seq(("u1", 2L), ("u1", 1L), ("u2", 1L)))

    // batch dedup keeps one row per key (the stream_dedup_keys form)
    val dedup = Streams.dedupStream(events, "ts", Seq("user_id"))
    assert(dedup.select("user_id").as[String].collect().sorted.toSeq == Seq("u1", "u2"))
  }
}
