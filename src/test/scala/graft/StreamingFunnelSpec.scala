package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ops.EventAnalytics
import graft.streaming.StreamingFunnel

/** Streamed funnel increments == the batch fold, over in-order
 * micro-batches — the same batch/streaming equivalence contract the
 * near-dup stream pins (RunnerSpec), plus the append-only slot rules. */
class StreamingFunnelSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val steps = Seq("A", "B", "C")

  test("streamed level increments match batch funnelLevels across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // three in-order micro-batches; conversions straddle batch boundaries
    val b1 = Seq((1L, ts("2024-01-01 10:00:00"), "A"),
      (2L, ts("2024-01-01 10:01:00"), "A"),
      (3L, ts("2024-01-01 10:02:00"), "B")) // B before any A: never counts
    val b2 = Seq((1L, ts("2024-01-01 10:30:00"), "B"),
      (2L, ts("2024-01-01 10:31:00"), "B"),
      (3L, ts("2024-01-01 10:32:00"), "A"))
    val b3 = Seq((1L, ts("2024-01-01 11:00:00"), "C"),
      (2L, ts("2024-01-01 23:00:00"), "C"), // outside the 2h window
      (3L, ts("2024-01-01 10:33:00"), "B"))
    val in = MemoryStream[(Long, Timestamp, String)]
    val hits = StreamingFunnel.levels(
      in.toDS().toDF("user_id", "ts", "event_type"),
      "user_id", "ts", "event_type", steps, windowSeconds = 7200L)
    val q = hits.writeStream.format("memory").queryName("sf")
      .outputMode("append").start()
    try {
      Seq(b1, b2, b3).foreach { b => in.addData(b: _*); q.processAllAvailable() }
      val got = spark.sql("select user, level from sf").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      // u1: A->B->C all within window; u2: stops at B; u3: A then B
      assert(got === Set((1L, 1), (1L, 2), (1L, 3), (2L, 1), (2L, 2),
        (3L, 1), (3L, 2)))
      // max streamed level per user == batch funnelLevels on the union
      val batch = EventAnalytics.funnelLevels(
        (b1 ++ b2 ++ b3).toDF("user_id", "ts", "event_type"),
        Seq("user_id"), "ts", "event_type", steps, 7200L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val streamedMax = got.groupBy(_._1).map { case (u, s) => u -> s.map(_._2).max.toLong }
      assert(streamedMax === batch.filter(_._2 > 0))
    } finally q.stop()
  }

  test("completed users never re-emit; levels are contiguous increments") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val b1 = Seq((1L, ts("2024-01-01 10:00:00"), "A"),
      (1L, ts("2024-01-01 10:10:00"), "B"),
      (1L, ts("2024-01-01 10:20:00"), "C"))
    // a fresh A AFTER completion must not restart the funnel
    val b2 = Seq((1L, ts("2024-01-02 10:00:00"), "A"))
    val in = MemoryStream[(Long, Timestamp, String)]
    val hits = StreamingFunnel.levels(
      in.toDS().toDF("user_id", "ts", "event_type"),
      "user_id", "ts", "event_type", steps, windowSeconds = 7200L)
    val q = hits.writeStream.format("memory").queryName("sf2")
      .outputMode("append").start()
    try {
      Seq(b1, b2).foreach { b => in.addData(b: _*); q.processAllAvailable() }
      val got = spark.sql("select user, level from sf2").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
      assert(got.toSet === Set((1L, 1), (1L, 2), (1L, 3)))
      assert(got.length === 3, "each level emits exactly once")
    } finally q.stop()
  }

  test("evictionWatermark: state evicts once the watermark passes " +
      "anchor + window; a returning user re-anchors; batch mode refuses") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // u1 anchors at 10:00, window 2h -> timeout armed for 12:00. u9's "B"
    // events (B before any A never fills a slot, stores no state) only
    // advance the watermark: batch N's watermark = max event time through
    // batch N-1, so the timeout fires while processing b3.
    val b1 = Seq((1L, ts("2024-01-01 10:00:00"), "A"),
      (1L, ts("2024-01-01 10:10:00"), "B"))
    val b2 = Seq((9L, ts("2024-01-01 13:00:00"), "B"))
    val b3 = Seq((9L, ts("2024-01-01 13:01:00"), "B"))
    // after eviction a fresh A re-anchors u1 and re-emits level 1 — the
    // documented production trade-off (the no-eviction mode keeps the
    // "never re-emit" contract of the test above)
    val b4 = Seq((1L, ts("2024-01-01 14:00:00"), "A"))
    val in = MemoryStream[(Long, Timestamp, String)]
    val hits = StreamingFunnel.levels(
      in.toDS().toDF("user_id", "ts", "event_type"),
      "user_id", "ts", "event_type", steps, windowSeconds = 7200L,
      evictionWatermark = Some("0 seconds"))
    val q = hits.writeStream.format("memory").queryName("sf3")
      .outputMode("append").start()
    try {
      Seq(b1, b2, b3, b4).foreach { b => in.addData(b: _*); q.processAllAvailable() }
      val got = spark.sql("select user, level, at_us from sf3").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
      // b1: levels 1+2; b4 (post-eviction): level 1 again, fresh anchor
      assert(got.count(_ == (1L, 1)) === 2, s"got ${got.toSeq}")
      assert(got.count(_ == (1L, 2)) === 1)
      assert(got.length === 3)
    } finally q.stop()

    // batch input + eviction is a contract error, not a silent no-op
    val batch = Seq((1L, ts("2024-01-01 10:00:00"), "A"))
      .toDF("user_id", "ts", "event_type")
    intercept[IllegalArgumentException] {
      StreamingFunnel.levels(batch, "user_id", "ts", "event_type", steps,
        7200L, evictionWatermark = Some("0 seconds"))
    }
  }

  test("evictionWatermark: a user's next event after the watermark passed " +
      "anchor + window re-arms the timeout instead of failing the query") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // With data arriving in every trigger no idle batch runs between two
    // data batches, so u1's state is still there when its next event comes
    // in a batch whose watermark (13:00, from b1) is already past u1's
    // anchor + window (12:00). Idle batches are switched off to make that
    // ordering deterministic.
    val b1 = Seq((1L, ts("2024-01-01 10:00:00"), "A"),
      (9L, ts("2024-01-01 13:00:00"), "B"))
    val b2 = Seq((1L, ts("2024-01-01 13:30:00"), "B")) // outside the window
    val b3 = Seq((9L, ts("2024-01-01 14:00:00"), "B")) // watermark 13:30: u1 evicts
    val b4 = Seq((1L, ts("2024-01-01 15:00:00"), "A")) // fresh anchor
    val in = MemoryStream[(Long, Timestamp, String)]
    val hits = StreamingFunnel.levels(
      in.toDS().toDF("user_id", "ts", "event_type"),
      "user_id", "ts", "event_type", steps, windowSeconds = 7200L,
      evictionWatermark = Some("0 seconds"))
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(key, "false")
    try {
      val q = hits.writeStream.format("memory").queryName("sf4")
        .outputMode("append").start()
      try {
        Seq(b1, b2, b3, b4).foreach { b => in.addData(b: _*); q.processAllAvailable() }
        val got = spark.sql("select user, level from sf4").collect()
          .map(r => (r.getLong(0), r.getInt(1)))
        assert(got.sorted.toSeq === Seq((1L, 1), (1L, 1)), s"got ${got.toSeq}")
      } finally q.stop()
    } finally spark.conf.unset(key)
  }

  test("non-numeric user ids are dropped like NULLs under ANSI casts") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val events = Seq(("1", ts("2024-01-01 10:00:00"), "A"),
      ("u123", ts("2024-01-01 10:01:00"), "A"),
      ("1", ts("2024-01-01 10:02:00"), "B"))
      .toDF("user_id", "ts", "event_type")
    val got = StreamingFunnel.levels(events, "user_id", "ts", "event_type",
      steps, 7200L).collect().map(h => (h.user, h.level)).toSet
    assert(got === Set((1L, 1), (1L, 2)))
  }
}
