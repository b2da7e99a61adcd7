package graft

import graft.streaming.Streaming
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Batch/stream parity on tiny local parquet fixtures: the streaming
  * plans must drain (AvailableNow) to exactly the batch answers.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_stream").toString
    Seq(
      ("2024-01-01 10:05:00", "click", 1.0),
      ("2024-01-01 10:55:00", "click", 2.0),
      ("2024-01-01 11:05:00", "view", 3.0),
      ("2024-01-01 12:20:00", "click", 4.0))
      .toDF("ts_s", "event_type", "value")
      .select(to_timestamp(col("ts_s")).as("ts"), col("event_type"),
        col("value"))
      .write.mode("overwrite").parquet(s"$d/events")
    d
  }

  private def stream = {
    val schema = spark.read.parquet(s"$dir/events").schema
    spark.readStream.schema(schema).parquet(s"$dir/events")
  }

  test("windowed hourly aggregation drains to the batch answer") {
    val got = Streaming.runAvailableNow(spark,
        Streaming.hourlyCounts(stream), "graft_test_hourly")
      .orderBy("hour", "event_type")
      .select("hour", "event_type", "n", "sum_value")
      .as[(String, String, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("2024-01-01 10:00", "click", 2L, 3.0),
      ("2024-01-01 11:00", "view", 1L, 3.0),
      ("2024-01-01 12:00", "click", 1L, 4.0)))
  }

  test("streaming dropDuplicates keeps one row per key") {
    val got = Streaming.runAvailableNowAppend(spark,
        Streaming.streamingDedup(stream, "event_type").select("event_type"),
        "graft_test_dedup")
      .as[String].collect().toSeq.sorted
    assert(got == Seq("click", "view"))
  }

  test("mapGroupsWithState sessionization matches the batch lag/cumsum") {
    val d = Files.createTempDirectory("graft_sess").toString
    Seq(
      (1L, "2024-01-01 10:00:00", 1L), // u1 s1
      (1L, "2024-01-01 10:10:00", 2L), // u1 s1 (10 min gap)
      (1L, "2024-01-01 11:00:00", 3L), // u1 s2 (50 min gap)
      (2L, "2024-01-01 09:00:00", 4L), // u2 s1
      (2L, "2024-01-01 09:30:00", 5L), // u2 s1 (exactly 30 min → same)
      (2L, "2024-01-01 10:00:01", 6L)) // u2 s2 (30m01s > 30m)
      .toDF("user_id", "ts_s", "event_id")
      .select(col("user_id"), to_timestamp(col("ts_s")).as("ts"),
        col("event_id"))
      .write.mode("overwrite").parquet(s"$d/ev")
    val schema = spark.read.parquet(s"$d/ev").schema
    val stream = spark.readStream.schema(schema).parquet(s"$d/ev")
    val got = sessionTotals(Streaming.runAvailableNowUpdate(spark,
        Streaming.sessionCounts(stream).toDF(), "graft_test_sessions"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 3L), (2L, 2L, 3L)))
  }

  /** The s03 downstream: final row per state segment, summed per user. */
  private def sessionTotals(raw: org.apache.spark.sql.DataFrame) =
    raw.groupBy("user_id", "seg_start")
      .agg(max_by(struct(col("n_sessions"), col("n_events")),
        col("n_events")).as("f"))
      .groupBy("user_id")
      .agg(sum("f.n_sessions").as("n_sessions"),
        sum("f.n_events").as("n_events"))
      .orderBy("user_id")

  /** Write `rows` as a single parquet file named `batch$i.parquet` inside
    * `dir`, with a strictly increasing mod time — so a file stream with
    * maxFilesPerTrigger=1 replays them as separate micro-batches in
    * order (the file source schedules by modification time).
    */
  private def writeBatchFile(dir: String, i: Int,
                             rows: org.apache.spark.sql.DataFrame): Unit = {
    val tmp = Files.createTempDirectory("graft_batchfile").toFile
    try {
      rows.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      val dest = java.nio.file.Paths.get(dir, s"batch$i.parquet")
      Files.move(part, dest)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 10000L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("dropDuplicatesWithinWatermark evicts state and re-emits old keys") {
    val d = Files.createTempDirectory("graft_dedup_evict").toString
    def batch(rows: Seq[(String, String)]) =
      rows.toDF("ts_s", "k")
        .select(to_timestamp(col("ts_s")).as("ts"), col("k"))
    // b1: A and B; b2: C advances the watermark (20:00 − 10 min) far past
    // A's expiry (first-seen 10:00 + 10 min); b3: one more batch so the
    // advanced watermark is applied to state cleanup (cleanup in batch N
    // uses the watermark as of batch N−1's end); b4: A recurs AFTER
    // eviction
    writeBatchFile(d, 1, batch(Seq(("2024-01-01 10:00:00", "A"),
      ("2024-01-01 10:00:00", "B"))))
    writeBatchFile(d, 2, batch(Seq(("2024-01-01 20:00:00", "C"))))
    writeBatchFile(d, 3, batch(Seq(("2024-01-01 20:10:00", "D"))))
    writeBatchFile(d, 4, batch(Seq(("2024-01-01 20:30:00", "A"))))
    val schema = batch(Nil).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(d)
    val got = Streaming.runAvailableNowAppend(spark,
        Streaming.streamingDedup(stream, "k", "ts", "10 minutes")
          .select("k"),
        "graft_test_dedup_evict")
      .as[String].collect().toSeq
    // bounded-state contract: the recurrence past the watermark horizon
    // is emitted again — state for A was genuinely evicted
    assert(got.count(_ == "A") == 2, s"expected evicted A to re-emit: $got")
    assert(got.sorted == Seq("A", "A", "B", "C", "D"))
  }

  test("session state is watermark-evicted; totals sum across segments") {
    val d = Files.createTempDirectory("graft_sess_evict").toString
    def batch(rows: Seq[(Long, String, Long)]) =
      rows.toDF("user_id", "ts_s", "event_id")
        .select(col("user_id"), to_timestamp(col("ts_s")).as("ts"),
          col("event_id"))
    // b1: u1 one session (2 events), u2 alive; b2: u2 advances watermark
    // to 17:00 — past u1's 10:40 evict-at; b3: u2 only → u1 has no input
    // rows, so its timeout FIRES (final emit + state removal); b4: u1
    // recurs → fresh state segment
    writeBatchFile(d, 1, batch(Seq((1L, "2024-01-01 10:00:00", 1L),
      (1L, "2024-01-01 10:10:00", 2L), (2L, "2024-01-01 10:00:00", 3L))))
    writeBatchFile(d, 2, batch(Seq((2L, "2024-01-01 20:00:00", 4L))))
    writeBatchFile(d, 3, batch(Seq((2L, "2024-01-01 20:05:00", 5L))))
    writeBatchFile(d, 4, batch(Seq((1L, "2024-01-01 20:30:00", 6L))))
    val schema = batch(Nil).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(d)
    val raw = Streaming.runAvailableNowUpdate(spark,
      Streaming.sessionCounts(stream).toDF(), "graft_test_sess_evict")
    // u1 must appear under TWO distinct segments: state was removed
    // between its 10:10 and 20:30 events
    val segs = raw.filter(col("user_id") === 1)
      .select("seg_start").distinct().count()
    assert(segs == 2, s"expected 2 state segments for u1, got $segs")
    // and the summed totals still equal the batch lag/cumsum answer
    val got = sessionTotals(raw).as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 3L), (2L, 2L, 3L)))
  }

  test("stream-stream interval join buffers state across micro-batches") {
    val d = Files.createTempDirectory("graft_ssj").toString
    def batch(rows: Seq[(Long, String, String, Double)]) =
      rows.toDF("user_id", "ts_s", "event_type", "value")
        .select(col("user_id"), to_timestamp(col("ts_s")).as("ts"),
          col("event_type"), col("value"))
    // batch 1: clicks only; batch 2: purchases — u1's lands inside the
    // 30-min window of a batch-1 click (the match must come from
    // BUFFERED join state, not same-batch rows), u2's is outside the
    // interval, u3 never clicked
    writeBatchFile(d, 1, batch(Seq(
      (1L, "2024-01-01 10:00:00", "click", 0.0),
      (2L, "2024-01-01 10:00:00", "click", 0.0))))
    writeBatchFile(d, 2, batch(Seq(
      (1L, "2024-01-01 10:20:00", "purchase", 5.0),
      (2L, "2024-01-01 11:30:00", "purchase", 7.0),
      (3L, "2024-01-01 10:10:00", "purchase", 9.0))))
    val schema = batch(Nil).schema
    val ev = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value"))
    .withWatermark("p_ts", "10 minutes")
    val pairs = clicks.join(purchases,
      expr("""user_id = p_user AND p_ts >= click_ts AND
              p_ts <= click_ts + interval 30 minutes"""))
    val got = Streaming.runAvailableNowAppend(spark, pairs, "graft_test_ssj")
      .select("user_id", "value").as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 5.0)),
      s"expected only the in-window cross-batch pair: $got")
  }

  test("stream-stream LEFT OUTER join emits null-matched rows only " +
    "after the watermark closes the interval") {
    val d = Files.createTempDirectory("graft_ssj_outer").toString
    def batch(rows: Seq[(Long, String, String, Double)]) =
      rows.toDF("user_id", "ts_s", "event_type", "value")
        .select(col("user_id"), to_timestamp(col("ts_s")).as("ts"),
          col("event_type"), col("value"))
    // b1: u1 matches in-batch; u2's click has no purchase — its NULL row
    // may only emit once the watermark proves no match can arrive.
    // b2 carries a click AND a purchase at 20:00 (rows must survive
    // each side's filter to advance that side's watermark); b3 gives
    // the engine a batch in which to apply it (outer emission in batch
    // N uses the watermark as of batch N−1's end).
    writeBatchFile(d, 1, batch(Seq(
      (1L, "2024-01-01 10:00:00", "click", 0.0),
      (1L, "2024-01-01 10:20:00", "purchase", 5.0),
      (2L, "2024-01-01 10:00:00", "click", 0.0))))
    writeBatchFile(d, 2, batch(Seq(
      (8L, "2024-01-01 20:00:00", "click", 0.0),
      (9L, "2024-01-01 20:00:00", "purchase", 1.0))))
    writeBatchFile(d, 3, batch(Seq(
      (8L, "2024-01-01 20:40:00", "click", 0.0),
      (9L, "2024-01-01 20:40:00", "purchase", 1.0))))
    val schema = batch(Nil).schema
    val ev = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value"))
      .withWatermark("p_ts", "10 minutes")
    val pairs = clicks.join(purchases,
      expr("""user_id = p_user AND p_ts >= click_ts AND
              p_ts <= click_ts + interval 30 minutes"""),
      "left_outer")
    val got = Streaming
      .runAvailableNowAppend(spark, pairs, "graft_test_ssj_outer")
      .filter(col("user_id") <= 2)
      .select("user_id", "value")
      .as[(Long, Option[Double])].collect().toSet
    assert(got == Set((1L, Some(5.0)), (2L, None)),
      s"expected one match and one watermark-closed null row: $got")
  }

  test("watermark drops late data in append-mode windowed aggregation") {
    val d = Files.createTempDirectory("graft_late").toString
    val chk = Files.createTempDirectory("graft_late_chk").toString
    val out = Files.createTempDirectory("graft_late_out").toString + "/agg"
    def writeBatch(rows: Seq[(String, Double)], mode: String): Unit =
      rows.toDF("ts_s", "value")
        .select(to_timestamp(col("ts_s")).as("ts"), col("value"))
        .write.mode(mode).parquet(s"$d/ev")
    def drain(): Unit = {
      // memory sink can't recover a checkpoint → durable parquet sink
      val schema = spark.read.parquet(s"$d/ev").schema
      val q = spark.readStream.schema(schema).parquet(s"$d/ev")
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count("*").as("n"))
        .select(date_format(col("window.start"), "HH:mm").as("h"), col("n"))
        .writeStream.format("parquet")
        .option("path", out)
        .outputMode("append") // append emits a window only once it closes
        .option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // batch 1 advances the watermark far past the 10:00 window
    writeBatch(Seq(("2024-01-01 10:05:00", 1.0), ("2024-01-01 10:20:00", 1.0),
      ("2024-01-01 13:00:00", 1.0)), "overwrite")
    drain()
    // batch 2: a late event for the long-closed 10:00 window + one live
    writeBatch(Seq(("2024-01-01 10:30:00", 9.9), ("2024-01-01 14:00:00", 1.0)),
      "append")
    drain()
    val got = spark.read.parquet(out).orderBy("h")
      .as[(String, Long)].collect().toMap
    // 10:00 window emitted with ONLY the 2 on-time events; late row gone
    assert(got("10:00") == 2L, s"late event leaked into $got")
    assert(!got.contains("14:00"), "unclosed window must not be emitted yet")
  }

  test("file-stream ingest appends new files incrementally") {
    val out = Files.createTempDirectory("graft_stream_out").toString
    val chk = Files.createTempDirectory("graft_stream_chk").toString
    def runOnce(): Unit = {
      val q = stream.writeStream
        .format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    assert(spark.read.parquet(s"$out/data").count() == 4)
    // a second drain with no new files adds nothing (exactly-once)
    runOnce()
    assert(spark.read.parquet(s"$out/data").count() == 4)
    // new file arrives → only its rows are appended
    Seq(("2024-01-01 13:00:00", "click", 5.0)).toDF("ts_s", "event_type", "value")
      .select(to_timestamp(col("ts_s")).as("ts"), col("event_type"), col("value"))
      .write.mode("append").parquet(s"$dir/events")
    runOnce()
    assert(spark.read.parquet(s"$out/data").count() == 5)
  }
}
