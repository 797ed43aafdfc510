package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

case class E(ts: Timestamp, key: String, v: Double)
case class LedgerState(delivered: Long, acked: Long)
case class LedgerEvent(groupId: String, kind: String) // deliver | ack
case class LedgerRow(groupId: String, delivered: Long, acked: Long, pending: Long)

/** Streaming-mode semantics that the batch oracle can't exercise:
  * watermark late-data drop, streaming dedup, append-mode windowed
  * aggregation, and mapGroupsWithState (the in-stream form of the
  * delivery ledger, SURVEY.md §2.2 "stateful per-key processing"). */
class StreamingWindowsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-streaming-spec")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  import spark.implicits._

  override def afterAll(): Unit = spark.stop()

  private def ts(minute: Int): Timestamp = new Timestamp(minute * 60000L)

  test("watermark drops late rows beyond the delay (append window agg)") {
    val in = MemoryStream[E](spark, numPartitions = 1)
    val agg = in.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "10 minutes"), $"key")
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp($"window.start").as("wstart"), $"key", $"n")
    val q = agg.writeStream.format("memory").queryName("wm_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(E(ts(1), "a", 1.0), E(ts(5), "a", 1.0))
      q.processAllAvailable()
      // advance event time far past the first window + watermark → closes it
      in.addData(E(ts(40), "a", 1.0))
      q.processAllAvailable()
      // this row is 39 minutes late — beyond the 10-minute watermark → dropped
      in.addData(E(ts(1), "a", 99.0))
      q.processAllAvailable()
      in.addData(E(ts(60), "a", 1.0))
      q.processAllAvailable()
      val rows = spark.table("wm_out")
        .select("wstart", "n").as[(Long, Long)].collect().toMap
      assert(rows(0L) == 2, s"window[0,10) must have exactly 2 rows (late row dropped): $rows")
    } finally q.stop()
  }

  test("streaming dedup: withWatermark + dropDuplicates keeps first occurrence") {
    val in = MemoryStream[E](spark, numPartitions = 1)
    val dedup = in.toDF()
      .withWatermark("ts", "1 hour")
      .dropDuplicates("key")
      .select($"key", $"v")
    val q = dedup.writeStream.format("memory").queryName("dd_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(E(ts(1), "k1", 1.0), E(ts(2), "k1", 2.0), E(ts(3), "k2", 3.0))
      q.processAllAvailable()
      in.addData(E(ts(4), "k1", 4.0), E(ts(5), "k3", 5.0))
      q.processAllAvailable()
      val rows = spark.table("dd_out").as[(String, Double)].collect().toMap
      assert(rows == Map("k1" -> 1.0, "k2" -> 3.0, "k3" -> 5.0))
    } finally q.stop()
  }

  test("mapGroupsWithState: per-group delivery/ack ledger as streaming state (R12 in-stream form)") {
    val in = MemoryStream[LedgerEvent](spark, numPartitions = 1)
    val counted = in.toDS()
      .groupByKey(_.groupId)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (gid: String, evs: Iterator[LedgerEvent], state: GroupState[LedgerState]) =>
          val s0 = state.getOption.getOrElse(LedgerState(0, 0))
          val s1 = evs.foldLeft(s0) { (s, e) =>
            if (e.kind == "deliver") s.copy(delivered = s.delivered + 1)
            else s.copy(acked = s.acked + 1)
          }
          state.update(s1)
          LedgerRow(gid, s1.delivered, s1.acked, s1.delivered - s1.acked)
      }
    val q = counted.writeStream.format("memory").queryName("ledger_out")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(LedgerEvent("g1", "deliver"), LedgerEvent("g1", "deliver"),
        LedgerEvent("g2", "deliver"))
      q.processAllAvailable()
      in.addData(LedgerEvent("g1", "ack"))
      q.processAllAvailable()
      val last = spark.table("ledger_out").as[LedgerRow].collect()
        .groupBy(_.groupId).map { case (g, rows) => g -> rows.last }
      assert(last("g1") == LedgerRow("g1", 2, 1, 1))
      assert(last("g2") == LedgerRow("g2", 1, 0, 1))
    } finally q.stop()
  }

  test("complete output mode: the sink holds the full recomputed aggregate every batch") {
    val in = MemoryStream[E](spark, numPartitions = 1)
    val agg = in.toDF().groupBy($"key").count()
    val q = agg.writeStream.format("memory").queryName("complete_out")
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData(E(ts(1), "a", 1.0), E(ts(2), "a", 1.0), E(ts(3), "b", 1.0))
      q.processAllAvailable()
      val first = spark.table("complete_out").as[(String, Long)].collect().toMap
      assert(first == Map("a" -> 2L, "b" -> 1L))
      in.addData(E(ts(4), "b", 1.0))
      q.processAllAvailable()
      // complete mode REPLACES the sink table with the whole result —
      // both keys present with updated counts, not a delta
      val second = spark.table("complete_out").as[(String, Long)].collect().toMap
      assert(second == Map("a" -> 2L, "b" -> 2L),
        s"complete mode must re-emit the full aggregate: $second")
    } finally q.stop()
  }

  test("session windows merge events within the gap in streaming mode (append)") {
    val in = MemoryStream[E](spark, numPartitions = 1)
    val agg = in.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window($"ts", "30 minutes"), $"key")
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp($"session_window.start").as("sstart"), $"key", $"n")
    val q = agg.writeStream.format("memory").queryName("sw_out")
      .outputMode(OutputMode.Append).start()
    try {
      // two bursts 90 minutes apart -> two sessions once watermark passes
      in.addData(E(ts(0), "u", 1.0), E(ts(10), "u", 1.0), E(ts(20), "u", 1.0))
      q.processAllAvailable()
      in.addData(E(ts(110), "u", 1.0), E(ts(115), "u", 1.0))
      q.processAllAvailable()
      in.addData(E(ts(300), "u", 1.0)) // advance watermark, close session 2
      q.processAllAvailable()
      val rows = spark.table("sw_out").select("sstart", "n").as[(Long, Long)]
        .collect().toMap
      assert(rows == Map(0L -> 3L, 6600L -> 2L),
        s"sessions [0,20+30min) with 3 events and [110,115+30min) with 2: $rows")
    } finally q.stop()
  }

  test("StreamingQueryListener surfaces per-query progress and rows (err-channel analog)") {
    val listener = graft.streaming.EngineMetrics.attach(spark)
    val in = MemoryStream[E](spark, numPartitions = 1)
    val q = in.toDF().writeStream.format("memory").queryName("listener_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(E(ts(1), "a", 1.0), E(ts(2), "b", 2.0))
      q.processAllAvailable()
      // progress events are delivered asynchronously
      val deadline = System.currentTimeMillis() + 10000
      var h = listener.snapshot.get("listener_out")
      while ((h.isEmpty || h.get.inputRows < 2) && System.currentTimeMillis() < deadline) {
        Thread.sleep(100); h = listener.snapshot.get("listener_out")
      }
      assert(h.exists(_.inputRows >= 2), s"listener must observe input rows: ${listener.snapshot}")
      assert(listener.failures.isEmpty)
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("listener captures a failed query's exception (error propagation, not swallowing)") {
    val listener = graft.streaming.EngineMetrics.attach(spark)
    val in = MemoryStream[E](spark, numPartitions = 1)
    val q = in.toDF().writeStream.queryName("failing_out")
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (batch.count() > 0) throw new RuntimeException("boom: simulated sink failure")
        ()
      }
      .start()
    try {
      in.addData(E(ts(1), "a", 1.0))
      intercept[Exception](q.processAllAvailable())
      val deadline = System.currentTimeMillis() + 10000
      while (listener.failures.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(listener.failures.get("failing_out").exists(_.contains("boom")),
        s"listener must surface the failure: ${listener.failures}")
    } finally {
      try q.stop() catch { case _: Throwable => () }
      spark.streams.removeListener(listener)
    }
  }

  test("stream-stream interval join: watermarked impressions join clicks within the window") {
    // Two live streams joined on key with an event-time range predicate —
    // the shape Spark runs as a state-store symmetric hash join: each
    // side buffers rows until its watermark passes the join window, so
    // state is bounded and the same plan runs unchanged on an unbounded
    // 100 TB/day feed. The reference has no stream-stream operator at
    // all; this pins the capability beyond its surface.
    val impressions = MemoryStream[E](spark, numPartitions = 1)
    val clicks = MemoryStream[E](spark, numPartitions = 1)
    val l = impressions.toDF().select($"key", $"ts".as("imp_ts"), $"v".as("imp_v"))
      .withWatermark("imp_ts", "10 minutes")
    val r = clicks.toDF().select($"key".as("ckey"), $"ts".as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val joined = l.join(r,
      $"key" === $"ckey" &&
        $"click_ts" >= $"imp_ts" && $"click_ts" <= $"imp_ts" + expr("INTERVAL 5 MINUTES"))
      .select($"key", $"imp_ts", $"click_ts")
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode(OutputMode.Append).start()
    try {
      impressions.addData(E(ts(1), "a", 1.0), E(ts(1), "b", 1.0), E(ts(20), "c", 1.0))
      clicks.addData(E(ts(3), "a", 0.0),  // within 5 min of a's impression → joins
        E(ts(9), "b", 0.0),               // 8 min after b's impression → outside window
        E(ts(21), "c", 0.0))              // within window → joins
      q.processAllAvailable()
      val rows = spark.table("ssj_out").select("key").as[String].collect().sorted
      assert(rows.toSeq == Seq("a", "c"),
        s"only clicks inside the 5-minute attribution window join: ${rows.toSeq}")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join emits unmatched rows after the watermark closes the window") {
    val impressions = MemoryStream[E](spark, numPartitions = 1)
    val clicks = MemoryStream[E](spark, numPartitions = 1)
    val l = impressions.toDF().select($"key", $"ts".as("imp_ts"))
      .withWatermark("imp_ts", "1 minute")
    val r = clicks.toDF().select($"key".as("ckey"), $"ts".as("click_ts"))
      .withWatermark("click_ts", "1 minute")
    val joined = l.join(r,
      $"key" === $"ckey" &&
        $"click_ts" >= $"imp_ts" && $"click_ts" <= $"imp_ts" + expr("INTERVAL 5 MINUTES"),
      "left_outer")
      .select($"key", $"click_ts")
    val q = joined.writeStream.format("memory").queryName("ssoj_out")
      .outputMode(OutputMode.Append).start()
    try {
      impressions.addData(E(ts(1), "hit", 1.0), E(ts(1), "miss", 1.0))
      clicks.addData(E(ts(2), "hit", 0.0))
      q.processAllAvailable()
      // advance both watermarks far past the join window so the engine
      // can prove "miss" will never match and emit its null-padded row
      impressions.addData(E(ts(60), "late", 1.0))
      clicks.addData(E(ts(60), "late", 0.0))
      q.processAllAvailable()
      val got = spark.table("ssoj_out").select("key", "click_ts")
        .collect().map(r => (r.getString(0), r.isNullAt(1))).toSet
      assert(got.contains(("hit", false)), s"matched row must carry its click: $got")
      assert(got.contains(("miss", true)),
        s"unmatched impression must surface null-padded once the state closes: $got")
    } finally q.stop()
  }

  test("stream-static join: streaming events enrich against a broadcast dimension") {
    val in = MemoryStream[E](spark, numPartitions = 1)
    val dim = Seq(("a", "alpha"), ("b", "beta")).toDF("key", "name")
    val joined = in.toDF().join(broadcast(dim), Seq("key"))
      .select($"key", $"name", $"v")
    val q = joined.writeStream.format("memory").queryName("sj_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(E(ts(1), "a", 1.0), E(ts(2), "c", 9.0), E(ts(3), "b", 2.0))
      q.processAllAvailable()
      val rows = spark.table("sj_out").as[(String, String, Double)].collect().sorted
      assert(rows.toSeq == Seq(("a", "alpha", 1.0), ("b", "beta", 2.0)),
        "unmatched streaming rows drop out of the inner join")
    } finally q.stop()
  }
}
