package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Top-level so Catalyst can instantiate the encoder without an outer
  * scope (the inner-class encoder limitation). */
final case class Sig(doc_id: Long, lo: Long, hi: Long)

/** Structured Streaming surface driven through MemoryStream sources —
  * watermarked tumbling windows and stateful sessionization.
  */
class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  final case class Raw(user_id: Long, event_id: Long, ts: Timestamp,
      event_type: String, value: Double)

  final case class Doc(doc_id: Long, text: String)

  test("hourlyCounts: tumbling windows aggregate by hour and type") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Raw]
    val query = StreamOps.hourlyCounts(input.toDF())
      .writeStream.format("memory").queryName("hourly")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Raw(1, 1, ts("10:05"), "click", 1.0),
        Raw(1, 2, ts("10:55"), "click", 2.0),
        Raw(2, 3, ts("11:05"), "view", 3.0))
      query.processAllAvailable()
      // advance watermark far enough to finalize the 10:00 and 11:00 windows
      input.addData(Raw(9, 9, ts("15:00"), "click", 0.0))
      query.processAllAvailable()
      val rows = spark.table("hourly").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
        .toSet
      assert(rows.contains(("2024-01-01 10:00:00.0", "click", 2L)))
      assert(rows.contains(("2024-01-01 11:00:00.0", "view", 1L)))
    } finally query.stop()
  }

  test("slidingCounts: each event lands in exactly two overlapping " +
      "1h/30m windows, and finalized counts match the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Raw]
    val query = StreamOps.slidingCounts(input.toDF())
      .writeStream.format("memory").queryName("sliding")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Raw(1, 1, ts("10:05"), "click", 1.0), // windows 09:30 + 10:00
        Raw(1, 2, ts("10:40"), "click", 2.0), // windows 10:00 + 10:30
        Raw(2, 3, ts("10:59"), "view", 4.0))  // windows 10:00 + 10:30
      query.processAllAvailable()
      input.addData(Raw(9, 9, ts("15:00"), "click", 0.0)) // finalize
      query.processAllAvailable()
      // only windows ending before the 13:00 watermark are finalized —
      // exactly the three covering the first batch of events
      val got = spark.table("sliding").collect()
        .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
      assert(got("2024-01-01 09:30:00.0") == 1)
      assert(got("2024-01-01 10:00:00.0") == 3)
      assert(got("2024-01-01 10:30:00.0") == 2)
      assert(got.size == 3, s"unexpected finalized windows: $got")

      // batch parity: groupBy(window(size, slide)) over the same rows
      val batch = Seq(
        (1L, 1L, ts("10:05"), "click", 1.0),
        (1L, 2L, ts("10:40"), "click", 2.0),
        (2L, 3L, ts("10:59"), "view", 4.0))
        .toDF("user_id", "event_id", "ts", "event_type", "value")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start"), col("n")).collect()
        .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
      assert(batch == got, s"stream/batch divergence: $batch vs $got")
    } finally query.stop()
  }

  test("stateful ops run on the RocksDB state store provider (the " +
      "10^9-key deployment configuration, not just the in-memory default)") {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val input = MemoryStream[Raw]
    val query = StreamOps.hourlyCounts(input.toDF())
      .writeStream.format("memory").queryName("rocks_hourly")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Raw(1, 1, ts("10:05"), "click", 1.0),
        Raw(1, 2, ts("10:55"), "click", 2.0))
      query.processAllAvailable()
      input.addData(Raw(9, 9, ts("15:00"), "click", 0.0))
      query.processAllAvailable()
      val rows = s.table("rocks_hourly").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
      assert(rows.contains(("2024-01-01 10:00:00.0", "click", 2L)),
        s"RocksDB-backed aggregation lost state: ${rows.toSeq}")
      // the provider actually engaged, not a silent fallback to the
      // HDFS-backed default: RocksDB publishes provider-specific custom
      // metrics (rocksdbGetLatency etc.) that the default never emits,
      // so their presence pins the provider class
      val ops = query.lastProgress.stateOperators
      assert(ops.nonEmpty)
      val customMetricKeys = ops.flatMap(_.customMetrics.keySet().toArray())
        .map(_.toString)
      assert(customMetricKeys.exists(_.toLowerCase.contains("rocksdb")),
        s"no rocksdb custom metrics — provider fell back to the default " +
          s"(saw: ${customMetricKeys.toSeq})")
    } finally query.stop()
  }

  test("enrichStream: static dimension broadcast-joins onto the stream; " +
      "unmatched events pass through with nulls (left join)") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("click", "engagement"), ("view", "impression"))
      .toDF("event_type", "category")
    val input = MemoryStream[Raw]
    val query = StreamOps.enrichStream(input.toDF(), dim, "event_type")
      .select("event_id", "event_type", "category")
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Raw(1, 1, ts("10:00"), "click", 1.0),
        Raw(1, 2, ts("10:01"), "view", 1.0),
        Raw(2, 3, ts("10:02"), "purchase", 1.0)) // no dim row
      query.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
      assert(rows == Map(1L -> Some("engagement"),
        2L -> Some("impression"), 3L -> None))
    } finally query.stop()
  }

  test("hourlyCounts: a late row beyond the 2h watermark is dropped and " +
      "a finalized window is never re-emitted") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Raw]
    val query = StreamOps.hourlyCounts(input.toDF())
      .writeStream.format("memory").queryName("late_drop")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Raw(1, 1, ts("10:05"), "click", 1.0),
        Raw(1, 2, ts("10:10"), "click", 1.0))
      query.processAllAvailable()
      // advance event time to 15:00 => watermark 13:00; the 10:00 window
      // (ends 11:00 < 13:00) finalizes and is emitted with n=2
      input.addData(Raw(9, 9, ts("15:00"), "click", 0.0))
      query.processAllAvailable()
      // LATE: a 10:20 click arrives after the watermark passed the
      // window end — it must be discarded, not re-open the window
      input.addData(Raw(1, 3, ts("10:20"), "click", 7.0))
      query.processAllAvailable()
      // push the watermark further so anything buffered would flush
      input.addData(Raw(9, 10, ts("20:00"), "click", 0.0))
      query.processAllAvailable()
      val tenOClock = spark.table("late_drop").collect()
        .filter(r => r.getTimestamp(0).toString == "2024-01-01 10:00:00.0" &&
          r.getString(1) == "click")
        .map(r => (r.getLong(2), r.getDouble(3)))
      assert(tenOClock.toSeq == Seq((2L, 2.0)),
        s"late row leaked into a finalized window: ${tenOClock.toSeq}")
    } finally query.stop()
  }

  test("dedupStream: duplicate ids within the watermark are dropped " +
      "across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Raw]
    val query = StreamOps.dedupStream(input.toDF(), "event_id")
      .writeStream.format("memory").queryName("deduped")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Raw(1, 100, ts("10:00"), "click", 1.0),
        Raw(1, 100, ts("10:01"), "click", 1.0), // same id, same batch
        Raw(2, 101, ts("10:02"), "view", 2.0))
      query.processAllAvailable()
      input.addData(Raw(1, 100, ts("10:10"), "click", 1.0)) // dup, later batch
      input.addData(Raw(3, 102, ts("10:20"), "view", 3.0))
      query.processAllAvailable()
      val ids = spark.table("deduped").collect().map(_.getLong(1)).sorted
      assert(ids.toSeq == Seq(100L, 101L, 102L))
    } finally query.stop()
  }

  test("completedSessions: in-batch gap closes a session immediately; " +
      "the final session closes via event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.Ev]
    val query = StreamOps.completedSessions(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("closed_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1: events 10:00 + 10:10 (one session), then 11:30 — the
      // >30 min in-batch gap must emit session 1 right away
      input.addData(
        StreamOps.Ev(1, 1, ts("10:00"), 1.0),
        StreamOps.Ev(1, 2, ts("10:10"), 1.0),
        StreamOps.Ev(1, 3, ts("11:30"), 1.0))
      query.processAllAvailable()
      val afterBatch1 = spark.table("closed_sessions").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getTimestamp(2).toString, r.getInt(3)))
      assert(afterBatch1.toSet == Set(
        (1L, "2024-01-01 10:00:00.0", "2024-01-01 10:10:00.0", 2)),
        s"in-batch gap must close session 1: ${afterBatch1.toSeq}")
      // advance the watermark well past 11:30 + gap (2h watermark delay:
      // event at 18:00 => watermark 16:00 > 12:00 timeout) so the open
      // session times out and emits
      input.addData(StreamOps.Ev(9, 9, ts("18:00"), 0.0))
      query.processAllAvailable()
      // one more batch so the timeout fires after the watermark update
      input.addData(StreamOps.Ev(9, 10, ts("18:01"), 0.0))
      query.processAllAvailable()
      val all = spark.table("closed_sessions").collect()
        .map(r => (r.getLong(0), r.getInt(3))).filter(_._1 == 1L)
      assert(all.toSet == Set((1L, 2), (1L, 1)),
        s"timeout must close the trailing session: ${all.toSeq}")
    } finally query.stop()
  }

  test("completedSessions agrees with the batch sessionSpans ground " +
      "truth on the same events (streaming/batch parity)") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(77)
    // 3 users x ~12 events over 6 hours: random gaps straddle the 30-min
    // threshold, so sessions of several shapes occur
    val evs = for {
      u <- 1L to 3L
      i <- 0 until 12
    } yield StreamOps.Ev(u, u * 100 + i,
      ts(f"${9 + (i * 27 + rnd.nextInt(20)) / 60}%02d:${(i * 27 + rnd.nextInt(20)) % 60}%02d"),
      1.0)
    val input = MemoryStream[StreamOps.Ev]
    val query = StreamOps.completedSessions(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("parity_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // two CHRONOLOGICAL batches (split by event time, so no row in
      // batch 2 falls behind the watermark batch 1 establishes — an
      // id-based split made user 3's early events legitimately late and
      // the engine correctly dropped them) + advancers that close every
      // session via timeout
      val (b1, b2) = evs.sortBy(_.ts.getTime).splitAt(18)
      input.addData(b1: _*)
      query.processAllAvailable()
      input.addData(b2: _*)
      query.processAllAvailable()
      input.addData(StreamOps.Ev(9, 999, ts("23:00"), 0.0))
      query.processAllAvailable()
      input.addData(StreamOps.Ev(9, 998, ts("23:30"), 0.0))
      query.processAllAvailable()
      val streamed = spark.table("parity_sessions").collect()
        .filter(_.getLong(0) <= 3L)
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getTimestamp(2).getTime, r.getInt(3))).toSet
      // s_start/s_end are timestamp_ntz -> LocalDateTime; session TZ is
      // UTC so epoch millis are directly comparable
      def ntzMs(r: org.apache.spark.sql.Row, i: Int): Long =
        r.getAs[java.time.LocalDateTime](i)
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      val batch = graft.operators.EventOps.sessionSpans(
          evs.toDF("user_id", "event_id", "ts", "value"), gapMinutes = 30)
        .collect()
        .map(r => (r.getLong(0), ntzMs(r, 2), ntzMs(r, 3),
          r.getLong(4).toInt)).toSet
      assert(streamed == batch,
        s"streaming=${streamed.toSeq.sorted} batch=${batch.toSeq.sorted}")
    } finally query.stop()
  }

  test("stream-stream join: purchase attributes to a prior click within " +
      "the window; outside-window purchase never joins") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Raw]
    val purchases = MemoryStream[Raw]
    val query = StreamOps.clickPurchaseJoin(clicks.toDF(), purchases.toDF(),
        withinMinutes = 30)
      .writeStream.format("memory").queryName("attributed")
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData(
        Raw(1, 10, ts("10:00"), "click", 0.0),
        Raw(2, 11, ts("10:00"), "click", 0.0))
      // user 1 purchases 20 min after the click (inside window);
      // user 2 purchases 2h later (outside) — must not join
      purchases.addData(
        Raw(1, 50, ts("10:20"), "purchase", 9.99),
        Raw(2, 51, ts("12:00"), "purchase", 5.00))
      query.processAllAvailable()
      // advance both watermarks so results flush in append mode
      clicks.addData(Raw(9, 98, ts("18:00"), "click", 0.0))
      purchases.addData(Raw(9, 99, ts("18:00"), "purchase", 0.0))
      query.processAllAvailable()
      val rows = spark.table("attributed").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows.contains((1L, 10L, 50L)),
        s"in-window purchase must attribute: $rows")
      assert(!rows.exists(_._3 == 51L),
        s"out-of-window purchase must not join: $rows")
    } finally query.stop()
  }

  test("stream-stream LEFT OUTER join: matched clicks emit immediately, " +
      "unmatched clicks emit null-extended ONLY after the watermark " +
      "proves no purchase can still arrive") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Raw]
    val purchases = MemoryStream[Raw]
    val query = StreamOps.clickPurchaseLeftJoin(clicks.toDF(),
        purchases.toDF(), withinMinutes = 30)
      .writeStream.format("memory").queryName("attributed_left")
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData(
        Raw(1, 10, ts("10:00"), "click", 0.0),  // will match
        Raw(2, 11, ts("10:00"), "click", 0.0))  // never purchases
      purchases.addData(Raw(1, 50, ts("10:20"), "purchase", 9.99))
      query.processAllAvailable()
      val phase1 = spark.table("attributed_left").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      assert(phase1.contains((1L, 10L, 50L)),
        s"matched pair must stream immediately: $phase1")
      assert(!phase1.exists(_._1 == 2L),
        "the unmatched click must NOT emit while a purchase could " +
          s"still arrive inside its window: $phase1")
      // advance BOTH watermarks past click 11's join horizon
      clicks.addData(Raw(9, 98, ts("18:00"), "click", 0.0))
      purchases.addData(Raw(9, 99, ts("18:00"), "purchase", 0.0))
      query.processAllAvailable()
      // one more nudge: outer results flush on the NEXT trigger after
      // the watermark advances (state eviction happens end-of-batch)
      clicks.addData(Raw(9, 96, ts("19:00"), "click", 0.0))
      purchases.addData(Raw(9, 97, ts("19:00"), "purchase", 0.0))
      query.processAllAvailable()
      val phase2 = spark.table("attributed_left").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      assert(phase2.contains((2L, 11L, -1L)),
        s"watermark-expired unmatched click must emit null-extended: " +
          s"$phase2")
    } finally query.stop()
  }

  test("sessionize: gap over threshold starts a new session; state " +
      "persists across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.Ev]
    val query = StreamOps.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Update()).start()
    try {
      // batch 1: user 1 has events 10:00, 10:10 (one session),
      // then 11:00 (> 30 min gap => second session)
      input.addData(
        StreamOps.Ev(1, 1, ts("10:00"), 1.0),
        StreamOps.Ev(1, 2, ts("10:10"), 1.0),
        StreamOps.Ev(1, 3, ts("11:00"), 1.0))
      query.processAllAvailable()
      // batch 2: 11:10 continues session 2; 13:00 opens session 3 —
      // proving state carried over from batch 1
      input.addData(
        StreamOps.Ev(1, 4, ts("11:10"), 1.0),
        StreamOps.Ev(1, 5, ts("13:00"), 1.0))
      query.processAllAvailable()
      val last = spark.table("sessions").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
        .filter(_._1 == 1L)
      assert(last.contains((1L, 2, 3)), s"batch-1 result missing: ${last.toSeq}")
      assert(last.contains((1L, 3, 5)), s"batch-2 result missing: ${last.toSeq}")
    } finally query.stop()
  }

  test("funnelStream: state carries stages across micro-batches and the " +
      "final frame matches the batch q_funnel_stages fold") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.FunnelEv]
    val query = StreamOps.funnelStream(input.toDS())
      .writeStream.format("memory").queryName("funnel")
      .outputMode(OutputMode.Update()).start()
    try {
      // batch 1: u1 views+clicks; u2 clicks BEFORE viewing (rejected);
      // u3 view+click at the same ts (strict > rejects the click)
      input.addData(
        StreamOps.FunnelEv(1, 1, ts("10:00"), "view"),
        StreamOps.FunnelEv(1, 2, ts("10:05"), "click"),
        StreamOps.FunnelEv(2, 3, ts("10:00"), "click"),
        StreamOps.FunnelEv(2, 4, ts("10:10"), "view"),
        StreamOps.FunnelEv(3, 5, ts("10:00"), "view"),
        StreamOps.FunnelEv(3, 6, ts("10:00"), "click"))
      query.processAllAvailable()
      // batch 2: u1 purchases (stage 3 — state carried); u2's click now
      // AFTER its view counts; u3 stalls
      input.addData(
        StreamOps.FunnelEv(1, 7, ts("10:20"), "purchase"),
        StreamOps.FunnelEv(2, 8, ts("10:30"), "click"))
      query.processAllAvailable()
      val last = spark.table("funnel").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
        .groupBy(_._1).map { case (u, rs) => u -> rs.last._2 }
      assert(last(1L) == 3, s"u1: $last")
      assert(last(2L) == 2, s"u2: $last")
      assert(last(3L) == 1, s"u3: $last")

      // batch parity: the same 8 events through the q_funnel_stages
      // window fold produce the same stage frame
      val batch = Seq(
        (1L, "view", ts("10:00")), (1L, "click", ts("10:05")),
        (2L, "click", ts("10:00")), (2L, "view", ts("10:10")),
        (3L, "view", ts("10:00")), (3L, "click", ts("10:00")),
        (1L, "purchase", ts("10:20")), (2L, "click", ts("10:30")))
        .toDF("user_id", "event_type", "tts")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("tts")).as("us"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      val stages = batch
        .withColumn("t1",
          min(when(col("event_type") === "view", col("us"))).over(w))
        .withColumn("t2",
          min(when(col("event_type") === "click" && col("us") > col("t1"),
            col("us"))).over(w))
        .withColumn("t3",
          min(when(col("event_type") === "purchase" && col("us") > col("t2"),
            col("us"))).over(w))
        .groupBy("user_id")
        .agg(max("t1").as("t1"), max("t2").as("t2"), max("t3").as("t3"))
        .collect().map { r =>
          r.getLong(0) -> (if (!r.isNullAt(3)) 3 else if (!r.isNullAt(2)) 2
            else if (!r.isNullAt(1)) 1 else 0)
        }.toMap
      assert(stages == last.toMap, s"stream/batch divergence: $stages vs $last")
    } finally query.stop()
  }

  test("cdcStream: last-writer-wins state matches the batch q_cdc_upsert " +
      "aggregate over the same rows regardless of arrival order; error " +
      "tombstones suppress then resurface") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.CdcEv]
    val query = StreamOps.cdcStream(input.toDS())
      .writeStream.format("memory").queryName("cdc")
      .outputMode(OutputMode.Update()).start()
    try {
      // batch 1 arrives OUT of event-time order (CDC streams do): u1's
      // older version lands second and must not win; u2's latest is an
      // error → tombstoned; u3 single version
      input.addData(
        StreamOps.CdcEv(1, 11, ts("10:30"), "update", 3.50),
        StreamOps.CdcEv(1, 10, ts("10:00"), "insert", 1.25),
        StreamOps.CdcEv(2, 12, ts("10:10"), "insert", 2.00),
        StreamOps.CdcEv(2, 13, ts("10:20"), "error", 9.99),
        StreamOps.CdcEv(3, 14, ts("10:05"), "insert", 7.75))
      query.processAllAvailable()
      // batch 2: u2 resurfaces with a newer non-error version; u1 gets
      // a same-ts higher-event_id writer (the struct tie-break)
      input.addData(
        StreamOps.CdcEv(2, 15, ts("11:00"), "update", 4.00),
        StreamOps.CdcEv(1, 16, ts("10:30"), "update", 5.00))
      query.processAllAvailable()
      val visible = spark.table("cdc").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .groupBy(_._1).map { case (u, rs) =>
          u -> rs.maxBy(_._4) } // latest emitted update per key
      // u2 was tombstoned in batch 1: no visible row until batch 2
      val batch1Users = spark.table("cdc").collect().map(_.getLong(0)).toSet
      assert(batch1Users == Set(1L, 2L, 3L))
      assert(visible(2L)._4 == 3L, "u2's version count survives the tombstone")

      // batch parity: the q_cdc_upsert max_by aggregate over the same 7
      // rows (any arrival order) must equal the stream's visible frame
      val batchDf = Seq(
        (1L, 11L, ts("10:30"), "update", 3.50),
        (1L, 10L, ts("10:00"), "insert", 1.25),
        (2L, 12L, ts("10:10"), "insert", 2.00),
        (2L, 13L, ts("10:20"), "error", 9.99),
        (3L, 14L, ts("10:05"), "insert", 7.75),
        (2L, 15L, ts("11:00"), "update", 4.00),
        (1L, 16L, ts("10:30"), "update", 5.00))
        .toDF("user_id", "event_id", "tts", "event_type", "value")
      val ord = struct(col("us"), col("event_id"))
      val batch = batchDf
        .select(col("user_id"), col("event_id"), col("event_type"),
          graft.Cols.cents(col("value")).as("value_cents"),
          unix_micros(col("tts")).as("us"))
        .groupBy("user_id")
        .agg(max_by(col("event_type"), ord).as("op"),
          max_by(col("value_cents"), ord).as("value_cents"),
          max(col("us")).as("last_us"),
          count(lit(1)).as("n_versions"))
        .where(col("op") =!= "error")
        .collect()
        .map(r => r.getLong(0) ->
          (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      assert(batch == visible.toMap,
        s"stream/batch divergence: $batch vs $visible")
    } finally query.stop()
  }

  test("sessionWindowCounts: native session_window merges in-gap " +
      "events, finalizes via the watermark, and matches the batch " +
      "session_window aggregate over the same rows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Raw]
    val query = StreamOps.sessionWindowCounts(input.toDF(), gapMinutes = 30)
      .writeStream.format("memory").queryName("native_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1: two sessions (10:00-10:10, then 11:30); user 2: one
      // session straddling the two micro-batches (10:05 then 10:20 —
      // the state store must MERGE the windows across batches)
      input.addData(
        Raw(1, 1, ts("10:00"), "click", 1.0),
        Raw(1, 2, ts("10:10"), "click", 1.0),
        Raw(2, 3, ts("10:05"), "view", 1.0))
      query.processAllAvailable()
      input.addData(
        Raw(2, 4, ts("10:20"), "view", 1.0),
        Raw(1, 5, ts("11:30"), "click", 1.0))
      query.processAllAvailable()
      // advance the watermark far enough to finalize everything
      input.addData(Raw(9, 9, ts("18:00"), "click", 0.0))
      query.processAllAvailable()
      input.addData(Raw(9, 10, ts("18:01"), "click", 0.0))
      query.processAllAvailable()
      val streamed = spark.table("native_sessions").collect()
        .filter(_.getLong(0) <= 2L)
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getTimestamp(2).getTime, r.getLong(3))).toSet
      val rows = Seq(
        (1L, 1L, ts("10:00"), "click", 1.0),
        (1L, 2L, ts("10:10"), "click", 1.0),
        (2L, 3L, ts("10:05"), "view", 1.0),
        (2L, 4L, ts("10:20"), "view", 1.0),
        (1L, 5L, ts("11:30"), "click", 1.0))
      val batch = rows
        .toDF("user_id", "event_id", "ts", "event_type", "value")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("sw.start"), col("sw.end"), col("n"))
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getTimestamp(2).getTime, r.getLong(3))).toSet
      assert(streamed == batch,
        s"stream=${streamed.toSeq.sorted} batch=${batch.toSeq.sorted}")
      // the cross-batch merge actually happened: user 2 has ONE
      // session of 2 events, not two 1-event sessions
      assert(streamed.count(_._1 == 2L) == 1)
      assert(streamed.find(_._1 == 2L).get._4 == 2L)
    } finally query.stop()
  }

  test("cdcStream: sub-millisecond event times order versions by actual " +
      "microseconds — parity with batch unix_micros, not getTime-ms") {
    implicit val sqlCtx = spark.sqlContext
    // two versions of key 1 inside the SAME millisecond; the µs-later
    // version carries the SMALLER event_id, so a ms-truncated fold ties
    // on time and wrongly promotes the µs-earlier writer via event_id
    def tsN(nanos: Int): Timestamp = {
      val t = Timestamp.valueOf("2024-01-01 10:00:00")
      t.setNanos(nanos); t
    }
    val input = MemoryStream[StreamOps.CdcEv]
    val query = StreamOps.cdcStream(input.toDS())
      .writeStream.format("memory").queryName("cdc_subms")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        StreamOps.CdcEv(1, 20, tsN(123000), "insert", 1.00), // .000123s
        StreamOps.CdcEv(1, 10, tsN(789000), "update", 2.00)) // .000789s
      query.processAllAvailable()
      val visible = spark.table("cdc_subms").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val baseUs =
        Timestamp.valueOf("2024-01-01 10:00:00").getTime / 1000 * 1000000L
      assert(visible == Set((1L, 200L, baseUs + 789L, 2L)),
        s"µs-later writer must win and last_us must carry full µs: $visible")

      // batch parity: unix_micros-based max_by over the same two rows
      val ord = struct(col("us"), col("event_id"))
      val batch = Seq((1L, 20L, tsN(123000), "insert", 1.00),
          (1L, 10L, tsN(789000), "update", 2.00))
        .toDF("user_id", "event_id", "tts", "event_type", "value")
        .select(col("user_id"), col("event_id"),
          graft.Cols.cents(col("value")).as("value_cents"),
          unix_micros(col("tts")).as("us"))
        .groupBy("user_id")
        .agg(max_by(col("value_cents"), ord).as("value_cents"),
          max(col("us")).as("last_us"), count(lit(1)).as("n_versions"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(batch == visible, s"stream/batch divergence: $batch vs $visible")
    } finally query.stop()
  }

  test("incrementalSubstrStream: 3-batch feed equals the batch " +
      "exactSubstrIncremental over the union — old index wins, and a " +
      "span first seen in batch 1 cleans batch 2's copy") {
    implicit val sqlCtx = spark.sqlContext
    def toks(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val spanS = toks("s", 50)                  // lives in the OLD corpus
    val spanT = toks("t", 50)                  // first occurs in batch 1
    val old = Seq((0L, s"${toks("a", 10)} $spanS"))
      .toDF("doc_id", "text")
    val b1 = Seq(
      (300L, s"$spanS ${toks("b", 10)}"),      // S removed (old wins)
      (301L, spanT))                           // T's first occurrence: kept
    val b2 = Seq(
      (302L, s"$spanT ${toks("d", 5)}"),       // T removed (batch-1 won)
      (303L, toks("e", 55)))                   // untouched
    val b3 = Seq(
      (304L, s"${toks("e", 55)} x1"))          // batch-2's e-span cleans it
    val input = MemoryStream[Doc]
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val query = StreamOps.incrementalSubstrStream(
      input.toDF(), graft.operators.Dedup.substrWindowDigests(old)) {
      (batch, _) => got ++= batch.collect().map(_.toSeq)
    }
    try {
      for (b <- Seq(b1, b2, b3)) {
        input.addData(b.map((Doc.apply _).tupled))
        query.processAllAvailable()
      }
    } finally query.stop()
    val expect = graft.operators.Dedup.exactSubstrIncremental(
        (b1 ++ b2 ++ b3).toDF("doc_id", "text"), old)
      .collect().map(_.toSeq)
    assert(got.sortBy(_.head.asInstanceOf[Long]).toSeq ==
      expect.sortBy(_.head.asInstanceOf[Long]).toSeq,
      s"stream=$got batch=${expect.toSeq}")
    // the engineered casualties really happened
    val byId = got.map(r => r.head.asInstanceOf[Long] -> r).toMap
    assert(byId(300L)(2) == 50L, "old-index span not removed from 300")
    assert(byId(301L)(2) == 0L, "batch-1 first occurrence must survive")
    assert(byId(302L)(2) == 50L, "cross-batch span not removed from 302")
    assert(byId(304L)(2) == 55L, "batch-2's span must clean batch 3")
  }

  test("crawlIngestStream: segments dropped into a watched directory " +
      "across micro-batches extract identically to the batch query " +
      "over the same files") {
    withTempDir("graft_crawl_stream") { d =>
      val dir = new java.io.File(d)
      def words(p: String, n: Int) =
        (1 to n).map(i => s"$p$i").mkString(" ")
      def seg(name: String, recs: Seq[(Long, String, String)]): Unit =
        java.nio.file.Files.write(dir.toPath.resolve(name),
          graft.operators.Crawl.encodeArchive(recs))
      def page(id: Long, body: String) =
        graft.operators.Crawl.wrapHtml(id, body)
      val b1 = Seq(
        (1L, "https://a.example.org/1", page(1L, words("alpha", 20))),
        (2L, "https://a.example.org/2", page(2L, words("beta", 14))))
      val b2 = Seq(
        (3L, "https://b.example.org/3", page(3L, words("gamma", 30))))
      val query = StreamOps.crawlIngestStream(spark, dir.getAbsolutePath)
        .writeStream.format("memory").queryName("crawl_stream")
        .outputMode(OutputMode.Append()).start()
      try {
        seg("part0.garc", b1)
        query.processAllAvailable()
        assert(spark.table("crawl_stream").count() == 2L)
        seg("part1.garc", b2)
        query.processAllAvailable()
        val streamed = spark.table("crawl_stream").collect()
          .map(_.toSeq).toSet
        val batch = graft.operators.Crawl.extractText(
            graft.operators.Crawl.parseArchives(spark,
              s"${dir.getAbsolutePath}/*.garc"))
          .collect().map(_.toSeq).toSet
        assert(streamed == batch,
          s"stream/batch extraction diverged: $streamed vs $batch")
        assert(streamed.size == 3)
      } finally query.stop()
    }
  }

  test("warcIngestStream: gz WARC segments arriving across " +
      "micro-batches extract identically to the batch query over the " +
      "same files") {
    withTempDir("graft_warc_stream") { d =>
      val dir = new java.io.File(d)
      def words(p: String, n: Int) =
        (1 to n).map(i => s"$p$i").mkString(" ")
      def seg(name: String, docs: Seq[(Long, String)]): Unit = {
        val members = docs.map { case (id, body) =>
          graft.operators.Crawl.gzipMember(
            graft.operators.Crawl.encodeWarcRecord(Seq(
              "WARC-Type" -> "response",
              "WARC-Target-URI" -> s"https://a.example.org/doc/$id",
              "Content-Type" -> "application/http; msgtype=response"),
              (s"HTTP/1.1 200 OK\r\n\r\n" +
                graft.operators.Crawl.wrapHtml(id, body)).getBytes))
        }
        java.nio.file.Files.write(dir.toPath.resolve(name),
          members.toArray.flatten)
      }
      val query = StreamOps.warcIngestStream(spark, dir.getAbsolutePath)
        .writeStream.format("memory").queryName("warc_stream")
        .outputMode(OutputMode.Append()).start()
      try {
        seg("part0.warc.gz", Seq(1L -> words("alpha", 20),
          2L -> words("beta", 14)))
        query.processAllAvailable()
        assert(spark.table("warc_stream").count() == 2L)
        seg("part1.warc.gz", Seq(3L -> words("gamma", 30)))
        query.processAllAvailable()
        val streamed = spark.table("warc_stream").collect()
          .map(_.toSeq).toSet
        val batch = graft.operators.Crawl.warcDocs(
            graft.operators.Crawl.parseWarcSegments(spark,
              s"${dir.getAbsolutePath}/*.warc.gz"))
          .collect().map(_.toSeq).toSet
        assert(streamed == batch,
          s"stream/batch extraction diverged: $streamed vs $batch")
        assert(streamed.size == 3)
      } finally query.stop()
    }
  }

  test("incrementalImageDedupStream: 3-batch feed equals the batch " +
      "survivor operator over index + union, including a CROSS-BATCH " +
      "duplicate and a duplicate of a pre-existing index doc") {
    implicit val sqlCtx = spark.sqlContext
    // signatures chosen at exact Hamming distances: s(x) = base with
    // low bits perturbed
    def sig(id: Long, lo: Long, hi: Long) = Sig(id, lo, hi)
    val old = Seq(sig(0L, 0x1234L, 0x00f0L), sig(1L, 0x7000L, 0x0a0aL))
    val b1 = Seq(
      sig(300L, 0x1237L, 0x00f0L),  // hamming 2 from index doc 0 -> drops
      sig(301L, 0x4444L, 0x4444L))  // novel -> survives
    val b2 = Seq(
      sig(302L, 0x4444L, 0x4445L),  // hamming 1 from BATCH-1 doc 301
      sig(303L, 0x00ffL, 0xff00L))  // novel
    val b3 = Seq(
      sig(304L, 0x1234L, 0x00f0L),  // exact dup of index doc 0
      sig(305L, 0x303L, 0x00ffL),   // novel
      sig(306L, 0x303L, 0x00ffL))   // within-batch dup of 305
    val input = MemoryStream[Sig]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    val query = StreamOps.incrementalImageDedupStream(
      input.toDF(), old.toDF()) { (batch, _) =>
      got ++= batch.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2)))
    }
    try {
      for (b <- Seq(b1, b2, b3)) {
        input.addData(b)
        query.processAllAvailable()
      }
    } finally query.stop()
    val newIds = (b1 ++ b2 ++ b3).map(_.doc_id).toSet
    val expect = graft.operators.Multimodal
      .hammingDedupSurvivors((old ++ b1 ++ b2 ++ b3).toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .filter(t => newIds.contains(t._1))
    assert(got.sortBy(_._1).toSeq == expect.sortBy(_._1).toSeq,
      s"stream=$got batch=${expect.toSeq}")
    // the engineered casualties really happened
    val byId = got.map(t => t._1 -> t).toMap
    assert(byId(300L) == (300L, 0L, 2), "index near-dup must drop")
    assert(byId(302L) == (302L, 301L, 1), "cross-batch dup must drop")
    assert(byId(304L) == (304L, 0L, 0), "exact index dup must drop")
    assert(byId(306L) == (306L, 305L, 0), "within-batch dup must drop")
    assert(!byId.contains(301L) && !byId.contains(303L) &&
      !byId.contains(305L), "novel signatures must survive")
  }

  test("cmsCellsStream: after any micro-batch prefix the cell table " +
      "equals the batch sketch over the same rows (mergeability)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val query = StreamOps.cmsCellsStream(input.toDF().toDF("tok"))
      .writeStream.format("memory").queryName("cms")
      .outputMode(OutputMode.Complete()).start()
    val b1 = (1 to 50).map(i => s"w${i % 7}")
    val b2 = (1 to 80).map(i => s"z${i % 13}") ++ Seq.fill(20)("w1")
    try {
      var fed = Seq.empty[String]
      for (b <- Seq(b1, b2)) {
        input.addData(b)
        query.processAllAvailable()
        fed ++= b
        val streamed = spark.table("cms").collect()
          .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
        val batch = graft.operators.TextAnalysis.cmsCells(fed.toDF("tok")).collect()
          .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
        assert(streamed == batch,
          s"sketch diverged after ${fed.size} rows")
      }
    } finally query.stop()
  }

  test("wetWriteStream: micro-batches accumulate batch-id-keyed WET " +
      "shards; the read-back union equals everything fed") {
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_wet_stream") { dir =>
      withTempDir("graft_wet_stream_ckpt") { ckpt =>
        val src = MemoryStream[(Long, String, String)]
        val query = StreamOps.wetWriteStream(
          src.toDF().toDF("doc_id", "url", "text"), dir, ckpt)
        try {
          src.addData((1L, "https://a.example.org/doc/1", "first batch text"),
            (2L, "https://a.example.org/doc/2", "more first batch"))
          query.processAllAvailable()
          src.addData((3L, "https://b.example.org/doc/3", "second batch"))
          query.processAllAvailable()
          val names = new java.io.File(dir).listFiles().map(_.getName).toSeq
          assert(names.nonEmpty &&
            names.forall(_.matches("part-\\d{5}-\\d{5}\\.warc\\.gz")),
            s"batch-id-keyed shard names expected, got $names")
          assert(names.exists(_.startsWith("part-00000-")) &&
            names.exists(_.startsWith("part-00001-")),
            s"each batch must own its shards: $names")
          val back = graft.operators.Crawl
            .parseWetSegments(spark, s"$dir/*.warc.gz")
            .as[(String, String)].collect().toSet
          assert(back == Set(
            ("https://a.example.org/doc/1", "first batch text"),
            ("https://a.example.org/doc/2", "more first batch"),
            ("https://b.example.org/doc/3", "second batch")))
        } finally query.stop()
      }
    }
  }

  test("writeWetShardsForBatch is idempotent PER BATCH: a replay with " +
      "a different partition count replaces exactly its own shards " +
      "and never touches another batch's") {
    withTempDir("graft_wet_replay") { dir =>
      val b4 = Seq((40L, "https://a.example.org/doc/40", "batch four"))
        .toDF("doc_id", "url", "text").coalesce(1)
      val b5wide = (50L to 55L)
        .map(i => (i, s"https://a.example.org/doc/$i", s"five $i"))
        .toDF("doc_id", "url", "text").repartition(4)
      graft.operators.Crawl.writeWetShardsForBatch(b4, dir, 4L)
      graft.operators.Crawl.writeWetShardsForBatch(b5wide, dir, 5L)
      val wide = new java.io.File(dir).listFiles().map(_.getName)
        .count(_.startsWith("part-00005-"))
      assert(wide > 1, "fixture needs a multi-shard first attempt")
      // the REPLAY of batch 5 lands narrower (1 partition)
      val b5narrow = (50L to 55L)
        .map(i => (i, s"https://a.example.org/doc/$i", s"five $i"))
        .toDF("doc_id", "url", "text").coalesce(1)
      graft.operators.Crawl.writeWetShardsForBatch(b5narrow, dir, 5L)
      val names = new java.io.File(dir).listFiles().map(_.getName).toSeq
      assert(names.count(_.startsWith("part-00005-")) == 1,
        s"stale wide-attempt shards must be cleared on replay: $names")
      assert(names.count(_.startsWith("part-00004-")) == 1,
        s"other batches' shards must never be touched: $names")
      val back = graft.operators.Crawl
        .parseWetSegments(spark, s"$dir/*.warc.gz")
        .as[(String, String)].collect().toSet
      assert(back == ((50L to 55L).map(i =>
        (s"https://a.example.org/doc/$i", s"five $i")).toSet +
        (("https://a.example.org/doc/40", "batch four"))))
    }
  }

  test("crawlTriangleStream: ingest → URL dedup → WET write COMPOSED — " +
      "the multi-batch WET corpus equals the batch " +
      "pipeline_url_prepare front over the same segments, with " +
      "in-batch AND cross-batch respellings collapsed") {
    withTempDir("graft_triangle") { d =>
      val root = java.nio.file.Path.of(d)
      val in = java.nio.file.Files.createDirectory(root.resolve("in"))
      val idx = root.resolve("idx").toString
      val wet = root.resolve("wet").toString
      val ckpt = root.resolve("ckpt").toString
      def words(p: String) = (1 to 15).map(i => s"$p$i").mkString(" ")
      def page(id: Long, url: String, seed: String) =
        (id, url, graft.operators.Crawl.wrapHtml(id, seed))
      val seg0 = Seq(
        page(80L, "https://a.example.org/doc/8", words("aa")),
        // in-batch respelling of 80 (case + default port + fragment)
        page(81L, "HTTPS://A.EXAMPLE.ORG:443/doc/8#top", words("aa")),
        page(88L, "https://b.example.org/doc/9", words("bb")))
      val seg1 = Seq(
        // CROSS-BATCH respelling of 80 (trailing slash): must drop via
        // the durable seen-set, not the in-batch keeper rule
        page(90L, "https://a.example.org/doc/8/", words("aa")),
        page(91L, "https://c.example.org/doc/10", words("cc")),
        // in-batch respelling of 91 (tracking param)
        page(92L, "https://c.example.org/doc/10?utm_source=x", words("cc")))
      java.nio.file.Files.write(in.resolve("part0.garc"),
        graft.operators.Crawl.encodeArchive(seg0))
      val query = StreamOps.crawlTriangleStream(spark, in.toString, idx,
        Seq.empty[String].toDF("canon_url"), wet, ckpt)
      try {
        query.processAllAvailable()
        java.nio.file.Files.write(in.resolve("part1.garc"),
          graft.operators.Crawl.encodeArchive(seg1))
        query.processAllAvailable()
      } finally query.stop()
      val streamed = graft.operators.Crawl
        .parseWetSegments(spark, s"$wet/*.warc.gz")
        .as[(String, String)].collect().toSet
      // the batch front: keeper per canonical URL over ALL records at
      // once, then the shared extraction — pipeline_url_prepare's stages
      // before the composed prepare
      val batchFront = graft.operators.Crawl.extractText(
          graft.operators.Crawl.urlKeeperRecords(
            graft.operators.Crawl.parseArchives(spark, s"$in/*.garc")))
        .select("url", "text").as[(String, String)].collect().toSet
      assert(streamed == batchFront,
        s"stream/batch front diverged: $streamed vs $batchFront")
      assert(streamed.map(_._1) == Set(
        "https://a.example.org/doc/8", "https://b.example.org/doc/9",
        "https://c.example.org/doc/10"),
        s"one WET record per canonical page, first spelling wins: " +
          s"${streamed.map(_._1)}")
    }
  }

  test("crawlPrepareStream: the triangle EXTENDED with the full content " +
      "chain (domain gate → route-on-raw → scrub → stateless gate → " +
      "near-dup vs durable sig index → static-plane decon → durable " +
      "substr dedup) — the multi-batch accumulated output equals the " +
      "batch composition over the same segments, with every engineered " +
      "casualty dropping at its own stage") {
    import org.apache.spark.sql.DataFrame
    withTempDir("graft_cprep") { d =>
      val root = java.nio.file.Path.of(d)
      val in = java.nio.file.Files.createDirectory(root.resolve("in"))
      val urlIdx = root.resolve("uidx").toString
      val sigIdx = root.resolve("gidx").toString
      val subIdx = root.resolve("sidx").toString
      val ckpt = root.resolve("ckpt").toString
      val labeled = (0L until 20L).map { i =>
        val lang = if (i % 2 == 0) "aa" else "bb"
        val t = if (lang == "aa") "red green blue red green blue"
          else "eins zwei drei eins zwei drei"
        (i, lang, t)
      }.toDF("doc_id", "lang", "text")
      // pure-alpha unique tokens (the extraction's content-line rule
      // only keeps [A-Za-z]+ words — digit-bearing tokens vanish)
      def uniq(p: String, n: Int) = (0 until n).map(i =>
        s"$p${('a' + i / 26).toChar}${('a' + i % 26).toChar}").mkString(" ")
      // the static decontamination eval set: 40 unique tokens => 36
      // distinct 5-grams, each eval-df 1 (all rare within eval)
      val evTokens = uniq("ev", 40).split(" ")
      val evalDocs = Seq((9000L, evTokens.mkString(" ")))
        .toDF("doc_id", "text")
      val policy = graft.operators.Crawl.defaultPolicy(spark)
      // the stateless per-doc gate: a fixed token-count rule (a frozen
      // trained threshold has the same stateless shape)
      val gate: DataFrame => DataFrame =
        d => d.where(size(split(col("text"), "\\s+")) >= 25)
      def aa(n: Int) = Seq.fill(n / 3 + 1)("red green blue")
        .mkString(" ").split(" ").take(n).mkString(" ")
      def bb(n: Int) = Seq.fill(n / 3 + 1)("eins zwei drei")
        .mkString(" ").split(" ").take(n).mkString(" ")
      // pure-alpha span tokens, same reason
      val spanS = (0 until 50).map(i =>
        s"sp${('a' + i / 26).toChar}${('a' + i % 26).toChar}").mkString(" ")
      def page(id: Long, url: String, body: String) =
        (id, url, graft.operators.Crawl.wrapHtml(id, body))
      val ndBody = s"${aa(6)} ${uniq("n", 34)}"         // 40 tokens
      val ndBodyNear = s"${aa(6)} ${uniq("n", 33)} nxx" // last token differs
      val seg0 = Seq(
        page(100L, "https://a.example.org/doc/1", s"${aa(30)} $spanS"),
        // in-batch respelling of 100 — collapses to the id-100 keeper
        page(101L, "HTTPS://A.EXAMPLE.ORG:443/doc/1#top",
          s"${aa(30)} $spanS"),
        page(102L, "https://b.example.org/doc/2", bb(30)),
        // gate casualty: 4 content tokens — under the 25-token rule
        // even with extraction boilerplate riding along
        page(103L, "https://a.example.org/doc/3", aa(4)),
        // the near-dup pair's FIRST sighting (batch 0)
        page(110L, "https://a.example.org/doc/4", ndBody))
      val seg1 = Seq(
        // CROSS-BATCH respelling of 100 — must drop via the DURABLE
        // URL seen-set, not the in-batch keeper rule
        page(200L, "https://a.example.org/doc/1/", s"${aa(30)} $spanS"),
        // fresh page whose spanS copy must be cleaned by the DURABLE
        // substr index (first seen in batch 0); the unique filler keeps
        // its shingle Jaccard vs 100 far below the near-dup threshold.
        // 204 body words — a 12-multiple, so wrapHtml's paragraph
        // chunking leaves no <3-word orphan line for the scrub rule to
        // drop (which would truncate spanS's tail)
        page(201L, "https://c.example.org/doc/4",
          s"${aa(6)} ${uniq("u", 148)} $spanS"),
        page(202L, "https://c.example.org/doc/5",
          s"${bb(6)} ${uniq("m", 30)}"),
        // DOMAIN-GATE casualties and the allow override (r15): an exact
        // blocked host, a subdomain of a blocked domain, and the
        // allowlisted host that is ALSO on the blocked-host list
        page(203L, "https://malware.badhost.example/doc/6", aa(30)),
        page(204L, "https://research.tracker.net/doc/7",
          s"${bb(6)} ${uniq("p", 30)}"),
        page(205L, "https://cdn.tracker.net/doc/8", bb(30)),
        // CROSS-BATCH near-copy of 110 — must drop via the DURABLE
        // MinHash signature index (one token changed; est >> 0.8)
        page(210L, "https://d.example.org/doc/9", ndBodyNear),
        // CONTAMINATED doc arriving in a later batch: a contiguous
        // 20-token run of the eval doc => 16 shared rare 5-grams >= 3
        page(211L, "https://d.example.org/doc/10",
          s"${aa(30)} ${evTokens.slice(10, 30).mkString(" ")}"))
      java.nio.file.Files.write(in.resolve("part0.garc"),
        graft.operators.Crawl.encodeArchive(seg0))
      val got = scala.collection.mutable.Map
        .empty[Long, Set[(Long, String, String, Long, Long)]]
      val query = StreamOps.crawlPrepareStream(spark, in.toString,
        labeled, gate, policy, evalDocs, urlIdx, sigIdx, subIdx,
        Seq.empty[String].toDF("canon_url"),
        Seq.empty[(Long, Array[Long])].toDF("doc_id", "sig"),
        Seq.empty[String].toDF("h"), ckpt) { (batch, id) =>
        got(id) = batch
          .select("doc_id", "url", "lang", "n_tokens", "n_removed")
          .collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2),
            r.getLong(3), r.getLong(4))).toSet
      }
      try {
        query.processAllAvailable()
        java.nio.file.Files.write(in.resolve("part1.garc"),
          graft.operators.Crawl.encodeArchive(seg1))
        query.processAllAvailable()
      } finally query.stop()
      val streamed = got.values.flatten.toSet
      // the batch composition over the same segments, in the STREAM's
      // stage order: URL keepers over ALL records at once, the domain
      // gate, extraction, routing on RAW text (the registered
      // pipeline_crawl_prepare_langid order), scrub, the same content
      // gate, batch keep-min near-dup, the static-plane decon flag,
      // then the batch incremental substr over the union (empty old
      // side) — equal for doc_id-ordered batches
      val recs = graft.operators.Crawl
        .parseArchives(spark, s"$in/*.garc")
      val hostGated = graft.operators.Crawl.domainGate(
        graft.operators.Crawl.urlKeeperRecords(recs), "url", policy)
      val raw = graft.operators.Crawl.extractText(hostGated)
        .localCheckpoint()
      val routed = graft.operators.NbLangid
        .route(labeled, raw.select("doc_id", "text"))
      val docs = graft.operators.TextAnalysis.scrubbed(raw)
      val gated = gate(docs.join(routed, Seq("doc_id"))
        .select(col("doc_id"), col("url"),
          col("pred").as("lang"), col("text")))
      val ndLosers = graft.operators.Dedup
        .minhashPairs(gated.select("doc_id", "text"))
        .select(col("doc_b").as("doc_id")).distinct()
      val deduped = gated.join(ndLosers, Seq("doc_id"), "left_anti")
      val plane = graft.operators.TextAnalysis.deconPlane(evalDocs)
      val flagged = graft.operators.TextAnalysis
        .deconFlagged(deduped.select("doc_id", "text"), plane)
      val train = deduped.join(flagged, Seq("doc_id"), "left_anti")
      val cleaned = graft.operators.Dedup.exactSubstrIncremental(
        train.select("doc_id", "text"),
        Seq.empty[(Long, String)].toDF("doc_id", "text"))
      val batchOut = train.select("doc_id", "url", "lang")
        .join(cleaned, Seq("doc_id"))
        .select("doc_id", "url", "lang", "n_tokens", "n_removed")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(streamed == batchOut,
        s"stream/batch prepare diverged:\n$streamed\nvs\n$batchOut")
      // the engineered casualties really happened, stage by stage
      val ids = streamed.map(_._1)
      assert(!ids.contains(101L) && !ids.contains(200L),
        s"in-batch AND cross-batch URL respellings must drop: $ids")
      assert(!ids.contains(103L), s"the gate casualty must drop: $ids")
      assert(!ids.contains(203L) && !ids.contains(205L),
        s"the blocked host AND the blocked-domain subdomain must drop " +
          s"at the domain gate: $ids")
      assert(ids.contains(204L),
        s"the allowlisted host must beat both block lists: $ids")
      assert(ids.contains(110L) && !ids.contains(210L),
        s"the cross-batch near-copy must drop via the DURABLE signature " +
          s"index (first sighting survives): $ids")
      assert(!ids.contains(211L),
        s"the contaminated doc arriving in a later batch must drop via " +
          s"the static decon plane: $ids")
      val byId = streamed.map(t => t._1 -> t).toMap
      assert(byId(100L)._3 == "aa" && byId(201L)._3 == "aa" &&
        byId(102L)._3 == "bb" && byId(202L)._3 == "bb" &&
        byId(204L)._3 == "bb",
        s"the static router must label every kept doc: $streamed")
      assert(byId(100L)._5 == 0L,
        s"spanS's first occurrence must survive: ${byId(100L)}")
      assert(byId(201L)._5 >= 50L,
        s"the cross-batch spanS copy must be cleaned via the DURABLE " +
          s"substr index: ${byId(201L)}")
    }
  }

  test("ivfIngestStreamDurable + ivfQueryIndex (r16): continuously " +
      "ingested embeddings are ANN-queryable — the query equals the " +
      "batch IVF over the accumulated corpus, the postings index " +
      "survives a hard restart, and the query reads ONLY the probed " +
      "cells' bucket subdirs") {
    import org.apache.spark.sql.types._
    withTempDir("graft_ivf_stream") { d =>
      val root = java.nio.file.Path.of(d)
      val in = java.nio.file.Files.createDirectory(root.resolve("in"))
      val idx = root.resolve("idx").toString
      val ckpt = root.resolve("ckpt").toString
      val dim = 8
      // four well-separated direction clusters on orthogonal axes; the
      // static centroid matrix IS those directions (trained-once epoch)
      val cents: Seq[Seq[Double]] = (0 until 4).map(c =>
        (0 until dim).map(d => if (d == c) 1.0 else 0.0))
      def vec(id: Long): Array[Float] = {
        val c = (id % 4).toInt
        val arr = Array.fill(dim)(0.0f)
        arr(c) = 1.0f
        arr(c + 4) = 0.01f * (id % 7) // deterministic within-cluster spread
        arr
      }
      val schema = StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType))))
      def writeBatch(name: String, ids: Range): Unit =
        ids.map(i => (i.toLong, vec(i.toLong)))
          .toDF("vec_id", "embedding").coalesce(1)
          .write.mode("overwrite").parquet(in.resolve(name).toString)
      val emptyInit = Seq.empty[(Long, Array[Float])]
        .toDF("vec_id", "embedding")
      val seen = scala.collection.mutable.Map.empty[Long, Long]
      def startQ() = StreamOps.ivfIngestStreamDurable(
        spark.readStream.schema(schema)
          .option("pathGlobFilter", "*.parquet")
          .option("recursiveFileLookup", "true")
          .parquet(in.toString),
        idx, cents, emptyInit, ckpt, compactEvery = 2) {
        (postings, id) => seen(id) = postings.count()
      }
      writeBatch("b0", 0 until 10)
      writeBatch("b1", 10 until 20)
      val q1 = startQ()
      try q1.processAllAvailable() finally q1.stop()
      // HARD RESTART; a third batch arrives only after the stop
      writeBatch("b2", 20 until 30)
      val q2 = startQ()
      try q2.processAllAvailable() finally q2.stop()
      assert(seen.values.sum == 30L, s"$seen")
      // ANN query: fresh ids (nothing to self-exclude), one per cluster
      val queries = Seq((1000L, vec(1000L)), (1001L, vec(1001L)))
        .toDF("vec_id", "embedding")
      val got = StreamOps.ivfQueryIndex(idx, cents, queries, k = 3,
        nprobe = 2, emptyInit, spark)
      val corpus = (0 until 30).map(i => (i.toLong, vec(i.toLong)))
        .toDF("vec_id", "embedding")
      val want = graft.operators.Similarity
        .ivfTopKTrained(cents, queries, corpus, k = 3, nprobe = 2)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getDouble(3))).toSeq
      assert(rows(got) == rows(want),
        s"streamed-index ANN diverged from the batch IVF:\n" +
          s"${rows(got)}\nvs\n${rows(want)}")
      // THE pruning pin: nprobe=2 of 4 populated cells — the query's
      // scan reads a strict subset of the postings files, all of them
      // in probed-cell buckets
      val allFiles = StreamOps.readIndexState(s"$idx/postings",
        graft.operators.Similarity.ivfPostings(cents, emptyInit),
        spark).inputFiles.toSet
      val gotFiles = got.inputFiles.toSet
      assert(gotFiles.nonEmpty && gotFiles.subsetOf(allFiles) &&
        gotFiles.size < allFiles.size,
        s"query must prune postings files: ${gotFiles.size} of " +
          s"${allFiles.size}")
      // and a duplicate-ingest attempt trips the monotone-id contract
      writeBatch("b3", 25 until 35)
      val q3 = startQ()
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        try q3.processAllAvailable() finally q3.stop()
      }
      assert(err.getMessage.contains("ordering contract") ||
        Option(err.getCause).exists(_.getMessage.contains("ordering contract")),
        s"re-ingesting ids below the index max must fail loudly: $err")
    }
  }

  test("VERSIONED URL dedup (r17 tombstones): a retracted URL's " +
      "recrawl is FIRST SIGHT — including a same-batch " +
      "retract+recrawl and a retraction whose upsert was folded " +
      "through a base — respellings of live URLs keep dropping, and " +
      "the base fold DISCARDS resolved tombstones") {
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_urlvers") { d =>
      val root = java.nio.file.Path.of(d)
      val idxDir = root.resolve("idx").toString
      val ckpt = root.resolve("ckpt").toString
      val src = MemoryStream[(String, Long, String, String)]
      val got = scala.collection.mutable.Map.empty[Long, Set[Long]]
      val query = StreamOps.incrementalUrlDedupStreamVersioned(
        src.toDF().toDF("op", "doc_id", "url", "html"), idxDir,
        Seq("https://old.example.org/seeded").toDF("canon_url"), ckpt,
        compactEvery = 2) { (batch, id) =>
        got(id) = batch.select("doc_id").as[Long].collect().toSet
      }
      def drive(rows: (String, Long, String, String)*): Unit = {
        src.addData(rows: _*)
        query.processAllAvailable()
      }
      val P = "https://a.example.org/p"
      val Q = "https://a.example.org/q"
      try {
        drive(("crawl", 10L, P, "<p>p</p>"), ("crawl", 11L, Q, "<p>q</p>"))
        drive(("crawl", 20L, s"$P?utm_source=x", "<p>p again</p>"),
          ("crawl", 21L, "https://old.example.org/seeded", "<p>s</p>"))
        // same-batch retract + recrawl: the page is unseen to its own batch
        drive(("retract", 0L, P, ""), ("crawl", 30L, P, "<p>p v2</p>"))
        // p is live again (30): a respelling drops; filler keeps folds coming
        drive(("crawl", 40L, s"HTTPS://A.EXAMPLE.ORG:443/p", "<p>x</p>"),
          ("crawl", 41L, "https://f3.example.org/f", "<p>f</p>"))
        drive(("retract", 0L, Q, ""))
        drive(("crawl", 51L, "https://f5.example.org/f", "<p>f</p>"))
        drive(("crawl", 61L, "https://f6.example.org/f", "<p>f</p>"))
        // q's original upsert was folded into base_3; its tombstone (b4)
        // must still kill it — and the recrawl is first sight
        drive(("crawl", 70L, Q, "<p>q v2</p>"),
          ("crawl", 71L, "https://f7.example.org/f", "<p>f</p>"))
        // q live again from 70: the respelling drops
        drive(("crawl", 80L, s"$Q#frag", "<p>y</p>"))
      } finally query.stop()
      assert(got(0L) == Set(10L, 11L), s"${got(0L)}")
      assert(got(1L) == Set.empty[Long],
        s"respelling + seeded URL must both drop: ${got(1L)}")
      assert(got(2L) == Set(30L),
        s"same-batch retract+recrawl is first sight: ${got(2L)}")
      assert(got(3L) == Set(41L),
        s"p is live again — its respelling drops: ${got(3L)}")
      assert(got(4L) == Set.empty[Long])
      assert(got(7L) == Set(70L, 71L),
        s"the base-folded-then-retracted URL must be first sight: " +
          s"${got(7L)}")
      assert(got(8L) == Set.empty[Long],
        s"q is live again — its respelling drops: ${got(8L)}")
      // folds actually happened (compactEvery=2 → bases at 3 and 7;
      // base_7's reap removed the seed base_-1 — one fold cycle behind)
      val bases = StreamOpsSpecHelpers.committedDirs(idxDir, "base_")
      assert(bases.keySet == Set(3L, 7L), s"${bases.keySet}")
      // ...and the newest base discarded every resolved tombstone while
      // keeping live history (tombstones leave the index at full folds)
      val base7 = spark.read.parquet(bases(7L).getAbsolutePath)
      assert(base7.where(org.apache.spark.sql.functions
        .col(DeltaIndex.OpCol) === "d").count() == 0L,
        "the base fold must discard resolved tombstones")
      assert(base7.where(org.apache.spark.sql.functions
        .col("canon_url") === P).count() == 1L,
        "exactly one live version of a retracted-then-recrawled URL")
    }
  }

  test("VERSIONED IVF (r17 tombstones): a tombstoned vector never " +
      "ranks — before and after base folds — a re-ingested vec_id " +
      "ranks with its NEWEST embedding (update = delete + upsert, " +
      "same-batch included), and every query equals the batch IVF " +
      "over the live corpus") {
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_ivfvers") { d =>
      val root = java.nio.file.Path.of(d)
      val idx = root.resolve("idx").toString
      val ckpt = root.resolve("ckpt").toString
      val dim = 8
      val cents: Seq[Seq[Double]] = (0 until 4).map(c =>
        (0 until dim).map(d => if (d == c) 1.0 else 0.0))
      def vecIn(cluster: Int, wobble: Int): Array[Float] = {
        val arr = Array.fill(dim)(0.0f)
        arr(cluster) = 1.0f
        arr(cluster + 4) = 0.01f * wobble
        arr
      }
      def vec(id: Long): Array[Float] = vecIn((id % 4).toInt, (id % 7).toInt)
      val emptyInit = Seq.empty[(Long, Array[Float])]
        .toDF("vec_id", "embedding")
      val src = MemoryStream[(String, Long, Array[Float])]
      val query = StreamOps.ivfIngestStreamVersioned(
        src.toDF().toDF("op", "vec_id", "embedding"), idx, cents,
        emptyInit, ckpt, compactEvery = 2) { (_, _) => () }
      def drive(rows: (String, Long, Array[Float])*): Unit = {
        src.addData(rows: _*)
        query.processAllAvailable()
      }
      val queries = Seq((1000L, vec(1000L)), (1001L, vec(1001L)),
        (1002L, vec(1002L)), (1003L, vec(1003L)))
        .toDF("vec_id", "embedding")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getDouble(3))).toSeq
      def assertLive(live: Map[Long, Array[Float]], hint: String): Unit = {
        val corpus = live.toSeq.sortBy(_._1).toDF("vec_id", "embedding")
        assert(rows(StreamOps.ivfQueryIndexVersioned(idx, cents,
            queries, k = 3, nprobe = 2, emptyInit, spark)) ==
          rows(graft.operators.Similarity.ivfTopKTrained(cents, queries,
            corpus, k = 3, nprobe = 2)), hint)
      }
      val live = scala.collection.mutable.Map.empty[Long, Array[Float]]
      try {
        drive((0L until 10L).map(i =>
          ("u", i, { live(i) = vec(i); vec(i) })): _*)
        // takedown of vec 3 (tombstone carries the indexed embedding)
        drive(("d", 3L, vec(3L)))
        live.remove(3L)
        assertLive(live.toMap, "a tombstoned vector must never rank")
        // re-ingest vec 3 in a DIFFERENT cluster (old version already
        // tombstoned — the update contract)
        drive(("u", 3L, vecIn(1, 5)))
        live(3L) = vecIn(1, 5)
        assertLive(live.toMap,
          "a re-ingested vec_id must rank with its newest embedding")
        // same-batch update of vec 5: delete old + upsert new
        drive(("d", 5L, vec(5L)), ("u", 5L, vecIn(2, 6)))
        live(5L) = vecIn(2, 6)
        assertLive(live.toMap, "same-batch delete+upsert = update")
        // push the chain through base folds (compactEvery=2) and
        // re-assert — resolution must survive fold + reap cycles
        for (b <- 0 until 5) {
          val ids = (100L + b * 10L) until (100L + b * 10L + 3L)
          drive(ids.map(i => ("u", i, { live(i) = vec(i); vec(i) })): _*)
        }
        assertLive(live.toMap,
          "tombstone semantics must survive base folds and reaps")
        assert(StreamOpsSpecHelpers
          .committedDirs(s"$idx/postings", "base_").keySet.size >= 2,
          "the drive must actually have crossed a base fold")
      } finally query.stop()
    }
  }

  test("ivfMigrateIndex (r17): ingest under epoch-1 centroids, " +
      "migrate, and the epoch-2 query equals the batch IVF with " +
      "epoch-2 centroids over the same corpus; the old chain stays " +
      "queryable under its own centroids, continued ingestion under " +
      "the new epoch carries the monotone-id contract, and a second " +
      "migration into the same target fails loudly") {
    import org.apache.spark.sql.types._
    withTempDir("graft_ivf_mig") { d =>
      val root = java.nio.file.Path.of(d)
      val in = java.nio.file.Files.createDirectory(root.resolve("in"))
      val in2 = java.nio.file.Files.createDirectory(root.resolve("in2"))
      val idx1 = root.resolve("idx1").toString
      val idx2 = root.resolve("idx2").toString
      val dim = 8
      val cents1: Seq[Seq[Double]] = (0 until 4).map(c =>
        (0 until dim).map(d => if (d == c) 1.0 else 0.0))
      // epoch 2: the SAME directions in reversed order — every vector's
      // cell id changes, so a migration that failed to re-assign would
      // join queries against the wrong cells and diverge from batch IVF
      val cents2 = cents1.reverse
      def vec(id: Long): Array[Float] = {
        val c = (id % 4).toInt
        val arr = Array.fill(dim)(0.0f)
        arr(c) = 1.0f
        arr(c + 4) = 0.01f * (id % 7)
        arr
      }
      val schema = StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType))))
      def writeBatch(dir: java.nio.file.Path, name: String,
          ids: Range): Unit =
        ids.map(i => (i.toLong, vec(i.toLong)))
          .toDF("vec_id", "embedding").coalesce(1)
          .write.mode("overwrite").parquet(dir.resolve(name).toString)
      val emptyInit = Seq.empty[(Long, Array[Float])]
        .toDF("vec_id", "embedding")
      def startIngest(dir: java.nio.file.Path, idx: String,
          cents: Seq[Seq[Double]], ckpt: String) =
        StreamOps.ivfIngestStreamDurable(
          spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(dir.toString),
          idx, cents, emptyInit, ckpt, compactEvery = 2) { (_, _) => () }
      writeBatch(in, "b0", 0 until 10)
      writeBatch(in, "b1", 10 until 20)
      val q1 = startIngest(in, idx1, cents1, root.resolve("c1").toString)
      try q1.processAllAvailable() finally q1.stop()
      // MIGRATE: epoch-1 postings re-assigned under epoch-2 centroids
      StreamOps.ivfMigrateIndex(idx1, cents2, idx2, spark)
      val queries = Seq((1000L, vec(1000L)), (1001L, vec(1001L)))
        .toDF("vec_id", "embedding")
      val corpus20 = (0 until 20).map(i => (i.toLong, vec(i.toLong)))
        .toDF("vec_id", "embedding")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getDouble(3))).toSeq
      assert(rows(StreamOps.ivfQueryIndex(idx2, cents2, queries, k = 3,
          nprobe = 2, emptyInit, spark)) ==
        rows(graft.operators.Similarity.ivfTopKTrained(cents2, queries,
          corpus20, k = 3, nprobe = 2)),
        "the migrated index must equal the batch IVF under epoch-2 " +
          "centroids")
      // the old chain is untouched and queryable under ITS centroids
      assert(rows(StreamOps.ivfQueryIndex(idx1, cents1, queries, k = 3,
          nprobe = 2, emptyInit, spark)) ==
        rows(graft.operators.Similarity.ivfTopKTrained(cents1, queries,
          corpus20, k = 3, nprobe = 2)),
        "the old epoch must stay queryable until cutover")
      // continued ingestion under the NEW epoch: fresh ids pass and
      // become queryable...
      writeBatch(in2, "b2", 20 until 30)
      val q2 = startIngest(in2, idx2, cents2,
        root.resolve("c2").toString)
      try q2.processAllAvailable() finally q2.stop()
      val corpus30 = (0 until 30).map(i => (i.toLong, vec(i.toLong)))
        .toDF("vec_id", "embedding")
      assert(rows(StreamOps.ivfQueryIndex(idx2, cents2, queries, k = 3,
          nprobe = 2, emptyInit, spark)) ==
        rows(graft.operators.Similarity.ivfTopKTrained(cents2, queries,
          corpus30, k = 3, nprobe = 2)))
      // ...and a re-ingest BELOW the carried-over max id trips the
      // monotone contract the migration seeded
      writeBatch(in2, "b3", 25 until 35)
      val q3 = startIngest(in2, idx2, cents2,
        root.resolve("c2").toString)
      val err = intercept[
          org.apache.spark.sql.streaming.StreamingQueryException] {
        try q3.processAllAvailable() finally q3.stop()
      }
      assert(err.getMessage.contains("ordering contract") ||
        Option(err.getCause).exists(
          _.getMessage.contains("ordering contract")), s"$err")
      // a migration never overwrites an existing index
      val err2 = intercept[IllegalArgumentException] {
        StreamOps.ivfMigrateIndex(idx1, cents2, idx2, spark)
      }
      assert(err2.getMessage.contains("never overwrites"))
      // and a query against a missing/never-ingested index dir fails
      // loudly instead of returning silently-empty results (r17)
      val err3 = intercept[IllegalArgumentException] {
        StreamOps.ivfQueryIndex(root.resolve("nope").toString, cents2,
          queries, k = 3, nprobe = 2, emptyInit, spark)
      }
      assert(err3.getMessage.contains("no committed postings chain"))
    }
  }

  test("incrementalUrlDedupStreamDurable: respellings of URLs seen in " +
      "EARLIER batches drop (first-crawled-wins across batches), " +
      "within-batch spellings collapse to one keeper, fresh pages " +
      "pass") {
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_urlseen") { d =>
      val root = java.nio.file.Path.of(d)
      val idxDir = root.resolve("idx").toString
      val ckpt = root.resolve("ckpt").toString
      val src = MemoryStream[(Long, String, String)]
      val got = scala.collection.mutable.Map
        .empty[Long, Set[(Long, String, String)]]
      val query = StreamOps.incrementalUrlDedupStreamDurable(
        src.toDF().toDF("doc_id", "url", "html"),
        idxDir,
        Seq("https://old.example.org/seeded").toDF("canon_url"), ckpt) {
        (batch, id) =>
          got(id) = batch.select("doc_id", "url", "canon_url")
            .collect()
            .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      }
      try {
        src.addData(
          (10L, "https://a.example.org/p", "<p>page p</p>"),
          (11L, "https://a.example.org/p?utm_source=x", "<p>page p</p>"),
          (12L, "https://old.example.org/seeded#frag", "<p>seeded</p>"))
        query.processAllAvailable()
        src.addData(
          (20L, "HTTPS://A.Example.ORG:443/p", "<p>page p again</p>"),
          (21L, "https://a.example.org/q", "<p>fresh page q</p>"))
        query.processAllAvailable()
        assert(got(0L) == Set((10L, "https://a.example.org/p",
          "https://a.example.org/p")),
          s"batch 0: keeper 10 only (11 respells it, 12 is pre-seeded): " +
            s"${got(0L)}")
        assert(got(1L) == Set((21L, "https://a.example.org/q",
          "https://a.example.org/q")),
          s"batch 1: 20 respells a batch-0 page, only 21 is fresh: " +
            s"${got(1L)}")
        // the persisted seen-set is the union of seed + both batches —
        // read through the consumer-facing accumulated-state API (the
        // delta layout: seed rides the fallback, batches ride deltas)
        val seen = StreamOps.readIndexState(idxDir,
            Seq("https://old.example.org/seeded").toDF("canon_url"), spark)
          .as[String].collect().toSet
        assert(seen == Set("https://old.example.org/seeded",
          "https://a.example.org/p", "https://a.example.org/q"))
      } finally query.stop()
    }
  }

  test("ivfMigrateIndex on a VERSIONED chain (r18): live rows " +
      "resolve latest-wins before re-assignment — a tombstoned " +
      "vector stays gone across the epoch migration, a superseded " +
      "generation does not resurrect, the new chain seeds VERSIONED " +
      "so continued ingest keeps retraction, a same-batch duplicate " +
      "upsert trips the seq-uniqueness check, and version-mismatched " +
      "consumers fail loudly at the door") {
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_migv") { d =>
      val root = java.nio.file.Path.of(d)
      val idx1 = root.resolve("idx1").toString
      val idx2 = root.resolve("idx2").toString
      val dim = 8
      val cents1: Seq[Seq[Double]] = (0 until 4).map(c =>
        (0 until dim).map(d => if (d == c) 1.0 else 0.0))
      val cents2 = cents1.reverse
      def vecIn(cluster: Int, wobble: Int): Array[Float] = {
        val arr = Array.fill(dim)(0.0f)
        arr(cluster) = 1.0f
        arr(cluster + 4) = 0.01f * wobble
        arr
      }
      def vec(id: Long): Array[Float] =
        vecIn((id % 4).toInt, (id % 7).toInt)
      val emptyInit = Seq.empty[(Long, Array[Float])]
        .toDF("vec_id", "embedding")
      val live = scala.collection.mutable.Map.empty[Long, Array[Float]]
      val src = MemoryStream[(String, Long, Array[Float])]
      val q1 = StreamOps.ivfIngestStreamVersioned(
        src.toDF().toDF("op", "vec_id", "embedding"), idx1, cents1,
        emptyInit, root.resolve("c1").toString) { (_, _) => () }
      try {
        src.addData((0L until 10L).map(i =>
          ("u", i, { live(i) = vec(i); vec(i) })): _*)
        q1.processAllAvailable()
        src.addData(("d", 3L, vec(3L))) // takedown
        q1.processAllAvailable()
        live.remove(3L)
        src.addData(("d", 5L, vec(5L)), ("u", 5L, vecIn(2, 6))) // update
        q1.processAllAvailable()
        live(5L) = vecIn(2, 6)
      } finally q1.stop()
      StreamOps.ivfMigrateIndex(idx1, cents2, idx2, spark)
      val queries = Seq((1000L, vec(1000L)), (1001L, vec(1001L)),
        (1002L, vec(1002L)), (1003L, vec(1003L)))
        .toDF("vec_id", "embedding")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getDouble(3))).toSeq
      def assertLive(hint: String): Unit = {
        val corpus = live.toSeq.sortBy(_._1).toDF("vec_id", "embedding")
        val got = rows(StreamOps.ivfQueryIndexVersioned(idx2, cents2,
          queries, k = 3, nprobe = 2, emptyInit, spark))
        assert(got == rows(graft.operators.Similarity.ivfTopKTrained(
          cents2, queries, corpus, k = 3, nprobe = 2)), hint)
        assert(!got.exists(_._2 == 3L),
          s"the tombstoned vector must never rank after migration: $got")
      }
      assertLive("the migrated epoch must equal the batch IVF over " +
        "the LIVE corpus only")
      // continued VERSIONED ingest into the migrated chain: a takedown
      // of a MIGRATED vector and fresh rows both work
      val src2 = MemoryStream[(String, Long, Array[Float])]
      val q2 = StreamOps.ivfIngestStreamVersioned(
        src2.toDF().toDF("op", "vec_id", "embedding"), idx2, cents2,
        emptyInit, root.resolve("c2").toString) { (_, _) => () }
      try {
        src2.addData(("u", 100L, { live(100L) = vec(100L); vec(100L) }),
          ("d", 7L, vec(7L)))
        q2.processAllAvailable()
        live.remove(7L)
        assertLive("retraction must keep working in the migrated epoch")
        // seq-uniqueness (r18): duplicate same-batch upserts of one
        // vec_id would share a __seq stamp — loud failure, not
        // nondeterministic resolution
        src2.addData(("u", 200L, vec(200L)), ("u", 200L, vecIn(1, 2)))
        val err = intercept[
            org.apache.spark.sql.streaming.StreamingQueryException] {
          q2.processAllAvailable()
        }
        assert(err.getMessage.contains("duplicate upserts") ||
          Option(err.getCause).exists(
            _.getMessage.contains("duplicate upserts")), s"$err")
      } finally q2.stop()
      // version-mismatch guards: unversioned consumers refuse the
      // versioned chain at the door...
      val errQ = intercept[IllegalArgumentException] {
        StreamOps.ivfQueryIndex(idx2, cents2, queries, k = 3,
          nprobe = 2, emptyInit, spark)
      }
      assert(errQ.getMessage.contains("VERSIONED"), s"$errQ")
      val src3 = MemoryStream[(Long, Array[Float])]
      val errI = intercept[IllegalArgumentException] {
        StreamOps.ivfIngestStreamDurable(
          src3.toDF().toDF("vec_id", "embedding"), idx2, cents2,
          emptyInit, root.resolve("c3").toString) { (_, _) => () }
      }
      assert(errI.getMessage.contains("VERSIONED"), s"$errI")
      // ...and the versioned query refuses an UNVERSIONED chain
      val idx3 = root.resolve("idx3").toString
      DeltaIndex.seed(graft.operators.Similarity.ivfPostings(cents2,
          live.toSeq.sortBy(_._1).toDF("vec_id", "embedding")),
        s"$idx3/postings",
        Some(Bucketing(DeltaIndex.NumBuckets, Seq("cell"))))
      val errV = intercept[IllegalArgumentException] {
        StreamOps.ivfQueryIndexVersioned(idx3, cents2, queries, k = 3,
          nprobe = 2, emptyInit, spark)
      }
      assert(errV.getMessage.contains("UNVERSIONED"), s"$errV")
    }
  }

  test("VERSIONED image dedup (r18 tombstones): a retracted image " +
      "stops witnessing — its near-copy is FIRST SIGHT — a " +
      "same-batch retract+reingest is first sight, live signatures " +
      "keep suppressing with the LIVE witness as keeper, semantics " +
      "survive base folds, and the base parquet discards resolved " +
      "tombstones and dead docs") {
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_imgv") { d =>
      val root = java.nio.file.Path.of(d)
      val idx = root.resolve("idx").toString
      val ckpt = root.resolve("ckpt").toString
      // well-separated signature families (pairwise hamming >> 3)
      val A = 0L
      val B = 0x00FF00FF00FF00FFL
      val C = 0x0F0F0F0F0F0F0F0FL
      val emptyInit = Seq.empty[(Long, Long, Long)]
        .toDF("doc_id", "lo", "hi")
      val src = MemoryStream[(String, Long, Long, Long)]
      val got = scala.collection.mutable
        .Map.empty[Long, Set[(Long, Long, Int)]]
      val query = StreamOps.incrementalImageDedupStreamVersioned(
        src.toDF().toDF("op", "doc_id", "lo", "hi"), idx, emptyInit,
        ckpt, compactEvery = 2) { (batch, id) =>
        got(id) = batch.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      }
      def drive(rows: (String, Long, Long, Long)*): Unit = {
        src.addData(rows: _*)
        query.processAllAvailable()
      }
      try {
        drive(("u", 10L, A, 0L), ("u", 11L, B, 0L), ("u", 12L, C, 0L))
        // near-copy of C drops while C lives (keeper = 12)
        drive(("u", 20L, C ^ 1L, 0L))
        // takedown of image 10 (tombstone carries the indexed sig)
        drive(("d", 10L, A, 0L))
        // near-copy of the RETRACTED image is first sight
        drive(("u", 30L, A ^ 1L, 0L))
        // same-batch retract(11) + near-copy of B under a fresh id:
        // first sight within its own batch
        drive(("d", 11L, B, 0L), ("u", 40L, B ^ 1L, 0L))
        // filler pushes the chain through folds
        drive(("u", 50L, 0x5555555555555555L, 0L))
        // post-retraction probe across the fold: A'' matches the LIVE
        // first-sighted 30, B''' matches the LIVE 40 — never the dead
        // 10/11
        drive(("u", 60L, A ^ 2L, 0L), ("u", 61L, B ^ 2L, 0L))
      } finally query.stop()
      assert(got(0L) == Set.empty[(Long, Long, Int)])
      assert(got(1L) == Set((20L, 12L, 1)),
        s"live sig must suppress its near-copy: ${got(1L)}")
      assert(got(2L) == Set.empty[(Long, Long, Int)])
      assert(got(3L) == Set.empty[(Long, Long, Int)],
        s"a near-copy of the RETRACTED image must be first sight: " +
          s"${got(3L)}")
      assert(got(4L) == Set.empty[(Long, Long, Int)],
        s"same-batch retract+reingest must be first sight: ${got(4L)}")
      assert(got(5L) == Set.empty[(Long, Long, Int)])
      assert(got(6L) == Set((60L, 30L, 2), (61L, 40L, 2)),
        s"the LIVE witnesses (30, 40) must be the keepers — the " +
          s"retracted 10/11 must not suppress: ${got(6L)}")
      // base folds actually happened, and the newest sigs base is
      // tombstone-free with the dead docs physically gone
      val bases = StreamOpsSpecHelpers
        .committedDirs(s"$idx/sigs", "base_")
      val real = bases.keySet.filter(_ >= 0)
      assert(real.nonEmpty, s"the drive must cross a base fold: " +
        s"${bases.keySet}")
      val newest = spark.read.parquet(bases(real.max).getAbsolutePath)
      assert(newest.where(col(DeltaIndex.OpCol) === "d").count() == 0L,
        "the base fold must discard resolved tombstones")
      assert(newest.where(col("doc_id") === 10L).count() == 0L,
        "the retracted doc's sig rows must leave the index at the fold")
    }
  }

  test("VERSIONED near-dup dedup (r18 tombstones): a retracted " +
      "text's MinHash state leaves the index — its near-copy is " +
      "FIRST SIGHT, a same-batch retract(all contributors)+reingest " +
      "is first sight, live texts keep suppressing with the live " +
      "witness as keeper, and the base folds discard dead sig and " +
      "band rows") {
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_ndv") { d =>
      val root = java.nio.file.Path.of(d)
      val idx = root.resolve("idx").toString
      val ckpt = root.resolve("ckpt").toString
      def toks(p: String, n: Int): String =
        (1 to n).map(i => s"$p$i").mkString(" ")
      val textA = toks("aa", 60)
      val textB = toks("bb", 60)
      def near(t: String, tag: String): String =
        t.split(" ").dropRight(1).mkString(" ") + s" $tag"
      val emptySigs = graft.operators.Dedup.minhashSignatures(
        Seq.empty[(Long, String)].toDF("doc_id", "text"))
      val src = MemoryStream[(String, Long, String)]
      val got = scala.collection.mutable
        .Map.empty[Long, Set[(Long, Long)]]
      val query = StreamOps.incrementalNearDupStreamVersioned(
        src.toDF().toDF("op", "doc_id", "text"), idx, emptySigs,
        ckpt, compactEvery = 2) { (batch, id) =>
        got(id) = batch.collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      def drive(rows: (String, Long, String)*): Unit = {
        src.addData(rows: _*)
        query.processAllAvailable()
      }
      try {
        drive(("ingest", 10L, textA), ("ingest", 11L, textB))
        // near-copy of B while B lives: suppressed, keeper 11
        drive(("ingest", 20L, near(textB, "zz")))
        // takedown of A (the retraction carries the indexed text)
        drive(("retract", 10L, textA))
        // near-copy of the RETRACTED text: first sight
        drive(("ingest", 30L, near(textA, "yy")))
        // same-batch retract of BOTH B-family contributors (11 and the
        // accumulated 20) + a fresh near-copy: first sight in-batch
        drive(("retract", 11L, textB),
          ("retract", 20L, near(textB, "zz")),
          ("ingest", 40L, near(textB, "ww")))
        // filler pushes folds
        drive(("ingest", 50L, toks("cc", 60)))
        // post-retraction probe: A-near matches the LIVE 30, not 10
        drive(("ingest", 60L, near(textA, "xx")))
      } finally query.stop()
      assert(got(0L) == Set.empty[(Long, Long)])
      assert(got(1L) == Set((20L, 11L)),
        s"live text must suppress its near-copy: ${got(1L)}")
      assert(got(2L) == Set.empty[(Long, Long)])
      assert(got(3L) == Set.empty[(Long, Long)],
        s"a near-copy of the RETRACTED text must be first sight: " +
          s"${got(3L)}")
      assert(got(4L) == Set.empty[(Long, Long)],
        s"same-batch retract-all+reingest must be first sight: " +
          s"${got(4L)}")
      assert(got(5L) == Set.empty[(Long, Long)])
      assert(got(6L) == Set((60L, 30L)),
        s"the LIVE witness (30) must be the keeper — not the " +
          s"retracted 10: ${got(6L)}")
      // base folds happened; the newest bands base is tombstone-free
      // and the retracted doc's band rows are physically gone
      val bases = StreamOpsSpecHelpers
        .committedDirs(s"$idx/bands", "base_")
      val real = bases.keySet.filter(_ >= 0)
      assert(real.nonEmpty, s"${bases.keySet}")
      val newest = spark.read.parquet(bases(real.max).getAbsolutePath)
      assert(newest.where(col(DeltaIndex.OpCol) === "d").count() == 0L)
      assert(newest.where(col("doc_id") === 10L).count() == 0L,
        "the retracted doc's band rows must leave the index at the fold")
    }
  }

  test("VERSIONED substr dedup (r18 tombstones, attribution rows): " +
      "a span keeps cleaning while ANY contributing doc lives — " +
      "retracting the origin alone does not un-suppress — and once " +
      "the LAST contributor is retracted (same-batch included) the " +
      "next copy is first sight; the base fold discards dead " +
      "attribution rows; the seeded corpus cleans from batch 0") {
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_subv") { d =>
      val root = java.nio.file.Path.of(d)
      val idx = root.resolve("idx").toString
      val ckpt = root.resolve("ckpt").toString
      def toks(p: String, n: Int): String =
        (1 to n).map(i => s"$p$i").mkString(" ")
      val spanS = toks("s", 50)
      val spanX = toks("x", 55)
      val text10 = s"${toks("a", 10)} $spanS"
      val text20 = s"$spanS ${toks("b", 10)}"
      val text30 = s"$spanS ${toks("c", 5)}"
      val seedDocs = Seq((5L, spanX)).toDF("doc_id", "text")
      val src = MemoryStream[(String, Long, String)]
      val got = scala.collection.mutable.Map.empty[(Long, Long), Long]
      val query = StreamOps.incrementalSubstrStreamVersioned(
        src.toDF().toDF("op", "doc_id", "text"), idx, seedDocs,
        ckpt, compactEvery = 2) { (batch, id) =>
        batch.collect().foreach(r =>
          got((id, r.getLong(0))) = r.getLong(2)) // n_removed
      }
      def drive(rows: (String, Long, String)*): Unit = {
        src.addData(rows: _*)
        query.processAllAvailable()
      }
      try {
        // the SEEDED corpus cleans from batch 0: doc 6 copies spanX
        drive(("ingest", 6L, s"$spanX y1"),
          ("ingest", 10L, text10))
        drive(("ingest", 20L, text20))      // spanS cleaned (10 lives)
        drive(("retract", 10L, text10))     // retract the ORIGIN only
        // 20 still carries the span: a new copy is STILL cleaned (the
        // per-contributor semantics — 30's raw digests also commit)
        drive(("ingest", 30L, text30))
        drive(("retract", 20L, text20))
        // LAST contributor retracted in the same batch as the next
        // copy: first sight
        drive(("retract", 30L, text30),
          ("ingest", 40L, s"$spanS ${toks("d", 5)}"))
      } finally query.stop()
      assert(got((0L, 6L)) == 55L,
        s"the seeded corpus must clean batch 0: ${got((0L, 6L))}")
      assert(got((0L, 10L)) == 0L)
      assert(got((1L, 20L)) == 50L,
        s"spanS must clean while its origin lives: ${got((1L, 20L))}")
      assert(got((3L, 30L)) == 50L,
        "retracting the origin alone must NOT un-suppress while " +
          s"another contributor lives: ${got((3L, 30L))}")
      assert(got((5L, 40L)) == 0L,
        "once every contributor is retracted the next copy is first " +
          s"sight: ${got((5L, 40L))}")
      // the base fold discarded tombstones and doc 10's attribution
      val bases = StreamOpsSpecHelpers.committedDirs(idx, "base_")
      val real = bases.keySet.filter(_ >= 0)
      assert(real.nonEmpty, s"${bases.keySet}")
      val newest = spark.read.parquet(bases(real.max).getAbsolutePath)
      assert(newest.where(col(DeltaIndex.OpCol) === "d").count() == 0L)
      assert(newest.where(col("doc_id") === 10L).count() == 0L,
        "the retracted doc's attribution rows must leave the index " +
          "at the fold")
    }
  }

  test("compactCrawlPrepareIndexes (r18): ONE call compacts all FIVE " +
      "of a LIVE inlineBaseFold=false prepare stream's chains — every " +
      "chain folds at the newest-mid watermark, accumulated state is " +
      "bit-identical before and after, and the stream keeps " +
      "deduplicating (URL + near-dup) against the compacted state") {
    import org.apache.spark.sql.DataFrame
    withTempDir("graft_cmpall") { d =>
      val root = java.nio.file.Path.of(d)
      val in = java.nio.file.Files.createDirectory(root.resolve("in"))
      val urlIdx = root.resolve("uidx").toString
      val sigIdx = root.resolve("gidx").toString
      val subIdx = root.resolve("sidx").toString
      val ckpt = root.resolve("ckpt").toString
      val labeled = (0L until 20L).map { i =>
        val lang = if (i % 2 == 0) "aa" else "bb"
        val t = if (lang == "aa") "red green blue red green blue"
          else "eins zwei drei eins zwei drei"
        (i, lang, t)
      }.toDF("doc_id", "lang", "text")
      def uniq(p: String, n: Int) = (0 until n).map(i =>
        s"$p${('a' + i / 26).toChar}${('a' + i % 26).toChar}")
        .mkString(" ")
      def aa(n: Int) = Seq.fill(n / 3 + 1)("red green blue")
        .mkString(" ").split(" ").take(n).mkString(" ")
      val evalDocs = Seq((9000L, uniq("ev", 40))).toDF("doc_id", "text")
      val policy = graft.operators.Crawl.defaultPolicy(spark)
      val gate: DataFrame => DataFrame = d => d
      def page(id: Long, url: String, body: String) =
        (id, url, graft.operators.Crawl.wrapHtml(id, body))
      // ≥ 50 post-scrub tokens so the substr chain gets real digests
      // (the default window length is 50)
      def body(b: Int) = s"${aa(6)} ${uniq(s"w${('a' + b).toChar}", 60)}"
      def writeSeg(name: String,
          pages: Seq[(Long, String, String)]): Unit =
        java.nio.file.Files.write(in.resolve(name),
          graft.operators.Crawl.encodeArchive(pages))
      val got = scala.collection.mutable.Map.empty[Long, Set[Long]]
      val query = StreamOps.crawlPrepareStream(spark, in.toString,
        labeled, gate, policy, evalDocs, urlIdx, sigIdx, subIdx,
        Seq.empty[String].toDF("canon_url"),
        Seq.empty[(Long, Array[Long])].toDF("doc_id", "sig"),
        Seq.empty[String].toDF("h"), ckpt, compactEvery = 2,
        inlineBaseFold = false) { (batch, id) =>
        got(id) = batch.select("doc_id").as[Long].collect().toSet
      }
      try {
        for (b <- 0 until 6) {
          writeSeg(s"part$b.garc", Seq(
            page(100L + 10 * b, s"https://h$b.example.org/p", body(b))))
          query.processAllAvailable()
        }
        assert((0 until 6).forall(b => got(b.toLong) ==
          Set(100L + 10 * b)), s"$got")
        // inlineBaseFold=false: every chain holds mids {1,3,5}, no
        // real base — the sweep below owns the base tier
        val chains = Seq(urlIdx, s"$sigIdx/sigs", s"$sigIdx/bands",
          s"$sigIdx/maxid", subIdx)
        chains.foreach { c =>
          assert(StreamOpsSpecHelpers.committedDirs(c, "mid_")
            .keySet == Set(1L, 3L, 5L), s"$c mids")
          assert(StreamOpsSpecHelpers.committedDirs(c, "base_")
            .keySet.filter(_ >= 0).isEmpty, s"$c bases before sweep")
        }
        def state(c: String): Set[String] =
          DeltaIndex.readCommitted(c, spark).get.distinct()
            .collect().map(_.toString).toSet
        val before = chains.map(c => c -> state(c)).toMap
        // THE one call, against the LIVE stream
        assert(query.isActive)
        val swept = StreamOps.compactCrawlPrepareIndexes(urlIdx,
          sigIdx, subIdx, spark)
        assert(swept.keySet == Set("url/seen", "neardup/sigs",
          "neardup/bands", "neardup/maxid", "substr/digests"))
        assert(swept.values.forall(_ == Some(5L)),
          s"every chain folds at the newest-mid watermark: $swept")
        chains.foreach { c =>
          assert(StreamOpsSpecHelpers.committedDirs(c, "base_")
            .keySet.contains(5L), s"$c must hold base_5 after sweep")
          assert(state(c) == before(c),
            s"accumulated state must not change at $c")
        }
        // the stream keeps deduplicating against the compacted state:
        // a respelling of the batch-0 URL and a near-copy of the
        // batch-0 body both drop; the fresh page passes
        writeSeg("part6.garc", Seq(
          page(200L, "HTTPS://H0.EXAMPLE.ORG:443/p#frag", body(0)),
          page(201L, "https://h6.example.org/near",
            s"${body(0).split(" ").dropRight(1).mkString(" ")} zz"),
          page(202L, "https://h6.example.org/fresh", body(6))))
        query.processAllAvailable()
        assert(got(6L) == Set(202L),
          s"post-compact: URL respelling + near-copy must drop, the " +
            s"fresh page passes: ${got(6L)}")
      } finally query.stop()
    }
  }
}

/** File helpers for the durable-index assertions. */
object StreamOpsSpecHelpers {
  /** Committed dirs (with _SUCCESS) named `<prefix><j>` under
    * `indexDir`, by batch id. */
  def committedDirs(indexDir: String,
      prefix: String): Map[Long, java.io.File] =
    Option(new java.io.File(indexDir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith(prefix) &&
        new java.io.File(f, "_SUCCESS").exists())
      .map(f => f.getName.stripPrefix(prefix).toLong -> f).toMap

  /** Total parquet payload bytes of a committed state dir
    * (recursive — bucketed dirs nest `__bucket=k` subdirs). */
  def parquetBytes(dir: java.io.File): Long = {
    val entries = Option(dir.listFiles())
      .getOrElse(Array.empty[java.io.File])
    entries.filter(_.isDirectory).map(parquetBytes).sum +
      entries.filter(_.getName.endsWith(".parquet")).map(_.length()).sum
  }
}
