package graft.streaming

import graft.SparkSuite
import graft.streaming.EventStreams._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

class EventStreamsSpec extends SparkSuite {

  private def ts(min: Int): Timestamp = new Timestamp(3600_000L + min * 60_000L)

  private def ev(id: Long, min: Int, uid: Long, typ: String = "view",
      value: Double = 1.0): Event = Event(id, ts(min), uid, typ, value)

  test("hourlyAgg finalizes windows after watermark and drops too-late events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = hourlyAgg(input.toDF())
      .writeStream.format("memory").queryName("hourly_out")
      .outputMode("append").start()
    try {
      // batch 1: two events in hour-window [1:00, 2:00)
      input.addData(ev(1, 5, 1), ev(2, 10, 2))
      q.processAllAvailable()
      // batch 2: event far in the future pushes the watermark past the
      // first window; a late straggler for the first window rides along
      input.addData(ev(3, 200, 3))
      q.processAllAvailable()
      input.addData(ev(4, 6, 4)) // late: watermark is already past 2:10
      q.processAllAvailable()
      val out = spark.table("hourly_out")
        .select(col("hour"), col("n")).collect()
        .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
      // first window finalized with exactly the 2 on-time events
      assert(out(ts(0)) == 2L, s"got $out")
    } finally q.stop()
  }

  test("sessionize closes a session when the same user returns past the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = sessionize(input.toDS(), gapSeconds = 1800)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    try {
      // user 1: events at minute 0,10 then a return at minute 100 (> 30m gap)
      input.addData(ev(1, 0, 1, value = 2.0), ev(2, 10, 1, value = 3.0))
      q.processAllAvailable()
      input.addData(ev(3, 100, 1))
      q.processAllAvailable()
      val sessions = spark.table("sessions_out").as[Session].collect()
      assert(sessions.length == 1)
      val s0 = sessions.head
      assert(s0.user_id == 1 && s0.n_events == 2 && s0.total_value == 5.0)
      assert(s0.session_start == ts(0) && s0.session_end == ts(10))
    } finally q.stop()
  }

  test("sessionize closes idle sessions by event-time timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = sessionize(input.toDS(), gapSeconds = 1800)
      .writeStream.format("memory").queryName("sessions_timeout_out")
      .outputMode("append").start()
    try {
      input.addData(ev(1, 0, 7), ev(2, 5, 7))
      q.processAllAvailable()
      // another user's far-future event advances the watermark beyond
      // user 7's last+gap+watermark-delay: the idle session must close
      input.addData(ev(3, 300, 8))
      q.processAllAvailable()
      input.addData(ev(4, 301, 8)) // one more batch so the timeout fires
      q.processAllAvailable()
      import spark.implicits._
      val sessions = spark.table("sessions_timeout_out").as[Session].collect()
      assert(sessions.exists(s => s.user_id == 7 && s.n_events == 2))
    } finally q.stop()
  }

  test("ev_stream_hourly_users: the HLL estimate meets a TIGHTER bound " +
      "than the gated one (testdata drift fails here first)") {
    // The gate's band is max(ceil(0.15*exact), 8); the estimator's
    // observed envelope on this corpus is half that floor. Asserting
    // the tight envelope here means a corpus regeneration that pushes
    // the estimator toward the gate band breaks a TEST, not the
    // cross-engine gate (the tx_count_min slack discipline).
    val dir = sf("sf0.001")
    val ev = graft.Tables(spark, dir).events
    val approx = ev
      .groupBy(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:00:00").as("hour"), col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("a"),
        count_distinct(col("user_id")).as("e"))
      .collect()
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val (a, e) = (r.getAs[Long]("a"), r.getAs[Long]("e"))
      val tight  = math.max(math.ceil(e * 0.15).toLong, 4L)
      assert(math.abs(a - e) <= tight,
        s"window ${r.getString(0)}/${r.getString(1)}: |$a - $e| > $tight — " +
          "estimator drifted toward the gate band")
    }
  }

  test("asofEnrich matches strictly-earlier views, waits for the " +
      "watermark, and pruning keeps the latest-below-watermark view") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = asofEnrich(input.toDS())
      .writeStream.format("memory").queryName("asof_out")
      .outputMode("append").start()
    try {
      // user 1: purchase arrives BEFORE its matching view in the batch;
      // user 2: view at the same instant as the purchase — strict <
      // means no match, so user 2 must never emit
      input.addData(
        ev(1, 20, 1, typ = "purchase"), ev(2, 10, 1),
        ev(3, 30, 2), ev(4, 30, 2, typ = "purchase"))
      q.processAllAvailable()
      assert(spark.table("asof_out").count() == 0,
        "emitted before the watermark finalized the match")
      // advance the watermark past both purchases; one more batch fires
      // the timeout (the sessionize pattern)
      input.addData(ev(5, 100, 9))
      q.processAllAvailable()
      input.addData(ev(6, 101, 9))
      q.processAllAvailable()
      val got1 = spark.table("asof_out").as[Enriched].collect()
      assert(got1.length == 1, s"got ${got1.toSeq}")
      assert(got1.head.event_id == 1 && got1.head.user_id == 1)
      assert(got1.head.purchase_ts == ts(20) && got1.head.view_ts == ts(10))
      assert(got1.head.gap_us == 10L * 60 * 1000000)
      // pruning losslessness: user 1's views are now pruned to the
      // single latest below the watermark (view@10); a NEW purchase
      // above the watermark must still match it
      input.addData(ev(7, 95, 1, typ = "purchase"))
      q.processAllAvailable()
      input.addData(ev(8, 200, 9))
      q.processAllAvailable()
      input.addData(ev(9, 201, 9))
      q.processAllAvailable()
      val got2 = spark.table("asof_out").as[Enriched].collect()
        .sortBy(_.event_id)
      assert(got2.length == 2, s"got ${got2.toSeq}")
      assert(got2(1).event_id == 7 && got2(1).view_ts == ts(10),
        "pruned state lost the latest-below-watermark view")
    } finally q.stop()
  }

  test("asofEnrich pruning keeps the match of a purchase still pending " +
      "sub-millisecond BELOW the watermark") {
    // The 999 µs corner: ceilMs keeps a purchase pending even though
    // its event time is (just) below the watermark. If a later view in
    // that same millisecond is the max below-watermark view, pruning at
    // the watermark alone would evict the purchase's TRUE earlier match
    // — the prune threshold must be min(watermark, earliest pending).
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def tsUs(us: Long): Timestamp = {
      val t = new Timestamp(Math.floorDiv(us, 1000L))
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }
    val baseUs = ts(20).getTime * 1000L // minute 20, whole ms
    val input  = MemoryStream[Event]
    val q = asofEnrich(input.toDS())
      .writeStream.format("memory").queryName("asof_subms_out")
      .outputMode("append").start()
    try {
      // true match v1 @ minute 10; purchase 300 µs into minute 20's
      // first millisecond; decoy view v2 at 600 µs — same millisecond,
      // after the purchase
      input.addData(
        Event(1, ts(10), 3, "view", 1.0),
        Event(2, tsUs(baseUs + 300), 3, "purchase", 1.0),
        Event(3, tsUs(baseUs + 600), 3, "view", 1.0))
      q.processAllAvailable()
      // drive the watermark to EXACTLY minute-20 ms + 1 ms: the
      // purchase's ceil-ms equals it, so it stays pending while both
      // its own time and v2 sit below the watermark
      input.addData(Event(4, tsUs(baseUs + 1000 + 600L * 1000 * 1000),
        9, "view", 1.0))
      q.processAllAvailable()
      assert(spark.table("asof_subms_out").count() == 0,
        "emitted before the watermark passed the purchase")
      // invoke user 3's group at that watermark so pruning runs NOW
      // (event 5 then advances the watermark further, so the timeout
      // may fire — and emit — within this same processAllAvailable)
      input.addData(Event(5, ts(120), 3, "view", 1.0))
      q.processAllAvailable()
      // push the watermark past the purchase; one more batch fires the
      // timeout (the sessionize pattern)
      input.addData(Event(6, ts(200), 9, "view", 1.0))
      q.processAllAvailable()
      input.addData(Event(7, ts(201), 9, "view", 1.0))
      q.processAllAvailable()
      val got = spark.table("asof_subms_out").as[Enriched].collect()
      assert(got.length == 1, s"got ${got.toSeq}")
      assert(got.head.event_id == 2 && got.head.view_ts == ts(10),
        s"pruning evicted the true as-of match: ${got.head}")
      assert(got.head.gap_us == (baseUs + 300) - ts(10).getTime * 1000L)
    } finally q.stop()
  }

  test("funnel emits a conversion only when the watermark finalizes it, " +
      "exactly once, and never for buy-before-view users") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = funnel(input.toDS())
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    try {
      // user 1 converts (view@5 < buy@20) — with the buy ARRIVING FIRST
      // in the batch; user 2 is buy-before-view and must never emit
      input.addData(
        ev(1, 20, 1, typ = "purchase"), ev(2, 5, 1),
        ev(3, 5, 2, typ = "purchase"), ev(4, 10, 2))
      q.processAllAvailable()
      assert(spark.table("funnel_out").count() == 0,
        "emitted before the watermark proved the verdict")
      // advance the watermark past user 1's first_buy, plus one more
      // batch so the event-time timeout fires (the sessionize pattern)
      input.addData(ev(5, 100, 9))
      q.processAllAvailable()
      input.addData(ev(6, 101, 9))
      q.processAllAvailable()
      val got = spark.table("funnel_out").as[Conversion].collect()
      assert(got.length == 1)
      assert(got.head.user_id == 1)
      assert(got.head.first_view == ts(5) && got.head.first_buy == ts(20))
      assert(got.head.gap_us == 15L * 60 * 1000000)
      // a late trickle for a settled user must never re-emit
      input.addData(ev(7, 102, 1), ev(8, 103, 1, typ = "purchase"))
      q.processAllAvailable()
      input.addData(ev(9, 104, 9))
      q.processAllAvailable()
      assert(spark.table("funnel_out").count() == 1, "re-emitted after done")
    } finally q.stop()
  }

  test("funnel emits in-batch when fresh data arrives after the watermark " +
      "already passed first_buy") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = funnel(input.toDS())
      .writeStream.format("memory").queryName("funnel_early_out")
      .outputMode("append").start()
    try {
      // batch 1: user 21's conversion is complete, and user 99's
      // far-future view pushes the watermark way past user 21's buy
      input.addData(ev(1, 5, 21), ev(2, 20, 21, typ = "purchase"),
        ev(3, 300, 99))
      q.processAllAvailable()
      // batch 2: fresh data for user 21 — the group is called for DATA
      // (not timeout) with the watermark already past first_buy, so the
      // verdict is final and emits in this very batch
      input.addData(ev(4, 292, 21))
      q.processAllAvailable()
      val got = spark.table("funnel_early_out").as[Conversion].collect()
      assert(got.length == 1)
      assert(got.head.user_id == 21)
      assert(got.head.first_view == ts(5) && got.head.first_buy == ts(20))
    } finally q.stop()
  }

  test("streaming hourlyAgg agrees with the batch ev_hourly_agg on full replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = graft.Tables(spark, sf("sf0.001")).events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value")).as[Event].collect()
    val input = MemoryStream[Event]
    val q = hourlyAgg(input.toDF())
      .writeStream.format("memory").queryName("hourly_replay_out")
      .outputMode("append").start()
    try {
      // single batch => watermark can't drop anything; sentinel finalizes
      input.addData(events.toIndexedSeq)
      q.processAllAvailable()
      input.addData(Event(-1,
        new Timestamp(events.map(_.ts.getTime).max + 86400_000L), -1, "x", 0.0))
      q.processAllAvailable()
      input.addData(Event(-2,
        new Timestamp(events.map(_.ts.getTime).max + 86400_000L + 1), -2, "x", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("hourly_replay_out")
        .filter(col("event_type") =!= "x")
        .select(date_format(col("hour"), "yyyy-MM-dd HH:00:00").as("hour"),
          col("event_type"), col("n"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = graft.QueryRegistry.byName("ev_hourly_agg")
        .run(spark, sf("sf0.001"))
        .select(col("hour"), col("event_type"), col("n"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed == batch,
        s"stream/batch mismatch: ${(streamed.toSet diff batch.toSet).take(3)}")
    } finally q.stop()
  }

  test("ev_stream_hourly (file source → AvailableNow → memory sink) " +
      "matches the batch rollup") {
    val streamed = graft.QueryRegistry.byName("ev_stream_hourly")
      .run(spark, sf("sf0.001"))
      .collect().map(_.toSeq).sortBy(_.toString)
    val batch = graft.QueryRegistry.byName("ev_hourly_agg")
      .run(spark, sf("sf0.001"))
      .select(col("hour"), col("event_type"), col("n"), col("total_value"))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq,
      "registered streaming query must equal the batch hourly rollup")
  }

  test("stream-static broadcast enrichment joins every event to its dim row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("view", 1.0), ("purchase", 5.0), ("error", -1.0))
      .toDF("event_type", "weight")
    val input = MemoryStream[Event]
    val q = EventStreams.enrich(input.toDF(), dim, "event_type")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      input.addData(ev(1, 0, 1, "view"), ev(2, 1, 1, "purchase"),
        ev(3, 2, 1, "signup")) // signup has no dim row -> dropped (inner)
      q.processAllAvailable()
      val out = spark.table("enrich_out")
        .select(col("event_id"), col("weight")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(out == Map(1L -> 1.0, 2L -> 5.0))
    } finally q.stop()
  }

  test("streaming word count over arriving token files matches the batch goldens") {
    val dir = java.nio.file.Files.createTempDirectory("stream-wc")
    val in  = dir.resolve("in"); java.nio.file.Files.createDirectories(in)
    val corpus = graft.core.Corpora.generate(graft.core.Corpora.Bytes1K)
    val file   = java.nio.file.Paths.get(corpus.path)
    val (goaiania, e) = (corpus.counts(0), corpus.counts.sum)
    val q = EventStreams.streamingWordCount(spark, in.toString)
      .writeStream.format("memory").queryName("wc_stream")
      .outputMode("complete").start()
    try {
      // a 1K generated corpus arrives as the first file...
      java.nio.file.Files.copy(file, in.resolve("a.txt"))
      q.processAllAvailable()
      val c1 = spark.table("wc_stream").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(c1("Goaiania") == goaiania && c1("e") == e) // generator goldens
      // ...then the same file again: counts must double incrementally
      java.nio.file.Files.copy(file, in.resolve("b.txt"))
      q.processAllAvailable()
      val c2 = spark.table("wc_stream").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(c2("Goaiania") == 2 * goaiania && c2("e") == 2 * e)
    } finally q.stop()
  }

  test("streaming dedup drops replayed event ids within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = dedupEvents(input.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(ev(1, 0, 1), ev(2, 1, 1))
      q.processAllAvailable()
      // replay event 1 (same id) in a later micro-batch + a new event
      input.addData(ev(1, 0, 1), ev(3, 2, 1))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select(col("event_id"))
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("stream-stream range join agrees with the batch ev_range_join pairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = graft.Tables(spark, sf("sf0.01")).events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value")).as[Event].collect()
    val input = MemoryStream[Event]
    val q = viewPurchaseJoin(input.toDF())
      .writeStream.format("memory").queryName("ssjoin_out")
      .outputMode("append").start()
    try {
      input.addData(events.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("ssjoin_out")
        .select(col("p_id"), col("v_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.QueryRegistry.byName("ev_range_join")
        .run(spark, sf("sf0.01"))
        .select(col("p_id"), col("v_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch,
        s"stream=$streamed vs batch=$batch")
    } finally q.stop()
  }

  test("streaming sessionization agrees with the batch ev_sessionize totals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // replay the real sf0.001 events table through the stream; compare
    // total (closed + open) sessions per user with the batch query
    val events = graft.Tables(spark, sf("sf0.001")).events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value")).as[Event].collect().sortBy(_.ts.getTime)
    val input = MemoryStream[Event]
    val q = sessionize(input.toDS(), gapSeconds = 1800)
      .writeStream.format("memory").queryName("sessions_replay_out")
      .outputMode("append").start()
    try {
      val (first, rest) = events.splitAt(events.length / 2)
      input.addData(first.toIndexedSeq); q.processAllAvailable()
      input.addData(rest.toIndexedSeq); q.processAllAvailable()
      // far-future sentinel closes everything still open
      input.addData(Event(-1, new Timestamp(events.last.ts.getTime + 86400_000L),
        -1, "view", 0.0))
      q.processAllAvailable()
      input.addData(Event(-2, new Timestamp(events.last.ts.getTime + 86400_000L + 1),
        -2, "view", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("sessions_replay_out").as[Session].collect()
        .filter(_.user_id >= 0)
        .groupBy(_.user_id).view.mapValues(_.length).toMap
      val batch = graft.QueryRegistry.byName("ev_sessionize")
        .run(spark, sf("sf0.001"))
        .select(col("user_id"), col("n_sessions")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed.keySet == batch.keySet)
      val mismatches = batch.keySet.filter(u => streamed(u).toLong != batch(u))
      assert(mismatches.isEmpty,
        s"session-count mismatch for users: ${mismatches.take(5)}")
    } finally q.stop()
  }

  test("memory-sink seam stays driver-safe: unbounded-output streams honor a row cap") {
    // StreamingQueries' contract: ev_stream_hourly is a bounded
    // aggregate, but the sessions / range-join / wordcount outputs
    // SCALE WITH DATA and use the memory sink only as the
    // oracle-comparison seam at test SF (production writes to a real
    // sink). This cap is the tripwire that keeps a testdata
    // regeneration from silently turning the seam into a driver-OOM
    // path: sf0.001 outputs sit orders of magnitude below it, so
    // tripping it means the data's shape changed out from under the
    // contract and the seam needs rethinking, not raising the cap.
    val cap = 200000L
    for (name <- Seq("ev_stream_sessions", "ev_stream_range_join",
        "ev_stream_left_join", "mr_stream_wordcount", "ev_stream_asof",
        "ev_stream_funnel")) {
      val n = graft.QueryRegistry.byName(name).run(spark, sf("sf0.001")).count()
      assert(n < cap, s"$name memory-sink seam grew to $n rows (cap $cap)")
    }
  }
}
