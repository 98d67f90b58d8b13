package graft.streaming

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Driver-facing streaming entries: the Structured-Streaming pipelines
  * in [[EventStreams]] executed end-to-end (file source →
  * `Trigger.AvailableNow` → memory sink) and verified against the SAME
  * DuckDB oracle as their batch twins — streaming correctness as a
  * hash-checked number, not a parity spec alone.
  *
  * Execution model: `AvailableNow` processes the full backlog in
  * bounded micro-batches and terminates — exactly how a 100 TB
  * pipeline runs its nightly catch-up on the same code that serves the
  * live stream. Complete-mode output is what makes the final memory
  * table equal the batch aggregation (append mode only emits windows
  * the watermark has closed, and a finite file backlog never closes
  * the last window).
  *
  * The memory sink materializes on the driver. For `ev_stream_hourly`
  * that is a bounded aggregate (hour×type cardinality — ~3.4k rows at
  * sf0.1, the same bounded-collect contract as the ANN model
  * aggregates, SCALE.md); the sessions and range-join outputs scale
  * with the data, so for THOSE the memory sink is strictly the
  * oracle-comparison seam at test SF — a production deployment writes
  * every one of these to a real sink (Kafka/Delta/parquet), and
  * EventStreamsSpec asserts a row cap so the seam cannot silently
  * grow past what a driver can hold.
  *
  * State-store sizing: each stateful operator keeps one state store
  * per shuffle partition per micro-batch. The backlog at test SF holds
  * kilobytes of state, so the session-default 32 partitions buy
  * nothing but fixed store-commit overhead (~7.6 s of the r7 bench was
  * exactly this); the streaming entries therefore run through a child
  * session with shuffle partitions sized to the backlog. A production
  * deployment sizes this to rate × window the same way.
  *
  * Plan-lint note: `run` executes the stream eagerly and returns the
  * sink table (a local relation), so the query declares `eagerPlan` —
  * the batch-equivalent pipeline over the same loader — as its
  * auditable distributed shape, the same pattern as the prefix-sum
  * and rank-method queries. Spark plans the incremental query from
  * the identical logical aggregation.
  */
object StreamingQueries {

  private val sinkId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Streaming twin of `Tables.events`: same footer-schema probe, same
    * nanos/micros normalization, but as an unbounded file source (the
    * stream must tolerate both physical layouts for the same reason
    * the batch loader does — a lake holds mixed writer generations).
    */
  /** Shuffle partitions (= state stores per stateful operator) for the
    * streaming entries, sized to the test backlog; overridable for a
    * deployment-scale run.
    */
  private def streamPartitions: String =
    sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "8")

  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    val reader = graft.core.Sessions.withConf(s,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.shuffle.partitions" -> streamPartitions)
    // footer probe through the (session, file-identity)-cached schema
    // map — the per-pass inference job was a fixed tax on every
    // streaming row (r16; see Tables.fileSchema)
    val rawSchema = Tables.fileSchema(reader, s"$dir/events.parquet")
    val raw = reader.readStream
      .schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    Tables.normalizeEventsTs(raw)
  }

  /** Run a streaming DataFrame to completion into a fresh memory-sink
    * table and return it (complete mode; unique sink name per run so
    * bench passes don't collide).
    */
  private def runToTable(agg: DataFrame, mode: String = "complete"): DataFrame = {
    val name = s"graft_stream_sink_${sinkId.incrementAndGet()}"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt")
    try {
      val q = agg.writeStream
        .format("memory").queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // The sink's temp view registers in the session that started the
      // query — agg's (child) session, not necessarily the caller's.
      // Dataset construction analyzes eagerly, so the returned frame
      // resolves to the sink's in-memory plan NOW; dropping the temp
      // view right after keeps repeated bench passes (4-5 runs per
      // query per round) from accumulating driver-pinned sink tables —
      // the rows are freed with the returned DataFrame instead of
      // living in the catalog forever.
      val session = agg.sparkSession
      val result = session.table(name)
      session.catalog.dropTempView(name)
      result
    } finally {
      // AvailableNow terminated above (or start failed): the
      // checkpoint has no further reader, so a bench run must not
      // litter one tmp dir per pass.
      try {
        import java.nio.file.Files
        Files.walk(ckpt).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
      } catch { case _: java.io.IOException => () }
    }
  }

  /** [[EventStreams.hourlyAgg]] over the events backlog; oracle =
    * the batch hourly rollup. No `n_users` here: distinct aggregation
    * is not incrementally computable in a streaming windowed agg —
    * [[streamHourlyUsers]] delivers that column the way production
    * streams do, as an HLL sketch gated on its guarantee.
    */
  val streamHourly = Query(
    "ev_stream_hourly",
    (s, dir) => {
      val result = runToTable(EventStreams.hourlyAgg(eventsStream(s, dir)))
      result
        .select(
          date_format(col("hour"), "yyyy-MM-dd HH:00:00").as("hour"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy(col("hour"), col("event_type"))
    },
    oracle = Some("""
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
             event_type, count(*) AS n,
             round(sum(value), 2) AS total_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """),
    eagerPlan = Some((s, dir) =>
      Tables(s, dir).events
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total_value"))),
  )

  /** The distinct-users column [[streamHourly]] declares impossible —
    * delivered the way a production stream actually delivers it:
    * `approx_count_distinct`'s HLL++ sketch AS STREAMING STATE (one
    * mergeable sketch per open (hour, type) window, partials merged
    * across micro-batches by the aggregate's own merge — the third
    * sketch-as-state entry next to Count-Min and Space-Saving), gated
    * on its GUARANTEE rather than its hash-dependent raw value, the
    * q_approx_distinct / tx_count_min contract. After the stream
    * completes, the approx counts join the BATCH exact distinct per
    * window (computable only outside the incremental path — that
    * impossibility is the point of the query), and the gate pins the
    * exact counts, the interval width, and the within-bound flags.
    * The band is 3×rsd (15 %) with an absolute floor of 8: hourly
    * windows sit in HLL's small-cardinality regime (tens of users),
    * where a purely relative band is 1-3 counts and the estimator's
    * observed error reaches 4 — the floor covers the regime a
    * relative guarantee cannot describe (measured max abs error 4 at
    * sf0.1, headroom 2x for corpus regeneration). At 100 TB the same
    * plan holds one ~KB dense sketch per open window — state is
    * windows × KB, never windows × users.
    */
  val streamHourlyUsers = Query(
    "ev_stream_hourly_users",
    (s, dir) => {
      val ev  = eventsStream(s, dir)
      val agg = ev
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("approx_users"))
        .select(col("window.start").as("hour"), col("event_type"),
          col("approx_users"))
      val streamed = runToTable(agg)
      val exact = Tables(streamed.sparkSession, dir).events
        .groupBy(date_format(date_trunc("hour", col("ts")),
          "yyyy-MM-dd HH:00:00").as("hour"), col("event_type"))
        .agg(count_distinct(col("user_id")).as("exact_users"))
      streamed
        .select(date_format(col("hour"), "yyyy-MM-dd HH:00:00").as("hour"),
          col("event_type"), col("approx_users"))
        .join(exact, Seq("hour", "event_type"))
        .select(col("hour"), col("event_type"), col("exact_users"),
          greatest(ceil(col("exact_users") * 0.15), lit(8L)).as("max_err"),
          (abs(col("approx_users") - col("exact_users")) <=
            greatest(ceil(col("exact_users") * 0.15), lit(8L)))
            .as("users_within_bound"))
        .orderBy(col("hour"), col("event_type"))
    },
    oracle = Some("""
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
             event_type,
             count(DISTINCT user_id) AS exact_users,
             greatest(ceil(count(DISTINCT user_id) * 0.15)::BIGINT, 8)
               AS max_err,
             true AS users_within_bound
      FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """),
    eagerPlan = Some((s, dir) =>
      Tables(s, dir).events
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("approx_users"))),
  )

  /** [[EventStreams.sessionize]] (stateful `flatMapGroupsWithState`)
    * over the events backlog — the hardest streaming surface
    * (user-managed state + event-time timeouts) under the driver's
    * hash gate. Append mode: a session row emits when the SAME user's
    * later event arrives past the 30-minute gap, or when the
    * event-time watermark (max ts − 10 min at end of backlog) passes
    * the session's timeout (last event + gap). Both closure paths are
    * deterministic on a finite backlog, and both are stated in the
    * oracle: a session emits iff the user returns later, OR it is the
    * user's last session and its timeout precedes the final
    * watermark. Sessions still open at final watermark stay in state —
    * exactly what a live deployment would hold.
    */
  val streamSessions = Query(
    "ev_stream_sessions",
    (s, dir) => {
      import s.implicits._
      val ev = eventsStream(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[EventStreams.Event]
      val result = runToTable(EventStreams.sessionize(ev).toDF(), "append")
      result.select(
        col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("session_start"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("session_end"),
        col("n_events").cast("long").as("n_events"),
        round(col("total_value"), 2).as("total_value"))
        .orderBy(col("user_id"), col("session_start"))
    },
    oracle = Some("""
      WITH flagged AS (
        SELECT user_id, ts, event_id, value,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
               THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), sess AS (
        SELECT user_id, ts, value,
          sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged
      ), per AS (
        SELECT user_id, sid,
          strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
          strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
          max(ts) AS last_ts,
          count(*) AS n_events, round(sum(value), 2) AS total_value,
          max(sid) OVER (PARTITION BY user_id) AS max_sid
        FROM sess GROUP BY user_id, sid
      )
      -- The timeout boundary is decided at MILLISECOND precision on
      -- both sides, exactly as the engine decides it: the timeout
      -- registers ceil'd to ms (sessionize sets
      -- floorDiv(last_us+gap_us+999, 1000) — GroupState's API is
      -- ms-resolution) and the event-time watermark floors to ms
      -- (EventTimeStatsAccum collects max event time in ms) minus the
      -- 10-minute delay; emission is strict `timeout < watermark`. An
      -- oracle comparing at µs precision instead would disagree with
      -- the engine for boundaries landing within 1 ms (ADVICE r7).
      SELECT user_id, session_start, session_end, n_events, total_value
      FROM per
      WHERE sid < max_sid
         OR (epoch_us(last_ts) + 1800000000 + 999) // 1000 <
            (SELECT epoch_us(max(ts)) FROM events) // 1000 - 600000
      ORDER BY user_id, session_start
    """),
    eagerPlan = Some((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables(s, dir).events
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            col("ts").cast("double") - col("prev_ts").cast("double") > 1800, 1)
            .otherwise(0))
        .withColumn("sid", sum(col("new_session"))
          .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("total_value"))
    }),
  )

  /** [[EventStreams.viewPurchaseJoin]] (stream-stream interval join)
    * over the events backlog — the third streaming join class under
    * the gate. Inner-join matches emit in the micro-batch where both
    * sides are present (watermarks only bound state retention, they
    * gate nothing an inner join emits), so the finite-backlog output
    * IS the batch theta-join semantics: every same-user (purchase,
    * view) pair within ±5 minutes — the same declared semantics
    * `ev_range_join` states, so the oracle is that query's naive
    * theta join verbatim (without the bucketing, which is the batch
    * plan's scale shape, not part of the semantics).
    */
  val streamRangeJoin = Query(
    "ev_stream_range_join",
    (s, dir) => {
      val joined = EventStreams.viewPurchaseJoin(eventsStream(s, dir))
      runToTable(joined, "append")
        .select(col("p_id"), col("v_id"), col("user_id"), col("gap_us"))
        .orderBy(col("p_id"), col("v_id"))
    },
    oracle = Some("""
      SELECT p.event_id AS p_id, v.event_id AS v_id, p.user_id,
             epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT * FROM events WHERE event_type = 'view') v
        ON p.user_id = v.user_id
       AND abs(epoch_us(p.ts) - epoch_us(v.ts)) <= 300000000
      ORDER BY p_id, v_id
    """),
    eagerPlan = Some((s, dir) =>
      graft.operators.Events.rangeJoin.run(s, dir)),
  )

  /** [[EventStreams.viewPurchaseLeftJoin]] — OUTER stream-stream join
    * under the gate: the semantics streaming gets wrong most easily,
    * because null-extended rows may only emit once the watermark
    * proves no future match can arrive. Matched pairs emit exactly as
    * the inner join; an unmatched view emits iff its join window
    * closed under the FINAL global watermark, which the oracle states
    * exactly as the engine decides it (all three clauses probed
    * against a boundary fixture, StreamLeftJoinBoundarySpec):
    *   - the global watermark is the MIN across the two sides'
    *     watermark operators, each flooring ITS OWN max event time to
    *     ms before subtracting the 10-min delay (the purchase side's
    *     sparser tail governs — on this corpus its max trails the view
    *     side's by ~30 min, which naive "global max ts − delay"
    *     reasoning would get wrong by that margin);
    *   - the state-eviction bound is watermark − 5 min − 1 ms (Spark
    *     subtracts one ms so the bound is exclusive);
    *   - the row comparison is at full MICROSECOND precision against
    *     that ms-quantized bound (a view 500 µs above it stays in
    *     state even though its own ms-floor sits below).
    * Views still open at end-of-backlog stay in state, unemitted —
    * the live deployment's pending set.
    */
  val streamLeftJoin = Query(
    "ev_stream_left_join",
    (s, dir) => {
      val joined = EventStreams.viewPurchaseLeftJoin(eventsStream(s, dir))
      runToTable(joined, "append")
        .select(col("v_id"), col("p_id"), col("user_id"), col("gap_us"))
        .orderBy(col("v_id"), col("p_id"))
    },
    oracle = Some("""
      WITH v AS (SELECT * FROM events WHERE event_type = 'view'),
      p AS (SELECT * FROM events WHERE event_type = 'purchase'),
      -- global watermark = min over both sides of floor-ms(own max) −
      -- 10 min; eviction bound = watermark − 5 min − 1 ms, compared at
      -- MICROSECOND precision (see the query doc / boundary spec)
      wm AS (SELECT least((SELECT epoch_us(max(ts)) // 1000 FROM v),
                          (SELECT epoch_us(max(ts)) // 1000 FROM p))
                    - 600000 AS wm_ms),
      j AS (
        SELECT v.event_id AS v_id, p.event_id AS p_id, v.user_id,
               epoch_us(p.ts) - epoch_us(v.ts) AS gap_us,
               epoch_us(v.ts) AS v_us
        FROM v LEFT JOIN p
          ON p.user_id = v.user_id
         AND abs(epoch_us(p.ts) - epoch_us(v.ts)) <= 300000000
      )
      SELECT v_id, p_id, user_id, gap_us
      FROM j CROSS JOIN wm
      WHERE p_id IS NOT NULL OR v_us <= (wm_ms - 300001) * 1000
      ORDER BY v_id, p_id
    """),
    eagerPlan = Some((s, dir) =>
      graft.operators.Events.rangeJoin.run(s, dir)),
  )

  /** The reference's ONE shipped job — word count
    * (`user/WordMapperServant.java:24-37`,
    * `user/WordReducerServant.java:24-40`) — as an incremental stream
    * under the oracle gate: the documents backlog arrives through a
    * file source, each record runs the exact TokenFormat
    * tokenize→parse semantics, and running counts fold in complete
    * mode (per-micro-batch partial aggregation IS the reference's
    * combiner, state = one long per word). This was the last streaming
    * surface with only a parity spec and no CORRECTNESS row.
    *
    * The oracle replicates tokenize (split on space/newline runs) and
    * the Java `String.split("\\|")` k|v parse — same clauses as
    * `mr_tokenize`'s oracle, counted by parsed VALUE, which for the
    * pipe-free documents corpus is the token itself.
    */
  val streamWordcount = Query(
    "mr_stream_wordcount",
    (s, dir) => {
      val reader = graft.core.Sessions.withConf(s,
        "spark.sql.shuffle.partitions" -> streamPartitions)
      import reader.implicits._
      val schema = Tables.fileSchema(reader, s"$dir/documents.parquet")
      val docs = reader.readStream
        .schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
      val counted = EventStreams.wordCount(docs.select(col("text")).as[String])
      runToTable(counted).orderBy(col("word"))
    },
    oracle = Some("""
      WITH parsed AS (
        SELECT tok,
          contains(tok, '|')
            AND NOT regexp_matches(tok, '^[^|]*\|+$') AS is_kv
        FROM (SELECT unnest(string_split_regex(text, '[ \n\r]+')) AS tok
              FROM documents)
        WHERE length(tok) > 0
      )
      SELECT CASE WHEN is_kv THEN split_part(tok, '|', 2) ELSE tok END AS word,
             count(*) AS cnt
      FROM parsed GROUP BY 1 ORDER BY 1
    """),
    eagerPlan = Some((s, dir) => {
      import s.implicits._
      EventStreams.wordCount(
        Tables(s, dir).documents.select(col("text")).as[String])
    }),
  )

  /** [[EventStreams.enrich]] — stream–static broadcast join under the
    * oracle gate: the events stream joins the static customer→nation
    * dimension (re-resolved per micro-batch, broadcast, zero stream
    * state) and rolls up per nation. This was the last join class
    * (batch, stream-stream, stream-static) without a CORRECTNESS row.
    *
    * The dimension sits in the same child session as the stream so the
    * per-batch join plans locally; output is bounded (≤ nations), so
    * the memory sink holds a true aggregate, like `ev_stream_hourly`.
    */
  val streamEnrich = Query(
    "ev_stream_enrich",
    (s, dir) => {
      val ev = eventsStream(s, dir)
      val child = ev.sparkSession
      val t = Tables(child, dir)
      val dim = t.customer
        .select(col("c_custkey").as("user_id"), col("c_nationkey"))
        .join(t.nation.select(col("n_nationkey").as("c_nationkey"),
          col("n_name")), "c_nationkey")
        .select(col("user_id"), col("n_name"))
      val agg = EventStreams.enrich(ev, dim, "user_id")
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total_value"))
      runToTable(agg).orderBy(col("n_name"))
    },
    oracle = Some("""
      SELECT n.n_name, count(*) AS n, round(sum(e.value), 2) AS total_value
      FROM events e
      JOIN customer c ON e.user_id = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1 ORDER BY 1
    """),
    eagerPlan = Some((s, dir) => {
      val t = Tables(s, dir)
      val dim = t.customer
        .select(col("c_custkey").as("user_id"), col("c_nationkey"))
        .join(t.nation.select(col("n_nationkey").as("c_nationkey"),
          col("n_name")), "c_nationkey")
        .select(col("user_id"), col("n_name"))
      t.events.join(broadcast(dim), "user_id")
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total_value"))
    }),
  )

  /** Streaming CDC materialization under the oracle gate: the events
    * stream upserts into a key-bucketed parquet lake layout via
    * `foreachBatch` + [[graft.operators.Maintenance.upsertParquet]]
    * with keep-newest MERGE semantics (`newestBy = (ts, event_id)`, a
    * total order), leaving one row per user — the latest event. The
    * final state directory IS the query result; the oracle is the
    * batch argmax.
    *
    * Scale shape: each micro-batch reduces to one winner per key (hash
    * aggregate, no sort), then rewrites ONLY the bucket directories its
    * keys hash into — per-batch work is O(batch + touched buckets),
    * not O(lake). Keep-newest (not blind replace) makes replayed or
    * reordered batches converge to the same state — the property that
    * lets a checkpoint-recovered foreachBatch (at-least-once) still
    * produce exactly-once state. Output is bounded by key cardinality
    * (a state table, not an event log); `localCheckpoint` pins it
    * before the temp layout is deleted.
    */
  val streamUpsert = Query(
    "ev_stream_upsert",
    (s, dir) => {
      val ev = eventsStream(s, dir)
      val child = ev.sparkSession
      val root = java.nio.file.Files.createTempDirectory("graft_stream_upsert")
      val stateDir = root.resolve("state").toString
      try {
        graft.operators.Maintenance.writeKeyBucketed(
          Tables(child, dir).events.limit(0), stateDir, "user_id",
          nBuckets = 8)
        val q = ev.writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            graft.operators.Maintenance.upsertParquet(child, stateDir,
              batch, "user_id", newestBy = Seq("ts", "event_id"))
          }
          .option("checkpointLocation", root.resolve("ckpt").toString)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        child.read.parquet(stateDir)
          .select(col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
              .as("last_ts"),
            col("event_type"), col("value"))
          .orderBy(col("user_id"))
          .localCheckpoint(true)
      } finally {
        import java.nio.file.Files
        Files.walk(root).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
      }
    },
    oracle = Some("""
      SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
             event_type, value
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn
            FROM events)
      WHERE rn = 1 ORDER BY user_id
    """),
    eagerPlan = Some((s, dir) =>
      graft.plans.TopK.perGroup(Tables(s, dir).events, Seq("user_id"),
        Seq(("ts", false), ("event_id", false)), 1)),
  )

  /** [[DocumentStreams.cleanStream]] — ingestion-time corpus hygiene
    * (quality gate + exact content dedup within the watermark) — under
    * the oracle gate, over the documents backlog with planted
    * duplicate arrivals (every 13th doc re-arrives under a shifted
    * id). Determinism through the gate despite racy intra-batch
    * arrival order: `dropDuplicatesWithinWatermark` keeps the first
    * PROCESSED copy, which is not deterministic across partitions —
    * but the emitted columns (content_md5, n_tokens) are
    * content-derived and therefore identical across copies, so WHICH
    * copy survived cannot change the output. Ingest timestamps are
    * synthesized as base + (doc_id mod 300) seconds so the whole
    * backlog sits inside the 10-minute horizon at every SF — dedup is
    * total, matching the batch oracle; a live deployment's horizon
    * bounds state by rate × window exactly as documented on
    * [[DocumentStreams]].
    */
  val streamClean = Query(
    "dd_stream_clean",
    (s, dir) => {
      val reader = graft.core.Sessions.withConf(s,
        "spark.sql.shuffle.partitions" -> streamPartitions)
      val schema = Tables.fileSchema(reader, s"$dir/documents.parquet")
      val docs = reader.readStream
        .schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
        .select(col("doc_id"), col("text"))
      val arrivals = docs.unionAll(
        docs.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
        .withColumn("ingest_ts", expr(
          "timestamp'2026-01-01 00:00:00' + " +
            "make_interval(0, 0, 0, 0, 0, 0, doc_id % 300)"))
      runToTable(DocumentStreams.cleanStream(arrivals), "append")
        .select(col("content_md5"), col("n_tokens"))
        .orderBy(col("content_md5"))
    },
    oracle = Some("""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text FROM documents
        WHERE doc_id % 13 = 0
      ), gated AS (
        SELECT md5(text) AS content_md5,
          len(list_filter(string_split(text, ' '),
              x -> length(x) > 0)) AS n_tokens
        FROM corpus)
      SELECT DISTINCT content_md5, n_tokens
      FROM gated WHERE n_tokens BETWEEN 10 AND 2000
      ORDER BY content_md5
    """),
    eagerPlan = Some((s, dir) => {
      val d = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      val toksC = filter(split(col("text"), " "), t => length(t) > 0)
      d.unionAll(d.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
        .withColumn("n_tokens", size(toksC))
        .filter(col("n_tokens").between(10, 2000))
        .withColumn("content_md5", md5(col("text")))
        .dropDuplicates("content_md5")
    }),
  )

  /** The Space-Saving heavy-hitters sketch RUNNING INCREMENTALLY: the
    * documents backlog streams through the same `space_saving_topk`
    * TypedImperativeAggregate as batch [[graft.text.TextQueries]]'
    * `tx_heavy_hitters`, as a streaming global aggregation — the state
    * store holds exactly ONE serialized sketch buffer per state
    * partition (bounded by capacity, not by vocabulary), merged across
    * micro-batches by the aggregate's own merge. This is the streaming
    * top-k shape that scales: a per-term streaming count would keep one
    * state row per distinct term forever; the sketch keeps 64 entries
    * total. Exactness for the gate: capacity ≥ the corpus vocabulary,
    * so every merge order (including the incremental cross-batch one)
    * yields exact counts with err=0 — the identical oracle as the
    * batch twin, which is also the declared eager plan for the lints.
    */
  val streamHeavyHitters = Query(
    "tx_stream_heavy_hitters",
    (s, dir) => {
      val reader = graft.core.Sessions.withConf(s,
        "spark.sql.shuffle.partitions" -> streamPartitions)
      val schema = Tables.fileSchema(reader, s"$dir/documents.parquet")
      val docs = reader.readStream
        .schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
      val sk = docs
        .select(explode(graft.text.TextQueries.toks(col("text"))).as("term"))
        .agg(graft.functions.SketchFunctions.spaceSavingTopK(col("term"), 64)
          .as("sk"))
      val tbl = runToTable(sk)
      // ≤ capacity rows from here on — bounded by construction
      val ord = Window.orderBy(col("cnt").desc, col("term"))
      tbl.select(explode(col("sk")).as("e"))
        .select(col("e.term").as("term"), col("e.cnt").as("cnt"),
          col("e.err").as("err"))
        .withColumn("rk", row_number().over(ord))
        .filter(col("rk") <= 10)
        .select(col("rk"), col("term"), col("cnt"), col("err"))
        .orderBy(col("rk"))
    },
    oracle = Some("""
      WITH t AS (
        SELECT unnest(list_filter(string_split(text, ' '),
                      x -> length(x) > 0)) AS term
        FROM documents
      ), g AS (SELECT term, count(*) AS cnt FROM t GROUP BY 1)
      SELECT row_number() OVER (ORDER BY cnt DESC, term) AS rk,
             term, cnt::BIGINT AS cnt, 0::BIGINT AS err
      FROM g ORDER BY cnt DESC, term LIMIT 10
    """),
    eagerPlan = Some((s, dir) => {
      val sk = graft.Tables(s, dir).documents
        .select(explode(graft.text.TextQueries.toks(col("text"))).as("term"))
        .agg(graft.functions.SketchFunctions.spaceSavingTopK(col("term"), 64)
          .as("sk"))
      sk.select(explode(col("sk")).as("e"))
        .select(col("e.term").as("term"), col("e.cnt").as("cnt"))
    }),
  )

  /** [[EventStreams.scd2]] under the gate: the CDC→dimension history
    * build running incrementally. The emitted stream is the CLOSED
    * history only (a version closes when a different type arrives; the
    * open version per user is the state store's content), so the
    * oracle is the batch `ev_scd2` formulation restricted to
    * `is_current = false` — no timeout rule, no precision seam.
    */
  val streamScd2 = Query(
    "ev_stream_scd2",
    (s, dir) => {
      import s.implicits._
      val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      val ev = eventsStream(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[EventStreams.Event]
      runToTable(EventStreams.scd2(ev).toDF(), "append")
        .select(col("user_id"), col("ver"), col("event_type"),
          date_format(col("valid_from"), fmt).as("valid_from"),
          date_format(col("valid_to"), fmt).as("valid_to"),
          col("n_events"))
        .orderBy(col("user_id"), col("ver"))
    },
    oracle = Some("""
      WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
          lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS prev_type
        FROM events
      ), flagged AS (
        SELECT user_id, event_type, ts, event_id,
          CASE WHEN prev_type IS NULL OR prev_type <> event_type
               THEN 1 ELSE 0 END AS chg
        FROM ordered
      ), versioned AS (
        SELECT user_id, event_type, ts,
          sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ver
        FROM flagged
      ), runs AS (
        SELECT user_id, CAST(ver AS BIGINT) AS ver,
          min(event_type) AS event_type, min(ts) AS from_ts,
          count(*) AS n_events
        FROM versioned GROUP BY user_id, ver
      ), hist AS (
        SELECT user_id, ver, event_type,
          strftime(from_ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
          strftime(lead(from_ts) OVER (PARTITION BY user_id ORDER BY ver),
            '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
          n_events
        FROM runs)
      SELECT user_id, ver, event_type, valid_from, valid_to, n_events
      FROM hist WHERE valid_to IS NOT NULL
      ORDER BY user_id, ver
    """),
    eagerPlan = Some((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val prev = lag(col("event_type"), 1).over(byUser)
      Tables(s, dir).events
        .withColumn("chg",
          when(prev.isNull || prev =!= col("event_type"), 1).otherwise(0))
        .withColumn("ver", sum(col("chg"))
          .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("ver"))
        .agg(min(col("event_type")).as("event_type"),
          min(col("ts")).as("from_ts"), count(lit(1)).as("n_events"))
    }),
  )

  /** [[Events.slidingAgg]]'s incremental twin: overlapping 1 h/15 min
    * windows maintained as streaming state. The map-side Expand (4
    * window rows per event) feeds the SAME stateful hash aggregate as
    * the tumbling [[streamHourly]] — sliding windows change the
    * expand multiplicity, not the state topology; state is bounded by
    * (open windows × types) and complete mode makes the finite-backlog
    * sink equal the batch aggregation, so the oracle is
    * `ev_sliding_agg`'s verbatim.
    */
  val streamSliding = Query(
    "ev_stream_sliding",
    (s, dir) => {
      val agg = eventsStream(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total_value"))
      runToTable(agg)
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("w_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy(col("w_start"), col("event_type"))
    },
    oracle = Some("""
      WITH e AS (
        SELECT epoch_us(ts) // 1000000 // 900 * 900 AS grid_s,
               event_type, value
        FROM events
      ), expanded AS (
        SELECT grid_s - k * 900 AS start_s, event_type, value
        FROM (SELECT grid_s, event_type, value, unnest(range(0, 4)) AS k
              FROM e)
      )
      SELECT strftime(to_timestamp(start_s), '%Y-%m-%d %H:%M:%S') AS w_start,
             event_type, count(*) AS n, round(sum(value), 2) AS total_value
      FROM expanded GROUP BY 1, 2 ORDER BY 1, 2
    """),
    eagerPlan = Some((s, dir) =>
      graft.operators.Events.slidingAgg.run(s, dir)),
  )

  /** [[graft.functions.CountMinEstimates]] RUNNING INCREMENTALLY — the
    * point-query sketch as streaming state, the CMS twin of
    * [[streamHeavyHitters]]: the state store holds one serialized d×w
    * counter matrix per state partition (bounded by shape, not
    * vocabulary), cell-wise-added across micro-batches by the
    * aggregate's own merge — which, for a LINEAR sketch, provably
    * cannot differ from the batch result whatever the batch split.
    * Same gate contract as the batch `tx_count_min`: guarantee flags
    * next to DuckDB's exact counts.
    */
  val streamCountMin = Query(
    "tx_stream_count_min",
    (s, dir) => {
      val qTerms = Seq("join", "vector", "window", "stream", "customer",
        "zzz_absent")
      val reader = graft.core.Sessions.withConf(s,
        "spark.sql.shuffle.partitions" -> streamPartitions)
      val schema = Tables.fileSchema(reader, s"$dir/documents.parquet")
      val docs = reader.readStream
        .schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
      val terms = docs
        .select(explode(graft.text.TextQueries.toks(col("text"))).as("term"))
      val agg = terms.agg(
        graft.functions.SketchFunctions
          .countMinEstimates(col("term"), qTerms, 4, 512).as("sk"),
        count(lit(1)).as("n"))
      val tbl = runToTable(agg)
      // ≤ |qTerms| rows from here on — bounded by construction
      val exact = Tables(tbl.sparkSession, dir).documents
        .select(explode(graft.text.TextQueries.toks(col("text"))).as("term"))
        .filter(col("term").isin(qTerms: _*))
        .groupBy(col("term")).agg(count(lit(1)).as("exact"))
      tbl.select(explode(col("sk")).as("e"), col("n"))
        .select(col("e.term").as("term"), col("e.est").as("est"), col("n"))
        .join(exact, Seq("term"), "left")
        .na.fill(0, Seq("exact"))
        .select(col("term"), col("exact"),
          (col("est") >= col("exact")).as("lower_ok"),
          // 2×⌈εN⌉ slack, same rationale as the batch tx_count_min: the
          // tight bound is probabilistic over hash choice and belongs in
          // SketchSpec (corpus-specific), not the cross-engine gate
          (col("est") <= col("exact") +
            lit(2) * ceil(lit(math.E) * col("n") / 512)).as("upper_ok"))
        .orderBy(col("term"))
    },
    oracle = Some("""
      WITH t AS (
        SELECT unnest(list_filter(string_split(text, ' '),
                 x -> length(x) > 0)) AS term
        FROM documents
      ), e AS (
        SELECT term, count(*)::BIGINT AS exact FROM t
        WHERE term IN ('join', 'vector', 'window', 'stream', 'customer',
                       'zzz_absent')
        GROUP BY 1
      ), q AS (
        SELECT unnest(['join', 'vector', 'window', 'stream', 'customer',
                       'zzz_absent']) AS term
      )
      SELECT q.term, coalesce(e.exact, 0) AS exact,
             true AS lower_ok, true AS upper_ok
      FROM q LEFT JOIN e USING (term) ORDER BY term
    """),
    eagerPlan = Some((s, dir) =>
      graft.text.TextQueries.countMin.run(s, dir)),
  )

  /** The streaming funnel under the oracle gate: view→purchase
    * conversions confirmed incrementally, emitted exactly once per
    * user and only when the watermark has made the verdict immutable
    * (state timeout at first_buy — see [[EventStreams.funnel]] for
    * the finality argument). The oracle is the batch `ev_funnel` join
    * plus the SAME ms-precision timeout boundary the engine applies
    * (the ev_stream_sessions rule): conversions whose first_buy the
    * final watermark never passed are still pending IN STATE, not in
    * the output.
    */
  val streamFunnel = Query(
    "ev_stream_funnel",
    (s, dir) => {
      import s.implicits._
      val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      val ev = eventsStream(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[EventStreams.Event]
      runToTable(EventStreams.funnel(ev).toDF(), "append")
        .select(col("user_id"),
          date_format(col("first_view"), fmt).as("first_view"),
          date_format(col("first_buy"), fmt).as("first_buy"),
          col("gap_us"))
        .orderBy(col("user_id"))
    },
    oracle = Some("""
      WITH fp AS (SELECT * FROM events
                  WHERE event_type IN ('view', 'purchase')),
      v AS (SELECT user_id, min(ts) AS first_view FROM fp
            WHERE event_type = 'view' GROUP BY 1),
      b AS (SELECT user_id, min(ts) AS first_buy FROM fp
            WHERE event_type = 'purchase' GROUP BY 1)
      SELECT v.user_id,
             strftime(first_view, '%Y-%m-%d %H:%M:%S.%f') AS first_view,
             strftime(first_buy, '%Y-%m-%d %H:%M:%S.%f') AS first_buy,
             epoch_us(first_buy) - epoch_us(first_view) AS gap_us
      FROM v JOIN b USING (user_id)
      WHERE first_view < first_buy
        -- the engine's emission boundary, at the engine's precision:
        -- timeout registers at first_buy ceil'd to ms, the watermark
        -- floors max event time (over the FILTERED stream) to ms
        -- minus the 10-minute delay, and firing is strictly
        -- timeout < watermark
        AND (epoch_us(first_buy) + 999) // 1000 <
            (SELECT epoch_us(max(ts)) FROM fp) // 1000 - 600000
      ORDER BY user_id
    """),
    eagerPlan = Some((s, dir) => {
      val e = Tables(s, dir).events
        .filter(col("event_type").isin("view", "purchase"))
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("first_view"))
      val b = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(min(col("ts")).as("first_buy"))
      v.join(b, "user_id").filter(col("first_view") < col("first_buy"))
    }),
  )

  /** The streaming as-of join under the oracle gate — point-in-time
    * enrichment (the feature-store join) run incrementally: each
    * purchase picks up the same user's most recent strictly-earlier
    * view, emitted exactly when the watermark passes the purchase's
    * event time and its match can no longer change (see
    * [[EventStreams.asofEnrich]]). The oracle is DuckDB's NATIVE
    * `ASOF JOIN` (the ev_asof_join discipline — checked against a
    * real as-of implementation, not against itself) restricted by the
    * engine's exact ms-precision emission boundary; purchases past
    * the final watermark are pending in state, absent from both
    * sides.
    */
  val streamAsof = Query(
    "ev_stream_asof",
    (s, dir) => {
      import s.implicits._
      val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      val ev = eventsStream(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[EventStreams.Event]
      runToTable(EventStreams.asofEnrich(ev).toDF(), "append")
        .select(col("event_id"), col("user_id"),
          date_format(col("purchase_ts"), fmt).as("purchase_ts"),
          date_format(col("view_ts"), fmt).as("view_ts"),
          col("gap_us"))
        .orderBy(col("event_id"))
    },
    oracle = Some("""
      WITH fp AS (SELECT * FROM events
                  WHERE event_type IN ('view', 'purchase')),
      v AS (SELECT user_id, ts FROM fp WHERE event_type = 'view'),
      p AS (SELECT event_id, user_id, ts FROM fp
            WHERE event_type = 'purchase')
      SELECT p.event_id, p.user_id,
        strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
        strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
        epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
      FROM p ASOF JOIN v ON p.user_id = v.user_id AND v.ts < p.ts
      -- the engine's emission boundary (the ev_stream_funnel rule):
      -- timeout = purchase ts ceil'd to ms, watermark = ms-floored
      -- max event time over the filtered stream minus the delay,
      -- firing strictly timeout < watermark
      WHERE (epoch_us(p.ts) + 999) // 1000 <
            (SELECT epoch_us(max(ts)) FROM fp) // 1000 - 600000
      ORDER BY p.event_id
    """),
    eagerPlan = Some((s, dir) => {
      val e = Tables(s, dir).events
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"), unix_micros(col("ts")).as("tsu"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"))
        .rangeBetween(Window.unboundedPreceding, -1)
      e.withColumn("last_view_ts",
        max(when(col("event_type") === "view", col("ts"))).over(w))
        .filter(col("event_type") === "purchase" &&
          col("last_view_ts").isNotNull)
    }),
  )

  /** Online ANN serving under the oracle gate: a stream of query
    * vectors served per micro-batch against the PERSISTED IVF index —
    * the online half of the vector tier, where `ss_ivf_probe` is the
    * same serving pass invoked in batch. Each micro-batch routes its
    * queries to their nprobe=2 cells through the broadcast centroid
    * model (bounded: k×64 floats, the serving tier's per-batch model
    * load), partition-prunes the index scan to the probed cells, and
    * ranks top-5 per query with the `TopKPerGroup` heap tail — the
    * exact batch machinery (`probesOf`/`rankTail`), run per batch.
    * Serving is STATELESS (each query is answered within its batch;
    * no cross-batch state store), so per-batch cost is O(batch ×
    * probed cells) and the accumulated output is bounded by
    * queries × k — the bounded-collect contract.
    *
    * A production deployment points the same `foreachBatch` at a Kafka
    * query stream and a result sink; nightly index rebuilds swap in
    * under it (`buildIvfIndex`/`upsertIvfIndex`), queries never
    * re-train — the oracle is therefore `ss_ivf_topk`'s train+serve
    * SQL verbatim, which is the point: streaming serving returns the
    * batch answer.
    */
  val streamTopk = Query(
    "ss_stream_topk",
    (s, dir) => {
      import graft.similarity.{SimilarityQueries => SQ}
      import scala.jdk.CollectionConverters._
      val idx   = SQ.buildIvfIndex(s, dir)
      val cents = SQ.loadCentroids(s, idx)
      val child = graft.core.Sessions.withConf(s,
        "spark.sql.shuffle.partitions" -> streamPartitions)
      val schema = Tables.fileSchema(child, s"$dir/embeddings.parquet")
      val qs = child.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(dir)
      val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_topk")
      val out = java.util.Collections.synchronizedList(
        new java.util.ArrayList[(Long, Int, Long, Double)]())
      try {
        val q = qs.writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            // one batch-slice collect; probes + the static partition
            // filter derive on the driver (localProbesOf — the
            // ss_ivf_probe serving shape, r16 job fusion)
            val qRows = SQ.collectedQueries(
              batch.filter(col("vec_id") < 20))
            val (probes, cells) = SQ.localProbesOf(child, qRows, cents)
            if (cells.nonEmpty) {
              val assigned = Tables.readPq(child, s"$idx/cells")
                .filter(col("cell").isin(cells.map(Integer.valueOf): _*))
                .select(col("vec_id"), col("embedding"), col("cell"))
              // ≤ 5 rows per query in this batch — bounded accumulate
              out.addAll(SQ.rankTail(assigned, probes).collect().toSeq
                .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
                  r.getDouble(3))).asJava)
            }
            ()
          }
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        import s.implicits._
        out.asScala.toSeq.sorted.toDF("qid", "rk", "nid", "cos")
      } finally {
        import java.nio.file.Files
        Files.walk(ckpt).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
      }
    },
    // streaming serving must return the batch answer: the persisted
    // index encodes the trained model, so the train+serve oracle
    // applies verbatim (the ss_ivf_probe contract)
    oracle = graft.similarity.SimilarityQueries.ivfTopk.oracle,
    eagerPlan = Some((s, dir) => {
      import graft.similarity.{SimilarityQueries => SQ}
      val idx   = SQ.buildIvfIndex(s, dir)
      val cents = SQ.loadCentroids(s, idx)
      val probes = SQ.probesOf(Tables(s, dir).embeddings, cents)
      val assigned = Tables.readPq(s, s"$idx/cells")
        .select(col("vec_id"), col("embedding"), col("cell"))
      SQ.rankTail(assigned, probes)
    }),
  )

  /** Rolling z-score anomaly detection over the CONTINUOUSLY-MAINTAINED
    * hourly rollup — how anomaly detection actually deploys: the
    * streaming job keeps the (hour, type) counts incremental (window
    * state, the ev_stream_hourly contract), and the scoring tail — the
    * exact [[graft.operators.Events.anomalyTail]] the batch query runs,
    * shared as code, 24-hour trailing window, integer Σn/Σn² variance —
    * reads the bounded rollup (hour×type rows, the declared
    * bounded-collect contract of the memory seam). Complete mode over
    * the finite backlog makes the rollup equal the batch aggregation,
    * so the oracle is `ev_anomaly`'s verbatim: the gate pins that the
    * incremental rollup feeds the identical top-10 anomaly board.
    */
  val streamAnomaly = Query(
    "ev_stream_anomaly",
    (s, dir) => {
      val hourly = runToTable(
        eventsStream(s, dir)
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n")))
        .select(col("window.start").as("h"), col("event_type"), col("n"))
      // bounded from here on: hour×type rows (~3.4k at sf0.1)
      graft.operators.Events.anomalyTail(hourly)
    },
    oracle = graft.operators.Events.anomaly.oracle,
    eagerPlan = Some((s, dir) =>
      graft.operators.Events.anomaly.run(s, dir)),
  )

  /** Value-distribution quantiles as STREAMING STATE — the fourth
    * sketch-as-state entry next to Count-Min, Space-Saving and HLL:
    * `percentile_approx`'s mergeable quantile summary accumulates
    * across micro-batches in one global aggregation state, and the
    * gate pins its GUARANTEE (the q_approx_quantiles contract): after
    * the stream drains, the 1-row sketch crosses the batch corpus and
    * the observed ranks of a50/a90/a99 must sit within the accuracy
    * band. The band is 2× the single-pass 1/acc because the streaming
    * path MERGES per-batch summaries (GK merge error compounds
    * additively in the worst case); DuckDB re-asserts the flags from
    * exact ranks.
    */
  val streamQuantiles = Query(
    "ev_stream_quantiles",
    (s, dir) => {
      val acc = 1000
      val eps = 2.0 / acc + 1e-9
      val agg = eventsStream(s, dir).agg(
        percentile_approx(col("value"), lit(0.5), lit(acc)).as("a50"),
        percentile_approx(col("value"), lit(0.9), lit(acc)).as("a90"),
        percentile_approx(col("value"), lit(0.99), lit(acc)).as("a99"),
        count(lit(1)).as("n"))
      val sk = runToTable(agg)
      // 1 row from here on — the sanctioned 1-row broadcast cross
      val ev = Tables(sk.sparkSession, dir).events.select(col("value").as("x"))
      def ok(ap: String, p: Double) = {
        val lt = sum((col("x") < col(ap)).cast("long")) / first(col("n"))
        val le = sum((col("x") <= col(ap)).cast("long")) / first(col("n"))
        (lt <= p + eps) && (le >= p - eps)
      }
      ev.crossJoin(broadcast(sk))
        .agg(
          first(col("n")).as("n"),
          ok("a50", 0.5).as("p50_ok"),
          ok("a90", 0.9).as("p90_ok"),
          ok("a99", 0.99).as("p99_ok"))
    },
    oracle = Some("""
      SELECT count(*) AS n, true AS p50_ok, true AS p90_ok, true AS p99_ok
      FROM events
    """),
    eagerPlan = Some((s, dir) =>
      Tables(s, dir).events.agg(
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("a50"),
        percentile_approx(col("value"), lit(0.9), lit(1000)).as("a90"),
        percentile_approx(col("value"), lit(0.99), lit(1000)).as("a99"),
        count(lit(1)).as("n"))),
  )

  /** Streaming near-dup ADMISSION — the CDC screen as the long-running
    * service it actually is: document batches arrive on a stream and
    * each one screens against the PERSISTED band index inside
    * `foreachBatch` via the exact batch kernel
    * ([[graft.dedup.DedupQueries.probeBandIndex]] — the ss_stream_topk
    * discipline applied to the dedup channel, completing streaming
    * serving across the index trilogy). Serving is STATELESS (each
    * batch is screened independently against the index; no cross-batch
    * state store), so per-batch cost is O(batch bands × pruned
    * buckets) and the accumulated output is one verdict row per
    * incoming doc — bounded by the batch. A production deployment
    * points the same foreachBatch at a Kafka ingest stream; nightly
    * `upsertBandIndex` calls swap admitted docs in under it. The
    * oracle is `dd_minhash_cdc`'s verbatim — streaming admission must
    * return the batch screen's answer.
    */
  val streamAdmission = Query(
    "dd_stream_admission",
    (s, dir) => {
      import graft.dedup.{DedupQueries => DQ}
      import scala.jdk.CollectionConverters._
      val idx = DQ.buildBandIndex(s, dir)
      val child = graft.core.Sessions.withConf(s,
        "spark.sql.shuffle.partitions" -> streamPartitions)
      val schema = Tables.fileSchema(child, s"$dir/documents.parquet")
      val docsStream = child.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
      val ckpt =
        java.nio.file.Files.createTempDirectory("graft_stream_admission")
      val out = java.util.Collections.synchronizedList(
        new java.util.ArrayList[(Long, String, Double)]())
      try {
        val q = docsStream.writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val incoming = DQ.cdcIncoming(batch)
            // one verdict row per incoming doc — bounded accumulate.
            // The collect is the GATE's memory sink (the driver hashes
            // the rows); a production deployment writes each batch's
            // verdicts to a real sink instead and nothing reaches the
            // driver.
            out.addAll(DQ.probeBandIndex(child, idx, incoming)
              .collect().toSeq
              .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
              .asJava)
            ()
          }
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        import s.implicits._
        out.asScala.toSeq.sortBy(_._1).toDF("doc_id", "status", "best_jac")
      } finally {
        import java.nio.file.Files
        Files.walk(ckpt).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
      }
    },
    // streaming admission must return the batch screen's answer: the
    // persisted index encodes the same signatures, banding, and cap
    oracle = graft.dedup.DedupQueries.minhashCdc.oracle,
    eagerPlan = Some((s, dir) => {
      import graft.dedup.{DedupQueries => DQ}
      DQ.probeBandIndex(s, DQ.buildBandIndex(s, dir),
        DQ.cdcIncoming(Tables(s, dir).documents))
    }),
  )

  /** Admit-AND-ingest streaming admission — the FULL admission service
    * [[streamAdmission]] is the stateless half of: inside each
    * micro-batch the incoming docs first SCREEN against the persisted
    * band index ([[graft.dedup.DedupQueries.probeBandIndex]]), then the
    * admitted ('new') docs INGEST into it
    * ([[graft.dedup.DedupQueries.upsertBandIndex]]) — so a near-dup
    * arriving in batch 2 of an original admitted in batch 1 is caught,
    * which a stateless screen provably misses (StreamIngestSpec plants
    * exactly that cross-batch pair and checks both behaviors). Two
    * deterministic nightly files stream through `maxFilesPerTrigger=1`
    * in mtime order: batch 1 is the standard nightly batch
    * ([[graft.dedup.DedupQueries.cdcIncoming]]), batch 2 re-submits
    * batch 1's fresh texts verbatim under new ids (dup ONLY because
    * batch 1 ingested) plus a genuinely new second wave. Per-batch cost
    * = the screen's O(batch bands × pruned buckets) + the upsert's
    * O(batch + touched buckets); no cross-batch state store — the
    * INDEX is the state, exactly how a production admission tier
    * holds it. The whole loop runs ONCE per corpus generation and
    * persists its VERDICT LOG next to the mutated index (the
    * production sink — an admission service's verdict history is a
    * durable table, not something a consumer re-admits per query);
    * the gated row reads the log, the same applied-once discipline as
    * `dd_band_upsert`/`tx_index_upsert`, and the atomic publish makes
    * the index+log pair appear only complete. The oracle recomputes
    * the sequential chain from scratch: screen 1 over documents,
    * screen 2 over documents ∪ screen 1's admissions.
    */
  /** Stage `df` as the single parquet file `name.parquet` under
    * `stage` with the given mtime — one "nightly ingest file" for the
    * admit-and-ingest loops, which feed these through
    * `maxFilesPerTrigger=1` in mtime order (the deterministic stand-in
    * for N nights of arrivals; only the ORDER matters, so callers pass
    * a fixed epoch + offsets). `scratch` hosts the single-file write.
    */
  private def stageBatch(df: DataFrame, scratch: String, stage: String,
      name: String, mtime: Long): Unit = {
    import java.nio.file.Files
    val stmp = s"$scratch/stage_$name"
    df.coalesce(1).write.mode("overwrite").parquet(stmp)
    val part = new java.io.File(stmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dst = new java.io.File(s"$stage/$name.parquet")
    Files.move(part.toPath, dst.toPath)
    dst.setLastModified(mtime)
    ()
  }

  /** The ONE admit-and-ingest loop scaffold behind every streaming
    * ingest row (band/text/vector/image/audio channels — the r13
    * verdict's ask: the per-channel loops shared ~80 % structure and
    * each new channel was re-copying it). The scaffold owns everything
    * channel-independent:
    *  - the fingerprint-keyed atomic publish (the loop runs ONCE per
    *    corpus generation; the index+log pair appears only complete);
    *  - a reduced-shuffle child session sized to the nightly batch;
    *  - staging the nightly files with ordered mtimes so
    *    `maxFilesPerTrigger=1` feeds them oldest-first — the
    *    deterministic stand-in for N nights of arrivals;
    *  - the verdict log, KEYED BY MICRO-BATCH ID and written DURABLY
    *    inside foreachBatch as a `mbatch=<id>` partition overwrite
    *    ([[IngestStream.run]]): an at-least-once retry REPLACES its
    *    batch's rows instead of appending a second copy (the r13
    *    advice finding), a crash between batches loses no committed
    *    verdicts (the r14 ask — the log used to buffer in driver
    *    memory until stream end), and the once-per-generation sorted
    *    log assembles from the partitions.
    * The channel supplies only: the stream/log schemas, the staged
    * batch frames, and `setup` — build the index under the temp root
    * and return the per-batch handler (screen/ingest order is the
    * channel's contract; the handler returns the batch's verdict
    * rows, bounded by the nightly batch). Handlers must stay
    * idempotent per batch (they are: every channel's upsert either
    * MERGEs or anti-joins stored keys first).
    */
  private def ingestLoop(s: SparkSession, dir: String, family: String,
      srcFile: String, streamSchema: String, logSchema: String,
      batches: SparkSession => Seq[DataFrame],
      setup: (SparkSession, String) => (DataFrame, Long) => Seq[Row],
      continuousTrigger: Boolean = false): String = {
    import java.nio.file.Files
    val root = graft.core.IndexDirs.publishCurrent(
        s.sparkContext.hadoopConfiguration, dir, srcFile, family) { tmp =>
      val child = graft.core.Sessions.withConf(s,
        "spark.sql.shuffle.partitions" -> streamPartitions)
      val idx    = s"$tmp/idx"
      val handle = setup(child, idx)
      val stage  = s"$tmp/in"
      Files.createDirectories(java.nio.file.Paths.get(stage))
      val t0 = 1700000000000L // fixed epoch: only the ORDER matters
      val bs = batches(s)
      bs.zipWithIndex.foreach { case (b, i) =>
        stageBatch(b, tmp, stage, s"batch${i + 1}", t0 + i * 120000L)
      }
      // one family (the vector channel) runs the UNBOUNDED trigger —
      // ProcessingTime ticks + maxFilesPerTrigger rate limiting,
      // stopped by the data-complete condition so the finite-backlog
      // oracle hash-matches (r15 verdict task 4); the rest run
      // AvailableNow, the finite-backlog oracle seam
      if (continuousTrigger)
        IngestStream.runContinuous(child, stage, streamSchema, logSchema,
          s"$tmp/logparts", s"$tmp/ckpt", handle, nBatches = bs.size)
      else IngestStream.run(child, stage, streamSchema, logSchema,
        s"$tmp/logparts", s"$tmp/ckpt", handle)
      // assemble the generation's gated log from the per-batch
      // partitions (`mbatch` is durable bookkeeping, not a log column
      // — and deliberately NOT named `batch`, which the text channel's
      // log schema uses: a partition directory shadows a same-named
      // data column on read, so the old `batch=<id>` key silently
      // erased that channel's own column here)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(logSchema)
      s.read.parquet(s"$tmp/logparts").drop("mbatch")
        .orderBy(schema.fieldNames.toSeq.map(col): _*)
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/log")
    }
    s"$root/log"
  }


  private[graft] def ingestDemoLog(s: SparkSession, dir: String): String = {
    import graft.dedup.{DedupQueries => DQ}
    ingestLoop(s, dir, "graft_stream_ingest", "documents.parquet",
      "doc_id LONG, text STRING",
      "doc_id LONG, status STRING, best_jac DOUBLE",
      ss => {
        val d = Tables(ss, dir).documents
        Seq(DQ.cdcIncoming(d), DQ.ingestBatch2(d))
      },
      (child, idx) => {
        DQ.writeBandIndex(s,
          Tables(s, dir).documents.select(col("doc_id"), col("text")), idx)
        (batch, _) => DQ.BandLayout.admit(child, idx, batch)(
          DQ.probeBandIndex(child, idx, _, excludeBatchIds = true),
          DQ.upsertBandIndex(child, idx, _))
      })
  }

  /** Streaming VECTOR ingest — [[streamIngest]]'s discipline on the
    * dense channel, closing the r12 gap (the IVF index had batch
    * upsert and stream SERVING but no ingest loop, so embeddings
    * landing between full builds were invisible until a manual
    * upsert): inside each micro-batch the incoming vectors first
    * INGEST into the persisted IVF index
    * ([[graft.similarity.SimilarityQueries.upsertIvfIndex]] — a MERGE,
    * so a foreachBatch retry after a committed upsert re-applies
    * cleanly by construction), then the batch's own vectors PROBE the
    * index they just joined (self excluded) — the freshness contract a
    * serving tier actually signs: a query vector arriving in batch 2
    * that duplicates a batch-1 vector must get that vector back at
    * cos = 1, which a build-time-frozen index provably cannot do
    * (StreamVecIngestSpec plants exactly that pair and checks the
    * frozen counterfactual misses it). The centroid model stays FIXED
    * across batches (the upsert's contract; re-trains are
    * `ss_index_retrain`'s arc). Two deterministic nightly files stream
    * through `maxFilesPerTrigger=1` in mtime order: batch 1 = fresh
    * vectors under new ids (reversed embeddings of vec_id < 8), batch
    * 2 = the SAME vectors re-submitted under different ids. Since r16
    * this channel runs the UNBOUNDED trigger
    * ([[IngestStream.runContinuous]]: `Trigger.ProcessingTime` ticks,
    * `maxFilesPerTrigger` as the rate limiter, stopped by the
    * data-complete condition) — the always-on pipeline shape the
    * other six AvailableNow loops approximate; over the finite
    * backlog both triggers commit the identical log, so the oracle is
    * unchanged (StreamContinuousSpec pins log equality and bounded
    * per-tick lag). The loop runs once per corpus generation under an
    * atomic publish and persists its probe LOG (the production sink);
    * the gated row reads the log. The oracle replays the sequential
    * chain from scratch with the fixed model: serve 1 over
    * embeddings ∪ b1 probed by b1, serve 2 over embeddings ∪ b1 ∪ b2
    * probed by b2.
    */
  private[graft] def vecIngestDemoLog(s: SparkSession, dir: String): String = {
    import graft.similarity.{SimilarityQueries => SQ}
    def freshVecs(ss: SparkSession, idOff: Long): DataFrame =
      Tables(ss, dir).embeddings.filter(col("vec_id") < 8)
        .select((col("vec_id") + idOff).as("vec_id"),
          reverse(col("embedding")).as("embedding"))
    ingestLoop(s, dir, "graft_stream_vec_v2", "embeddings.parquet",
      "vec_id LONG, embedding ARRAY<FLOAT>",
      "qid LONG, rk INT, nid LONG, cos DOUBLE",
      ss => Seq(freshVecs(ss, 300000L), freshVecs(ss, 400000L)),
      (child, idx) => {
        val cents = SQ.trainIvfCentroids(Tables(s, dir).embeddings, SQ.GateK)
        SQ.writeIvfIndex(s, Tables(s, dir).embeddings, cents, idx)
        (batch, _) => {
          // INGEST first: the upsert is a MERGE (anti-join on vec_id +
          // union), so a retried batch re-applies cleanly — no extra
          // idempotence bookkeeping needed on this channel
          SQ.upsertIvfIndex(child, idx, batch)
          // SERVE: the batch's vectors probe the index they just
          // joined — ≤ 5 rows per batch vector, the bounded probe log;
          // probes + the static partition filter derive on the driver
          // from one batch collect (localProbesOf — r16 job fusion)
          val (probes, cells) =
            SQ.localProbesOf(child, SQ.collectedQueries(batch), cents)
          val assigned = Tables.readPq(child, s"$idx/cells")
            .filter(col("cell").isin(cells.map(Integer.valueOf): _*))
            .select(col("vec_id"), col("embedding"), col("cell"))
          SQ.rankTail(assigned, probes).collect().toSeq
        }
      },
      continuousTrigger = true)
  }

  val streamVecIngest = Query(
    "ss_stream_ingest",
    (s, dir) => s.read
      .schema("qid LONG, rk INT, nid LONG, cos DOUBLE")
      .parquet(vecIngestDemoLog(s, dir))
      .orderBy(col("qid"), col("rk")),
    oracle = Some {
      import graft.similarity.{SimilarityQueries => SQ}
      s"""
      WITH ${SQ.ivfAssignCtes("16")},
      b1 AS (
        SELECT vec_id + 300000 AS vec_id,
               list_reverse(embedding) AS embedding
        FROM embeddings WHERE vec_id < 8
      ), b2 AS (
        SELECT vec_id + 400000 AS vec_id,
               list_reverse(embedding) AS embedding
        FROM embeddings WHERE vec_id < 8
      ), corpus_s1 AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL SELECT vec_id, embedding FROM b1
      ), corpus_s2 AS (
        SELECT vec_id, embedding FROM corpus_s1
        UNION ALL SELECT vec_id, embedding FROM b2
      ),
      ${SQ.ivfServeCtes("1", "corpus_s1", "b1")},
      ${SQ.ivfServeCtes("2", "corpus_s2", "b2")}
      SELECT qid, rk, nid, cos FROM top_1
      UNION ALL
      SELECT qid, rk, nid, cos FROM top_2
      ORDER BY qid, rk
    """
    },
    eagerPlan = Some((s, dir) => {
      import graft.similarity.{SimilarityQueries => SQ}
      // the declared per-batch shape: fixed-model probe of the
      // persisted index by a bounded batch (the upsert half's plan is
      // pinned by SimilaritySpec's upsert coverage)
      val idx   = SQ.buildIvfIndex(s, dir)
      val cents = SQ.loadCentroids(s, idx)
      val e     = Tables(s, dir).embeddings
      val batch = e.filter(col("vec_id") < 8)
        .select((col("vec_id") + 300000).as("vec_id"),
          reverse(col("embedding")).as("embedding"))
      val probes = SQ.probesOfAll(batch, cents)
      val assigned = Tables.readPq(s, s"$idx/cells")
        .select(col("vec_id"), col("embedding"), col("cell"))
      SQ.rankTail(assigned, probes)
    }),
  )

  /** Streaming COMPRESSED-vector ingest — [[streamVecIngest]]'s
    * discipline on the PQ channel, removing the last raw-vs-compressed
    * asymmetry: per micro-batch the incoming vectors MERGE into the
    * persisted IVF-PQ index
    * ([[graft.similarity.SimilarityQueries.upsertIvfPqIndex]] — encode
    * under the FIXED models, touched code cells only; retry-idempotent
    * by construction), then the batch's own vectors probe the index
    * they just joined via ADC. Batch 2 re-submits batch 1's vectors
    * verbatim under new ids: identical vectors encode to identical
    * codes, so each batch-2 query must get its batch-1 twin back at
    * the query's own reconstruction distance — possible only because
    * batch 1's CODES are in the served index (StreamPqIngestSpec pins
    * the frozen counterfactual). The oracle chains two fixed-model ADC
    * serves over the sequential corpus states.
    */
  private[graft] def pqIngestDemoLog(s: SparkSession, dir: String): String = {
    import graft.similarity.{SimilarityQueries => SQ}
    def freshVecs(ss: SparkSession, idOff: Long): DataFrame =
      Tables(ss, dir).embeddings.filter(col("vec_id") < 8)
        .select((col("vec_id") + idOff).as("vec_id"),
          reverse(col("embedding")).as("embedding"))
    ingestLoop(s, dir, "graft_stream_pq", "embeddings.parquet",
      "vec_id LONG, embedding ARRAY<FLOAT>",
      "qid LONG, rk INT, nid LONG, adist DOUBLE",
      ss => Seq(freshVecs(ss, 300000L), freshVecs(ss, 400000L)),
      (child, idx) => {
        val e = Tables(s, dir).embeddings
        SQ.writeIvfPqIndex(s, e, SQ.trainIvfCentroids(e, SQ.GateK),
          SQ.trainPqCodebooks(e), idx)
        (batch, _) => {
          // INGEST first: the upsert MERGEs code rows under the fixed
          // models, so a retried batch re-applies cleanly
          SQ.upsertIvfPqIndex(child, idx, batch)
          // SERVE: ADC probe of the batch against the index it just
          // joined — ≤ 5 rows per batch vector, the bounded probe log
          SQ.ivfPqProbeBatch(child, idx, batch).collect().toSeq
        }
      })
  }

  val streamPqIngest = Query(
    "ss_pq_stream_ingest",
    (s, dir) => s.read
      .schema("qid LONG, rk INT, nid LONG, adist DOUBLE")
      .parquet(pqIngestDemoLog(s, dir))
      .orderBy(col("qid"), col("rk")),
    oracle = Some {
      import graft.similarity.{SimilarityQueries => SQ}
      s"""
      WITH ${SQ.pqFixedModelCtes},
      b1 AS (
        SELECT vec_id + 300000 AS vec_id,
               list_reverse(embedding) AS embedding
        FROM embeddings WHERE vec_id < 8
      ), b2 AS (
        SELECT vec_id + 400000 AS vec_id,
               list_reverse(embedding) AS embedding
        FROM embeddings WHERE vec_id < 8
      ), corpus_p1 AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL SELECT vec_id, embedding FROM b1
      ), corpus_p2 AS (
        SELECT vec_id, embedding FROM corpus_p1
        UNION ALL SELECT vec_id, embedding FROM b2
      ),
      ${SQ.ivfPqServeCtes("1", "corpus_p1", "b1")},
      ${SQ.ivfPqServeCtes("2", "corpus_p2", "b2")}
      SELECT qid, rk, nid, adist FROM ptop_1
      UNION ALL
      SELECT qid, rk, nid, adist FROM ptop_2
      ORDER BY qid, rk
    """
    },
    eagerPlan = Some((s, dir) => {
      import graft.similarity.{SimilarityQueries => SQ}
      // the declared per-batch serving shape: the fixed-model ADC
      // probe of the persisted compressed index by a bounded batch
      // (the upsert half's plan is pinned by IvfPqProbeSpec)
      val idx = SQ.buildIvfPqIndex(s, dir)
      val batch = Tables(s, dir).embeddings.filter(col("vec_id") < 8)
        .select((col("vec_id") + 300000).as("vec_id"),
          reverse(col("embedding")).as("embedding"))
      SQ.ivfPqProbeBatch(s, idx, batch)
    }),
  )

  /** Streaming MULTI-VECTOR ingest — the admit-and-ingest loop on the
    * late-interaction channel, closing the matrix the r15 maxsim tier
    * opened (every persisted family now has batch maintenance AND a
    * streaming leg): per micro-batch the arriving token vectors MERGE
    * into BOTH persisted copies under the frozen models
    * ([[graft.similarity.SimilarityQueries.upsertMaxsimIndex]]), then
    * the batch's own DOCUMENTS MaxSim-probe the index they just
    * joined. Batch 2 re-submits batch 1's documents verbatim under new
    * ids — identical tokens encode to identical codes, so each batch-2
    * query document must see its batch-1 twin (alongside the original)
    * in its top ranks, which a build-time-frozen index provably cannot
    * return. The oracle chains two fixed-model persisted-MaxSim serves
    * over the sequential corpus states via the suffix-parameterized
    * `maxsimServeCtes`.
    */
  private[graft] def maxsimIngestDemoLog(s: SparkSession,
      dir: String): String = {
    import graft.similarity.{SimilarityQueries => SQ}
    def cloneDocs(ss: SparkSession, idOff: Long): DataFrame =
      Tables(ss, dir).embeddings.filter(col("vec_id") < 50)
        .select((col("vec_id") + idOff).as("vec_id"), col("embedding"))
    ingestLoop(s, dir, "graft_stream_maxsim", "embeddings.parquet",
      "vec_id LONG, embedding ARRAY<FLOAT>",
      "qdoc LONG, rk INT, ddoc LONG, score DOUBLE",
      ss => Seq(cloneDocs(ss, 200000L), cloneDocs(ss, 300000L)),
      (child, idx) => {
        val e = Tables(s, dir).embeddings
        SQ.writeMaxsimIndex(s, e, SQ.trainIvfCentroids(e, SQ.GateK),
          SQ.trainPqCodebooks(e), idx)
        (batch, _) => {
          // INGEST first: the upsert MERGEs code rows into both copies
          // under the fixed models, so a retried batch re-applies
          // cleanly
          SQ.upsertMaxsimIndex(child, idx, batch)
          // SERVE: the batch's documents probe the index they just
          // joined — ≤ 3 rows per query document, the bounded log
          SQ.maxsimProbeFor(child, idx, batch).collect().toSeq
        }
      })
  }

  val streamMaxsimIngest = Query(
    "ss_maxsim_stream_ingest",
    (s, dir) => s.read
      .schema("qdoc LONG, rk INT, ddoc LONG, score DOUBLE")
      .parquet(maxsimIngestDemoLog(s, dir))
      .orderBy(col("qdoc"), col("rk")),
    oracle = Some {
      import graft.similarity.{SimilarityQueries => SQ}
      s"""
      WITH mb1 AS (
        SELECT vec_id + 200000 AS vec_id, embedding
        FROM embeddings WHERE vec_id < 50
      ), mb2 AS (
        SELECT vec_id + 300000 AS vec_id, embedding
        FROM embeddings WHERE vec_id < 50
      ), mcorpus1 AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL SELECT vec_id, embedding FROM mb1
      ), mcorpus2 AS (
        SELECT vec_id, embedding FROM mcorpus1
        UNION ALL SELECT vec_id, embedding FROM mb2
      ), ${SQ.pqFixedModelCtes},
      ${SQ.maxsimServeCtes("n1", "mcorpus1", "mb1")},
      ${SQ.maxsimServeCtes("n2", "mcorpus2", "mb2")}
      SELECT qdoc, rk, ddoc, score FROM mstop_n1
      UNION ALL
      SELECT qdoc, rk, ddoc, score FROM mstop_n2
      ORDER BY qdoc, rk
    """
    },
    eagerPlan = Some((s, dir) => {
      import graft.similarity.{SimilarityQueries => SQ}
      // the declared per-batch serving shape: the cell-routed,
      // bucket-pruned candidate fetch of the persisted multi-vector
      // index by a bounded batch (the upsert half's plan rides the
      // shared IndexMerge kernel, pinned by IndexMergeSpec)
      val idx = SQ.buildMaxsimIndex(s, dir)
      val batch = Tables(s, dir).embeddings.filter(col("vec_id") < 50)
        .select((col("vec_id") + 200000).as("vec_id"), col("embedding"))
      SQ.maxsimProbeFor(s, idx, batch)
    }),
  )

  val streamIngest = Query(
    "dd_stream_ingest",
    (s, dir) => s.read
      .schema("doc_id LONG, status STRING, best_jac DOUBLE")
      .parquet(ingestDemoLog(s, dir))
      .orderBy(col("doc_id")),
    oracle = Some(graft.dedup.DedupQueries.streamIngestOracle),
    eagerPlan = Some((s, dir) => {
      import graft.dedup.{DedupQueries => DQ}
      // the declared batch shape: the screen over the persisted index
      // (the upsert half's plan is pinned by BandUpsertSpec)
      DQ.probeBandIndex(s, DQ.buildBandIndex(s, dir),
        DQ.ingestBatch2(Tables(s, dir).documents))
    }),
  )

  /** Streaming TEXT ingest — the sparse-channel leg that completes the
    * admit-and-ingest matrix across all three persisted serving
    * indexes (band: [[streamIngest]]; IVF: [[streamVecIngest]]; this):
    * inside each micro-batch the incoming documents INGEST into the
    * persisted inverted index
    * ([[graft.text.TextQueries.upsertTextIndex]] — a MERGE whose
    * replace path makes a foreachBatch retry after a committed upsert
    * re-apply cleanly by construction), then the standing query-term
    * probe ([[graft.text.TextQueries.probeTextIndex]]) SERVES from the
    * index the batch just joined — the freshness contract a retrieval
    * tier signs: a document landing in batch 1 must be scorable (and
    * must move the corpus-wide n_docs/avgdl that enter EVERY BM25
    * score) by batch 2's probes, which a build-time-frozen index
    * provably cannot do (TextStreamIngestSpec pins both directions).
    * Two deterministic nightly files stream through
    * `maxFilesPerTrigger=1` in mtime order: the base index holds the
    * corpus MINUS the doc_id % 5 == 0 holdout; batch 1 is the
    * % 10 == 0 half of the holdout, batch 2 the % 10 == 5 half — so
    * the post-loop index state is exactly the full corpus and batch
    * 2's logged probe is gateable against tx_bm25's index-less
    * pipeline verbatim, while batch 1's logged probe pins the
    * POINT-IN-TIME state (base ∪ batch 1 only — the log is what the
    * probe returned that night, not a post-hoc recomputation). Per
    * batch cost = the upsert's O(batch + touched term buckets) + the
    * probe's pruned-bucket scan; no cross-batch state store — the
    * INDEX is the state. The loop runs once per corpus generation
    * under an atomic publish and persists its probe LOG (the
    * production sink); the gated row reads the log.
    */
  private[graft] def textIngestDemoLog(s: SparkSession, dir: String): String = {
    import graft.text.{TextQueries => TQ}
    def docs(ss: SparkSession): DataFrame =
      Tables(ss, dir).documents.select(col("doc_id"), col("text"))
    // _v2: the mbatch bookkeeping rename changes what this family's
    // assembled log contains (the old `batch=` key ate the channel's
    // own `batch` column), so a previously published generation is
    // WRONG, not merely differently laid out — bump the family prefix
    // (the graft_stream_vec_v2 precedent) so stale roots cannot serve
    ingestLoop(s, dir, "graft_stream_text_v2", "documents.parquet",
      "doc_id LONG, text STRING",
      "batch INT, rk INT, doc_id LONG, bm25 DOUBLE",
      ss => Seq(docs(ss).filter(col("doc_id") % 10 === 0),
        docs(ss).filter(col("doc_id") % 10 === 5)),
      (child, idx) => {
        TQ.writeTextIndex(s, docs(s).filter(col("doc_id") % 5 =!= 0), idx)
        (batch, batchId) => {
          // INGEST first: the upsert MERGEs (replace path), so a
          // retried batch re-applies cleanly — no extra idempotence
          // bookkeeping on this channel
          TQ.upsertTextIndex(child, idx, batch)
          // SERVE: the standing query-term probe against the index
          // the batch just joined — ≤ 25 rows per batch, the bounded
          // probe log (micro-batch ids are 0-based and deterministic
          // under AvailableNow + maxFilesPerTrigger=1)
          TQ.probeTextIndex(child, idx).collect().toSeq
            .map(r => Row(batchId.toInt + 1, r.getInt(0), r.getLong(1),
              r.getDouble(2)))
        }
      })
  }

  val streamTextIngest = Query(
    "tx_stream_ingest",
    (s, dir) => s.read
      .schema("batch INT, rk INT, doc_id LONG, bm25 DOUBLE")
      .parquet(textIngestDemoLog(s, dir))
      .orderBy(col("batch"), col("rk")),
    // the oracle replays the sequential corpus states from scratch:
    // night 1's probe sees base ∪ batch 1, night 2's the full corpus
    // (= tx_bm25's pipeline verbatim) — n_docs and avgdl differ
    // between the two states, so the row is sensitive to the per-batch
    // stats refresh, not just to postings visibility
    oracle = Some {
      import graft.text.{TextQueries => TQ}
      val s1 = "(SELECT doc_id, text FROM documents " +
        "WHERE doc_id % 5 <> 0 OR doc_id % 10 = 0) base"
      s"""
      SELECT 1 AS batch, rk, doc_id, bm25 FROM (
        WITH ${TQ.bm25ScoredSqlFrom(s1)}
        SELECT row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rk,
               doc_id, bm25
        FROM scored ORDER BY bm25 DESC, doc_id LIMIT 25)
      UNION ALL
      SELECT 2 AS batch, rk, doc_id, bm25 FROM (
        WITH ${TQ.bm25ScoredSqlFrom("documents")}
        SELECT row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rk,
               doc_id, bm25
        FROM scored ORDER BY bm25 DESC, doc_id LIMIT 25)
      ORDER BY batch, rk
    """
    },
    eagerPlan = Some((s, dir) => {
      import graft.text.{TextQueries => TQ}
      // the declared per-batch serving shape: the pruned-bucket probe
      // of the persisted index (the upsert half's plan is pinned by
      // TextIndexUpsertSpec)
      TQ.probeTextIndex(s, TQ.buildTextIndex(s, dir))
    }),
  )

  /** Streaming MEDIA admission for one channel — [[streamIngest]]'s
    * admit-and-ingest discipline through the shared media kernel, so
    * media blobs are screened on arrival as text documents are: per
    * micro-batch the arrivals hash in the decode seam (the blobs never
    * shuffle), SCREEN against the persisted index
    * ([[graft.multimodal.Multimodal.probeMediaIndex]] — probe-time
    * hot-band cap, so cap semantics stay from-scratch under the ingest
    * history), then the admitted ('new') items INGEST
    * ([[graft.operators.BandedIndex.admit]]). Night 2's first wave
    * re-encodes night 1's FRESH admissions — caught as 'dup' ONLY
    * because night 1 ingested them, which the stateless screen provably
    * misses (MediaStreamIngestSpec plants the pair and checks both
    * behaviors). The loop runs once per corpus generation under an
    * atomic publish and persists its verdict LOG (the production sink);
    * the gated row reads the log.
    */
  private[graft] def mediaIngestDemoLog(s: SparkSession, dir: String,
      ch: graft.multimodal.Multimodal.MediaChannel): String = {
    import graft.multimodal.{Multimodal => MM}
    ingestLoop(s, dir, ch.streamFamily, "documents.parquet",
      ch.streamSchema, "media_id LONG, status STRING, best_hamming INT",
      ss => {
        val d = Tables(ss, dir).documents
        Seq(ch.night1(d), ch.night2(d))
      },
      (child, idx) => {
        MM.writeMediaBase(s, dir, ch.corpusHashes(s, dir))(idx)
        (batch, _) => MM.MediaLayout.admit(child, idx, ch.hashes(batch))(
          MM.probeMediaIndex(child, idx, _, excludeBatchIds = true),
          MM.upsertMediaIndex(child, idx, _))
      })
  }

  /** `dd_<c>_stream_ingest`: the channel's ingest log, gated by the
    * two-night chain recomputed from scratch
    * ([[graft.multimodal.Multimodal.streamIngestOracle]]).
    */
  private def mediaStreamIngest(
      ch: graft.multimodal.Multimodal.MediaChannel): Query = {
    java.util.Objects.requireNonNull(ch,
      "media channel read before its initialisation")
    Query(
      s"dd_${ch.name}_stream_ingest",
      (s, dir) => s.read
        .schema("media_id LONG, status STRING, best_hamming INT")
        .parquet(mediaIngestDemoLog(s, dir, ch))
        .orderBy(col("media_id")),
      oracle = Some(graft.multimodal.Multimodal.streamIngestOracle(ch)),
      eagerPlan = Some((s, dir) => {
        import graft.multimodal.{Multimodal => MM}
        // the declared batch shape: the screen over the persisted index
        // (the ingest half's plan is pinned by ImageIndexSpec)
        MM.probeMediaIndex(s, MM.buildMediaIndex(s, dir, ch),
          ch.hashes(ch.night2(Tables(s, dir).documents)))
      }),
    )
  }

  val streamImageIngest = mediaStreamIngest(graft.multimodal.Multimodal.Image)
  val streamAudioIngest = mediaStreamIngest(graft.multimodal.Multimodal.Audio)
  val streamVideoIngest = mediaStreamIngest(graft.multimodal.Multimodal.Video)

  def all: Seq[Query] =
    Seq(streamHourly, streamSessions, streamRangeJoin, streamLeftJoin,
      streamWordcount, streamEnrich, streamUpsert, streamClean,
      streamHeavyHitters, streamScd2, streamSliding, streamCountMin,
      streamTopk, streamFunnel, streamHourlyUsers, streamAsof,
      streamAnomaly, streamQuantiles, streamAdmission, streamIngest,
      streamVecIngest, streamTextIngest, streamImageIngest,
      streamAudioIngest, streamVideoIngest, streamPqIngest,
      streamMaxsimIngest)
}
