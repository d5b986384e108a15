package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming twins of graft.analytics.EventAnalytics — the
  * same logical transforms applied to an unbounded `events` stream
  * (reference has no streaming surface, SURVEY §2.7; this is the
  * driver's north-star extension).
  *
  * All operators take the streaming DataFrame as input so they compose
  * with any source (file stream over the parquet layout, Kafka, rate,
  * or MemoryStream in tests). Watermarks bound state: at 100 TB/day the
  * state store holds only open windows/sessions inside the lateness
  * horizon, and each trigger shuffles only the new micro-batch.
  */
object EventStreams {

  /** File-stream source over the testdata `events` parquet layout:
    * [[tableStream]] plus the TIMESTAMP(NANOS) rebuild Tables.load does
    * for batch reads (nanosAsLong sessions). */
  def fromParquetDir(spark: SparkSession, dir: String): DataFrame = {
    val raw = tableStream(spark, dir, "events")
    val fixed =
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else raw
    // naive parquet timestamps read as TIMESTAMP_NTZ, which watermarks
    // reject — same session-TZ normalization as the batch loader
    graft.Tables.normalizeNtz(fixed)
  }

  /** Schema-declared file stream over any single-file testdata table
    * ([[fromParquetDir]] adds the events-specific timestamp rebuild on
    * top). The testdata layout stores each table as one parquet FILE;
    * file streams need a directory, so stream the parent with a glob
    * filter. */
  def tableStream(spark: SparkSession, dir: String, table: String): DataFrame = {
    val schema = graft.Tables.readParquet(spark, s"$dir/$table.parquet").schema
    spark.readStream.schema(schema)
      .option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** Ingest-time curation: the (language, quality) gate applied to the
    * document STREAM — purely stateless per-row predicates (compiled
    * LangId + QualitySignals expressions), no watermark, no state
    * store, so it filters at ingest throughput forever. The batch twin
    * is the front half of TextAnalysis.curationPipeline; dedup stays a
    * batch/incremental concern (x55) because content keys need state. */
  def curationFilterStream(docs: DataFrame): DataFrame = {
    val qs = graft.functions.TextFunctions.qualitySignals(col("text"))
    docs
      .filter(graft.functions.TextFunctions.langId(col("text")) === "en")
      .filter(qs.getField("quality") >= 50.0)
      // quality is a RAW per-row double — the repo rounding rule: round
      // aggregated values at the query edge, never per-row scalars
      // (engines disagree on .xx5-adjacent doubles; measured: 5 of
      // ~4.5k rows flipped at sf0.1 when this was round(·, 2))
      .select(col("doc_id"), col("source"), qs.getField("quality").as("quality"))
  }

  /** Tumbling 1-hour counts per event type with a 2-hour watermark —
    * streaming twin of EventAnalytics.tumblingCounts. Append-mode safe:
    * a window emits once its end passes the watermark. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
              col("n_events"), col("total_value"))

  /** Sliding 1-hour/30-minute windows — twin of slidingCounts. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .select(col("w.start").as("window_start"), col("n_events"), col("total_value"))

  /** Native session windows (30-minute gap) per user — Spark's built-in
    * session_window operator; state = one open session per active user. */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("session_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
              col("w.end").as("session_end"), col("n_events"), col("session_value"))

  // ---- custom stateful sessionization --------------------------------

  case class Event(event_id: Long, user_id: Long, event_type: String,
                   ts: java.sql.Timestamp, value: Double)

  case class SessionState(start: Long, lastTs: Long, nEvents: Long, totalValue: Double)

  case class Session(user_id: Long, session_start: java.sql.Timestamp,
                     session_end: java.sql.Timestamp, n_events: Long,
                     session_value: Double)

  private val GapMs = 30 * 60 * 1000L

  /** flatMapGroupsWithState gap sessionization — the custom-state path
    * for semantics session_window can't express (e.g. per-session derived
    * metrics, caps, or emit-on-update). Emits a session when the gap
    * elapses (event-time timeout) or a new event opens the next session.
    *
    * State per user is O(1) (one open session), keyed shuffle is on
    * user_id only — the same partitioning a 1000-executor cluster needs.
    */
  def sessionizeStateful(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          val out = scala.collection.mutable.ArrayBuffer[Session]()

          if (state.hasTimedOut) {
            state.getOption.foreach { s => out += close(userId, s) }
            state.remove()
          } else {
            val sorted = batch.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastTs <= GapMs =>
                  cur = Some(s.copy(lastTs = math.max(s.lastTs, t),
                                    nEvents = s.nEvents + 1,
                                    totalValue = s.totalValue + e.value))
                case Some(s) => // gap exceeded: close previous, open new
                  out += close(userId, s)
                  cur = Some(SessionState(t, t, 1L, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // timeout fires once the event-time watermark passes last+gap
              state.setTimeoutTimestamp(s.lastTs + GapMs)
            }
          }
          out.iterator
      }
  }

  private def close(userId: Long, s: SessionState): Session =
    Session(userId, new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.lastTs),
            s.nEvents,
            // HALF_UP on the decimal expansion — the same rounding Spark's
            // round() applies, so the batch-twin oracle's ROUND agrees
            // (math.rint is half-even and diverges on exact .xx5 sums)
            BigDecimal(s.totalValue).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)

  /** Run any of the above to an in-memory sink and return the collected
    * result — the execution harness tests (and callers doing bounded
    * replays) share. Trigger.AvailableNow makes it a deterministic
    * single pass over bounded sources that terminates on its own.
    *
    * `statePartitions`: stateful streaming operators instantiate one
    * state store PER shuffle partition PER operator; a bounded replay
    * over thousands of keys wants a handful, not the batch session's
    * CPU-count default (measured: the stream-stream join replay spends
    * more wall-clock on 32 state stores' bookkeeping than on data).
    * Sizing state partitions to the keyspace — not the core count — is
    * the same decision a production job makes; the conf is restored
    * after the run. Default 4, measured best of {8, 4, 2} on the five
    * stateful replays at sf0.1 (13.7 / 16.8 / 16.0 s); overridable via
    * SPARK_GRAFT_STATE_PARTS for re-tuning on other corpora. Per-batch
    * progress (SPARK_GRAFT_STREAM_DEBUG=1) shows the remaining replay
    * cost is addBatch — the stateful execution itself — plus incremental
    * planning, NOT trigger machinery: there is no multi-trigger floor
    * left to trim (1 data batch per bounded source + the one
    * watermark-finalization batch append-mode correctness requires).
    *
    * NOT thread-safe: the conf change is session-global, so a batch
    * query planned concurrently on the same session would pick up the
    * reduced partition count. The verify/bench harnesses are strictly
    * sequential; concurrent callers should pass a cloned session
    * (`spark.newSession()`). */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode = OutputMode.Append(),
                  statePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_STATE_PARTS", "4").toInt,
                  maxRows: Long = MaxReplayRows): DataFrame = {
    val spark = df.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    // Bounded replays don't need durable checkpoints (the source is
    // finite and the result is re-derivable), but the state store still
    // fsyncs its delta files there every micro-batch — on a loaded VM
    // that disk IO is the dominant, weather-sensitive cost of the
    // stream-stream join replays (measured: identical code 2.4-23 s).
    // Use a RAM-backed dir when the host has one; a production job
    // points this at reliable shared storage instead.
    val ckptBase = if (java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get("/dev/shm"))) "/dev/shm" else
      System.getProperty("java.io.tmpdir")
    val ckpt = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(ckptBase), "graft_replay_ckpt_")
    try {
      // Trigger.AvailableNow: snapshot the available offsets, process
      // them, run the watermark-finalization no-data batch, and STOP —
      // the single-pass replay shape (verdict r12 item 7). The previous
      // default-trigger + processAllAvailable + stop() handshake paid
      // extra poll/stop latency per replay with identical output (the
      // finalization batch runs under both; every replay gate stayed
      // hash-green across the switch). Trigger-boundary semantics that
      // NEED multiple data batches (x91/x105 exactly-once folds) keep
      // their own maxFilesPerTrigger harnesses.
      val q = df.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode(mode).start()
      q.awaitTermination()
      if (sys.env.contains("SPARK_GRAFT_STREAM_DEBUG"))
        q.recentProgress.foreach { p =>
          Console.err.println(s"[replay $name] batch=${p.batchId} rows=${p.numInputRows} " +
            s"durationMs=${p.durationMs} stateOps=${p.stateOperators.length}")
        }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      // best-effort cleanup: a replay checkpoint has no value after stop
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => () }
    }
    // the memory sink pins its rows on the driver for the session's
    // lifetime via the registered temp view — detach the result (the
    // sink already materialized it driver-side, so this copies, not
    // grows) and drop the view so repeated replays don't accumulate
    val sunk = spark.table(name)
    // Loud guard on the driver-side materialization the memory sink
    // implies: this harness is for BOUNDED replays (tests, verify,
    // bench). A result past the cap means someone pointed it at a
    // production-sized stream — fail with the contract named instead
    // of quietly driving the driver toward OOM. The count is free:
    // the sink already holds the rows in driver memory.
    val n = sunk.count()
    if (n > maxRows) {
      spark.catalog.dropTempView(name)
      throw new IllegalStateException(
        s"runToMemory('$name') produced $n rows > maxRows=$maxRows. " +
        "The memory-sink replay harness materializes its result on the " +
        "driver and is for BOUNDED replays only; route unbounded or " +
        "large streams to a distributed sink (parquet/kafka/foreachBatch).")
    }
    val detached = spark.createDataFrame(sunk.collectAsList(), sunk.schema)
    spark.catalog.dropTempView(name)
    detached
  }

  /** Row cap for [[runToMemory]] — far above any bounded replay in the
    * suite (largest is ~10k rows at sf0.1) yet small enough that the
    * driver copy stays trivially safe. */
  val MaxReplayRows: Long = 1000000L

  /** Stream-static enrichment: the unbounded event stream joined to a
    * static user-dimension frame. Catalyst broadcasts the static side
    * into every micro-batch — no stream-side state, the steady-state
    * pattern for dimension lookups at any scale. */
  def enrichWithStatic(events: DataFrame, userDim: DataFrame): DataFrame =
    events.join(broadcast(userDim), Seq("user_id"), "left")

  /** Stream-stream join: views joined to the same user's purchases
    * within the following hour. Both sides are watermarked so the
    * state store holds only rows inside the join horizon — the
    * interval condition gives Spark the bound it needs to GC state;
    * without it, stream-stream state grows forever. */
  def viewToPurchaseJoin(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.withWatermark("ts", "1 hour")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("view_ts"))
    val p = purchases.withWatermark("ts", "1 hour")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
              col("ts").as("purchase_ts"), col("value"))
    v.join(p, expr(
      """user_id = p_user_id AND
         purchase_ts >= view_ts AND
         purchase_ts <= view_ts + INTERVAL 1 HOUR"""))
      .drop("p_user_id")
  }

  /** Stream-stream LEFT OUTER interval join: every view, matched to the
    * same user's purchases within the following hour OR emitted
    * null-extended once the watermark proves no purchase can still
    * arrive — the "which impressions never converted" feed, produced
    * incrementally instead of by a nightly batch anti-join. Same
    * watermark + interval bounds as [[viewToPurchaseJoin]], so state
    * stays GC'd; the OUTER result adds no state, only an
    * eviction-time emission. An unmatched view emits exactly when its
    * join horizon (view_ts + 1 h) falls behind the watermark — which
    * makes the boundary REPLAYABLE: after a bounded stream the final
    * watermark is max(ts) − 1 h, so the emitted-null set is exactly
    * {unmatched views: view_ts + 1 h < max(ts) − 1 h}, and views
    * landing inside the final horizon stay undecided (state that would
    * emit had the stream continued) — the oracle encodes precisely
    * that cutoff. */
  def viewToPurchaseLeftOuter(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.withWatermark("ts", "1 hour")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("view_ts"))
    val p = purchases.withWatermark("ts", "1 hour")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
              col("ts").as("purchase_ts"), col("value"))
    v.join(p, expr(
      """user_id = p_user_id AND
         purchase_ts >= view_ts AND
         purchase_ts <= view_ts + INTERVAL 1 HOUR"""), "left_outer")
      .drop("p_user_id")
  }

  /** Streaming blocklist filter: drop every event from a blocked user —
    * the curation removal pass applied at ingest time instead of in a
    * batch sweep. Stream-static left-anti join: the static blocklist
    * broadcasts into every micro-batch, no stream-side state at all, so
    * it runs at ingest throughput forever (re-broadcast picks up
    * blocklist updates on restart). */
  def filterBlocklistStream(events: DataFrame, blockedUsers: DataFrame): DataFrame =
    events.join(broadcast(blockedUsers.select("user_id")), Seq("user_id"), "left_anti")

  /** At-least-once → effectively-once: drop event_id duplicates whose
    * duplicate arrives within the watermark horizon. State = one
    * (event_id, ts) entry per id inside the horizon, GC'd by the
    * watermark — bounded regardless of stream length. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Driver-checked query: bounded replay of the events file stream
    * through the streaming tumbling-window operator (complete mode emits
    * every window). Produces the exact rows of the batch twin
    * EventAnalytics.tumblingCounts — one oracle serves both engines. */
  def tumblingReplay(s: SparkSession, dir: String): DataFrame =
    runToMemory(tumblingCounts(fromParquetDir(s, dir)),
        s"stream_tumbling_${java.util.UUID.randomUUID.toString.replace("-", "")}",
        OutputMode.Complete())
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
              col("event_type"), col("n_events"), col("total_value"))
      .orderBy("window_start", "event_type")

  /** Driver-checked query: bounded replay of the events file stream
    * through the native session_window operator (complete mode emits
    * every session — bounded-replay only; production streams run append
    * with the watermark closing sessions incrementally). The DuckDB
    * oracle is the batch gap-sessionization (x17's SQL) with session_end
    * = last event + gap: session_window merges events at gap ≤ 30 min
    * (verified: an exactly-30-minute gap merges), identical membership
    * to the lag()>1800 batch rule. */
  def sessionReplay(s: SparkSession, dir: String): DataFrame =
    runToMemory(sessionWindows(fromParquetDir(s, dir)),
        s"stream_session_${java.util.UUID.randomUUID.toString.replace("-", "")}",
        OutputMode.Complete())
      .select(col("user_id"),
              date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
              date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
              col("n_events"), col("session_value"))
      .orderBy("user_id", "session_start")

  /** Driver-checked query: bounded replay through the CUSTOM-STATE
    * sessionization (flatMapGroupsWithState) — the path for semantics
    * session_window can't express, under the same batch-twin oracle
    * family as x44. Append mode only emits sessions the watermark has
    * timed out, so the replay unions a far-future sentinel event (the
    * same trick the MemoryStream specs use): it advances the global
    * watermark past every real session's timeout, flushing all of them;
    * the sentinel's own open session is filtered back out. Oracle
    * session_end = last event (fMGWS closes at the last seen event;
    * session_window's end is last + gap — both verified). */
  def statefulSessionReplay(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val maxTsRow = graft.Tables.load(s, dir, "events").agg(max(col("ts"))).collect()(0)
    if (maxTsRow.isNullAt(0)) // empty source: no sessions, nothing to flush
      return s.emptyDataset[Session].toDF()
        .select(col("user_id"),
                col("session_start").cast("string").as("session_start"),
                col("session_end").cast("string").as("session_end"),
                col("n_events"), col("session_value"))
    val maxTs = maxTsRow.getTimestamp(0)
    val sentinel = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    sentinel.addData(Event(-1L, -1L, "sentinel",
      new java.sql.Timestamp(maxTs.getTime + 3 * 3600 * 1000L), 0.0))
    val file = fromParquetDir(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"), col("value"))
    val events = file.unionByName(sentinel.toDF()).as[Event]
    runToMemory(sessionizeStateful(events).toDF(),
        s"stream_fmgws_${java.util.UUID.randomUUID.toString.replace("-", "")}")
      .filter(col("user_id") >= 0)
      .select(col("user_id"),
              date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
              date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
              col("n_events"), col("session_value"))
      .orderBy("user_id", "session_start")
  }

  /** Driver-checked query: bounded replay of the stream-stream interval
    * join (views ⋈ same-user purchases within the following hour).
    * INNER stream-stream joins emit each match the moment both sides
    * have arrived — no watermark flush needed for a bounded replay
    * (only outer joins wait); the watermarks' job is state GC. Oracle =
    * the plain batch interval join. */
  def viewPurchaseReplay(s: SparkSession, dir: String): DataFrame = {
    val ev = fromParquetDir(s, dir)
    val joined = viewToPurchaseJoin(
      ev.filter(col("event_type") === "view"),
      ev.filter(col("event_type") === "purchase"))
    runToMemory(joined,
        s"stream_vp_${java.util.UUID.randomUUID.toString.replace("-", "")}")
      .select(col("view_id"), col("user_id"),
              date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss").as("view_ts"),
              col("purchase_id"),
              date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
              col("value"))
      .orderBy("view_id", "purchase_id")
  }

  /** Driver-checked query: bounded replay of the LEFT OUTER
    * view→purchase interval join. Matched rows carry the purchase;
    * never-converted views arrive null-extended once the final
    * watermark (max ts − 1 h) passes their join horizon — see
    * [[viewToPurchaseLeftOuter]] for why that boundary is exact. */
  def viewPurchaseOuterReplay(s: SparkSession, dir: String): DataFrame = {
    val ev = fromParquetDir(s, dir)
    val joined = viewToPurchaseLeftOuter(
      ev.filter(col("event_type") === "view"),
      ev.filter(col("event_type") === "purchase"))
    runToMemory(joined,
        s"stream_vpo_${java.util.UUID.randomUUID.toString.replace("-", "")}")
      .select(col("view_id"), col("user_id"),
              date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss").as("view_ts"),
              col("purchase_id"),
              date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
              col("value"))
      .orderBy("view_id", "purchase_id")
  }

  /** Driver-checked query: at-least-once delivery replay — the events
    * file stream UNIONED WITH A SECOND READ of the same files (every
    * event delivered exactly twice, the redelivery pattern a restarted
    * upstream producer creates) pushed through
    * [[dedupWithinWatermark]]. The state store sees each event_id
    * twice inside the horizon and emits it once, so the oracle is
    * simply the events table — effectively-once semantics made
    * checkable. Watermarked state is GC'd by event time, so the
    * operator holds one horizon's worth of ids regardless of stream
    * length. */
  def dedupReplay(s: SparkSession, dir: String): DataFrame = {
    val twice = fromParquetDir(s, dir).unionByName(fromParquetDir(s, dir))
    runToMemory(dedupWithinWatermark(twice),
        s"stream_dedup_${java.util.UUID.randomUUID.toString.replace("-", "")}")
      .select(col("event_id"),
              date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
              col("user_id"), col("event_type"), col("value"))
      .orderBy("event_id")
  }

  /** Driver-checked query: stream-static enrichment replay — the events
    * file stream left-joined to the static customer dimension through
    * [[enrichWithStatic]] (Catalyst broadcasts the dim into every
    * micro-batch; zero stream-side state, so the enrich step runs at
    * ingest throughput at any corpus size), then rolled up per
    * (market segment, event type). Complete-mode groupBy so the bounded
    * replay emits the final table; value mass in exact integer cents
    * (the x105 convention) so the rollup is engine-exact. The left join
    * + UNKNOWN fill keeps events with no dimension row — dropping them
    * silently is the classic enrich-join data-loss bug. */
  def enrichReplay(s: SparkSession, dir: String): DataFrame = {
    val dim = graft.Tables.load(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val enriched = enrichWithStatic(fromParquetDir(s, dir), dim)
      .withColumn("segment", coalesce(col("segment"), lit("UNKNOWN")))
    val agg = enriched.groupBy("segment", "event_type")
      .agg(count(lit(1)).as("n_events"),
           sum(round(col("value") * 100, 0).cast("long")).cast("long").as("total_cents"))
    runToMemory(agg,
        s"stream_enrich_${java.util.UUID.randomUUID.toString.replace("-", "")}",
        OutputMode.Complete())
      .orderBy("segment", "event_type")
  }

  /** Driver-checked query: bounded replay of the document stream
    * through the ingest-time curation gate. Stateless append — every
    * passing document emits exactly once; the oracle is the batch
    * gate's SQL (shared CTE with x27, so stream and batch semantics
    * can never drift). */
  def curationReplay(s: SparkSession, dir: String): DataFrame =
    runToMemory(curationFilterStream(tableStream(s, dir, "documents")),
        s"stream_curation_${java.util.UUID.randomUUID.toString.replace("-", "")}")
      .orderBy("doc_id")

  /** Driver-checked query: top event types per 6-hour window — the
    * streaming-aggregate → batch-re-rank composition a production job
    * uses because Structured Streaming forbids chained aggregations in
    * one query: the stream maintains per-(window, type) counts
    * (Complete-mode replay emits them all), and the bounded result is
    * re-ranked by the algebraic bounded-heap TopK aggregate. 6-hour
    * windows are epoch-aligned in both engines, so the oracle is
    * integer epoch arithmetic + a rank window. */
  def windowTopTypesReplay(s: SparkSession, dir: String): DataFrame = {
    val counts = runToMemory(
      fromParquetDir(s, dir)
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt")),
      s"stream_toptypes_${java.util.UUID.randomUUID.toString.replace("-", "")}",
      OutputMode.Complete())
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
              col("event_type"), col("cnt"))
    graft.functions.TopKAgg.topKPerKey(counts, Seq("window_start"), col("cnt"),
        col("event_type"), 3)
      .select(col("window_start"), col("rank"),
        get_json_object(col("entry_json"), "$.event_type").as("event_type"),
        get_json_object(col("entry_json"), "$.cnt").cast("long").as("cnt"))
      .orderBy("window_start", "rank")
  }

  /** Exactly-once parquet output: foreachBatch writes each micro-batch
    * to a batch-id-deterministic subdirectory with OVERWRITE, so a
    * replayed batch rewrites its own files instead of appending
    * duplicates — the production streaming-sink idempotence pattern
    * (checkpoint tracks progress; the deterministic path + overwrite
    * makes redelivery a no-op). No state store, no watermark: the sink
    * is stateless and the batch write is Spark-parallel. */
  def idempotentParquetSink(stream: DataFrame, outDir: String,
                            ckptDir: String): Unit = {
    val q = stream.writeStream
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Per-JVM scratch root for the sink replay (same lifecycle contract
    * as etl.Sources.roundtripRoot: unique per run, reused across bench
    * reps, removed on JVM exit). */
  private[graft] lazy val sinkReplayRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_sink_replay_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete(); ()
      }
      rm(p.toFile)
    }))
    p
  }

  /** x91: the events table staged as 4 files, streamed one file per
    * micro-batch through [[idempotentParquetSink]], then the ENTIRE
    * stream redelivered from a fresh checkpoint (the worst-case
    * duplicate delivery). The reread output aggregates to the exact
    * batch answer only if overwrite-by-batch-id held — doubled counts
    * red-flag the oracle immediately. */
  def idempotentSinkReplay(s: SparkSession, dir: String): DataFrame = {
    // scratch paths are keyed by the INPUT dir: redelivery of the same
    // corpus must overwrite its own batch dirs (the idempotence under
    // test), but a different corpus must never inherit another's output
    // (stale batch_id dirs from a larger earlier run would leak into
    // the reread — exactly what a real job avoids by giving each
    // dataset its own sink root)
    val key = graft.etl.Sources.dirKey(dir)
    val staged = sinkReplayRoot.resolve(s"src_$key").toString
    val out = sinkReplayRoot.resolve(s"out_$key").toString
    graft.Tables.load(s, dir, "events").repartition(4)
      .write.mode("overwrite").parquet(staged)
    val schema = graft.Tables.readParquet(s, staged).schema
    def deliverAll(): Unit = {
      val ckpt = java.nio.file.Files.createTempDirectory(
        sinkReplayRoot, "ckpt_")
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(staged)
      idempotentParquetSink(stream, out, ckpt.toString)
    }
    deliverAll()
    deliverAll() // full redelivery — idempotence keeps the totals exact
    s.read.parquet(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
      .orderBy("event_type")
  }

  /** x105: streaming aggregate-table maintenance — foreachBatch folds
    * each micro-batch's PARTIAL aggregate into a versioned running
    * state table (read v(n), union, re-aggregate, write v(n+1)), the
    * production merge-into pattern for keeping a serving aggregate
    * fresh without re-scanning history. The algebra is x83's
    * merge(agg(old), agg(delta)) = agg(all), and money rides integer
    * cents so the merge re-association is exact. Versioned writes (not
    * in-place) keep every state readable while its successor is being
    * built — the poor-man's snapshot isolation a real table format
    * provides natively. */
  def incrementalAggReplay(s: SparkSession, dir: String): DataFrame = {
    val key = graft.etl.Sources.dirKey(dir)
    val staged = sinkReplayRoot.resolve(s"agg_src_$key").toString
    val stateRoot = sinkReplayRoot.resolve(s"agg_state_$key")
    graft.Tables.load(s, dir, "events")
      .select(col("event_type"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .repartition(4).write.mode("overwrite").parquet(staged)
    val schema = graft.Tables.readParquet(s, staged).schema
    def partial(df: DataFrame): DataFrame =
      df.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("cents").as("total_cents"))
    val ckpt = java.nio.file.Files.createTempDirectory(sinkReplayRoot, "agg_ckpt_")
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(staged)
    val q = stream.writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val delta = partial(batch)
        val prev = s"$stateRoot/v$id"
        val merged =
          if (new java.io.File(prev).exists())
            batch.sparkSession.read.parquet(prev).union(delta)
              .groupBy("event_type")
              .agg(sum("n_events").as("n_events"), sum("total_cents").as("total_cents"))
          else delta
        merged.write.mode("overwrite").parquet(s"$stateRoot/v${id + 1}")
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    val versions = Option(stateRoot.toFile.listFiles()).getOrElse(Array())
      .filter(_.getName.startsWith("v")).map(_.getName.drop(1).toInt)
    if (versions.isEmpty) // empty source → no micro-batch ever fired
      partial(s.read.schema(schema).parquet(staged))
    else
      s.read.parquet(s"$stateRoot/v${versions.max}").orderBy("event_type")
  }

  /** x147: streaming CDC upsert (merge) into the x145 manifest table —
    * the lakehouse streaming-write path: each micro-batch keeps its
    * per-user latest event (ts, then event_id — a total order), joins
    * the CURRENT merged snapshot, and applies only strictly-newer rows
    * as an equality-delete commit (retire the superseded row, zero
    * data rewritten) plus an append. Because "newer" is an argmax over
    * a total order, the final table is the GLOBAL per-user latest
    * regardless of how the stream was batched — which is exactly what
    * the oracle replays with one rank window over the whole corpus.
    * After the stream drains, `manifestApplyDeletes` folds the
    * accumulated delete files (identical read, cheaper scans) — the
    * maintenance pass a real CDC table schedules.
    *
    * Scale shape: per trigger the work is batch-sized (the batch
    * argmax) plus one merged-snapshot join keyed on user_id; delete
    * commits write only key files. State lives in the TABLE, not the
    * state store — the sink is stateless and restart-safe (the
    * checkpoint tracks source progress; redelivered batches re-apply
    * as no-ops because nothing in them is strictly newer). */
  /** One full delivery of the staged files as conditional upserts into
    * the manifest table `tbl` — fresh checkpoint by default, so a
    * second call is the worst-case full redelivery (every batch
    * re-applies as a no-op because nothing in it is strictly newer;
    * spec-asserted).
    *
    * `ckptOverride` pins the checkpoint directory so a RESTART resumes
    * source progress instead of redelivering everything — the
    * crash-recovery spec drives this. `crashAfterBatch ≥ 0` injects a
    * failure at the worst possible instant: AFTER batch `b`'s manifest
    * commits land but BEFORE the checkpoint marks the batch committed
    * — exactly the window a real executor/driver death exposes. On
    * restart from the same checkpoint, structured streaming replays
    * batch `b` from its recorded offsets; the conditional upsert makes
    * the redelivery a no-op, which is the whole state-in-the-table
    * claim this sink makes. */
  private[graft] def deliverUpserts(s: SparkSession, staged: String,
      tbl: org.apache.hadoop.fs.Path,
      ckptOverride: Option[java.nio.file.Path] = None,
      crashAfterBatch: Long = -1L): Unit = {
    val schema = graft.Tables.readParquet(s, staged).schema
    val ckpt = ckptOverride.getOrElse(
      java.nio.file.Files.createTempDirectory(sinkReplayRoot, "mor_ckpt_"))
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(staged)
    val q = stream.writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
        val bw = batch.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
        val (v, _) = graft.etl.Sources.currentManifest(s, tbl)
        val apply0 =
          if (v == 0L) bw
          else {
            val cur = graft.etl.Sources.manifestReadMerged(s, tbl)
              .select(col("user_id"), col("ts").as("cur_ts"),
                col("event_id").as("cur_id"))
            bw.join(cur, Seq("user_id"), "left")
              .filter(col("cur_ts").isNull || col("ts") > col("cur_ts") ||
                (col("ts") === col("cur_ts") && col("event_id") > col("cur_id")))
              .drop("cur_ts", "cur_id")
          }
        // materialize BEFORE the delete commit: both the delete-key
        // write and the append re-evaluate this frame, and it must not
        // observe the table state its own commits create
        val toApply = apply0.localCheckpoint()
        graft.etl.Sources.manifestDelete(s, tbl, toApply.select("user_id"))
        graft.etl.Sources.manifestAppend(s, tbl, toApply, 1)
        // injected crash AFTER the table commits, BEFORE the checkpoint
        // records the batch — the spec's worst-case recovery window
        if (crashAfterBatch >= 0 && bid >= crashAfterBatch)
          throw new IllegalStateException(s"injected crash after batch $bid")
        ()
      }
      .start()
    try q.processAllAvailable()
    catch {
      // only the armed injection is swallowed (matched anywhere in the
      // cause chain); a real error still propagates
      case e: Throwable if crashAfterBatch >= 0 && {
        var t: Throwable = e; var hit = false
        while (t != null && !hit) {
          hit = Option(t.getMessage).exists(_.contains("injected crash"))
          t = t.getCause
        }
        hit
      } => ()
    }
    q.stop()
  }

  def streamingUpsertReplay(s: SparkSession, dir: String): DataFrame = {
    val key = graft.etl.Sources.dirKey(dir)
    val staged = sinkReplayRoot.resolve(s"mor_src_$key").toString
    val tbl = new org.apache.hadoop.fs.Path(
      sinkReplayRoot.resolve(s"mor_tbl_$key").toUri)
    // fresh table per run: bench reps must re-derive, not accumulate
    tbl.getFileSystem(s.sparkContext.hadoopConfiguration).delete(tbl, true)
    graft.Tables.load(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .repartition(4).write.mode("overwrite").parquet(staged)
    deliverUpserts(s, staged, tbl)
    graft.etl.Sources.manifestApplyDeletes(s, tbl, 1)
    graft.etl.Sources.manifestReadMerged(s, tbl)
      .select(col("user_id"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        col("event_type"), col("value"))
      .orderBy("user_id")
  }

  /** The cost-axis datum for the ScaleCheck stream_replay family:
    * events rows on the slice = rows through each replay's
    * distributed sink per delivery (x91 delivers twice by design). */
  private[graft] def replaySinkMass(s: SparkSession, dir: String): Long =
    graft.Tables.load(s, dir, "events").count()

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x147_stream_upsert_mor" -> streamingUpsertReplay,
    "x105_stream_incremental_agg" -> incrementalAggReplay,
    "x91_stream_idempotent_sink" -> idempotentSinkReplay,
    "x82_stream_top_types" -> windowTopTypesReplay,
    "x72_stream_curation" -> curationReplay,
    "x116_stream_enrich" -> enrichReplay,
    "x19_stream_tumbling" -> tumblingReplay,
    "x44_stream_sessions" -> sessionReplay,
    "x54_stream_sessions_stateful" -> statefulSessionReplay,
    "x57_stream_view_purchase" -> viewPurchaseReplay,
    "x119_stream_left_outer" -> viewPurchaseOuterReplay,
    "x68_stream_dedup" -> dedupReplay)

  val oracles: Map[String, String] = Map(
    // the streamed CDC merge lands on the global per-user latest event
    // (argmax over the (ts, event_id) total order — batch-split
    // independent), which one rank window replays
    "x147_stream_upsert_mor" -> """
      SELECT user_id, event_id,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, event_type, value
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn FROM events)
      WHERE rn = 1 ORDER BY user_id""",
    "x116_stream_enrich" -> """
      SELECT COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment, e.event_type,
        COUNT(*) AS n_events,
        CAST(SUM(CAST(round(e.value * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
      FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY 1, 2 ORDER BY 1, 2""",
    "x105_stream_incremental_agg" -> """
      SELECT event_type, COUNT(*) AS n_events,
        CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
      FROM events GROUP BY 1 ORDER BY 1""",
    "x91_stream_idempotent_sink" -> """
      SELECT event_type, COUNT(*) AS n_events,
        ROUND(SUM(value), 2) AS total_value
      FROM events GROUP BY 1 ORDER BY 1""",
    "x82_stream_top_types" -> """
      WITH c AS (
        -- TZ-free window rebuild: naive TIMESTAMP + seconds interval.
        -- (to_timestamp returns TIMESTAMPTZ and strftime would render
        -- it in the DuckDB session timezone — red gate on non-UTC hosts)
        SELECT strftime(TIMESTAMP '1970-01-01'
                 + ((CAST(floor(epoch(ts)) AS BIGINT) // 21600) * 21600) * INTERVAL '1 second',
                 '%Y-%m-%d %H:%M:%S') AS window_start,
          event_type, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2),
      ranked AS (
        SELECT window_start, event_type, cnt,
          CAST(ROW_NUMBER() OVER (PARTITION BY window_start
            ORDER BY cnt DESC, event_type) AS BIGINT) AS rank
        FROM c)
      SELECT window_start, rank, event_type, cnt
      FROM ranked WHERE rank <= 3
      ORDER BY window_start, rank""",
    "x72_stream_curation" -> s"""
      WITH ${graft.ext.TextAnalysis.CurationGateSql}
      SELECT d.doc_id, d.source, qu.q AS quality
      FROM documents d
      JOIN lang_pred lp ON d.doc_id = lp.doc_id AND lp.rn = 1 AND lp.predicted = 'en'
      JOIN quality qu ON d.doc_id = qu.doc_id AND qu.q >= 50.0
      ORDER BY d.doc_id""",
    "x68_stream_dedup" -> """
      SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
        user_id, event_type, value
      FROM events ORDER BY event_id""",
    "x19_stream_tumbling" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
         event_type, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "x57_stream_view_purchase" -> """
      SELECT v.event_id AS view_id, v.user_id,
        strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
        p.event_id AS purchase_id,
        strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        p.value
      FROM events v JOIN events p
        ON v.user_id = p.user_id
        AND v.event_type = 'view' AND p.event_type = 'purchase'
        AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
      ORDER BY view_id, purchase_id""",
    // x119: matched rows = the x57 inner join; null-extended rows = the
    // unmatched views whose join horizon (view_ts + 1 h) fell behind the
    // FINAL watermark — the exact set a bounded replay's state eviction
    // emits (see viewToPurchaseLeftOuter scaladoc). The watermark
    // truncates max(ts) to MILLISECONDS before subtracting the delay,
    // because that is Spark's arithmetic (EventTimeStats tracks event
    // time in ms, flooring away sub-ms micros) — without the truncation
    // a max(ts) carrying 1-999 µs puts any view whose horizon lands in
    // that sub-ms window on the wrong side of the eviction boundary
    // (boundary-value spec: EventStreamsSpec "watermark truncates...")
    "x119_stream_left_outer" -> """
      WITH v AS (SELECT event_id AS view_id, user_id, ts AS view_ts
        FROM events WHERE event_type = 'view'),
      p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts, value
        FROM events WHERE event_type = 'purchase'),
      m AS (SELECT v.view_id, v.user_id, v.view_ts,
          p.purchase_id, p.purchase_ts, p.value
        FROM v JOIN p ON v.user_id = p.user_id
          AND p.purchase_ts >= v.view_ts
          AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR),
      wm AS (SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 1 HOUR AS w
        FROM events),
      unm AS (SELECT v.view_id, v.user_id, v.view_ts,
          CAST(NULL AS BIGINT) AS purchase_id,
          CAST(NULL AS TIMESTAMP) AS purchase_ts,
          CAST(NULL AS DOUBLE) AS value
        FROM v, wm
        WHERE NOT EXISTS (SELECT 1 FROM p
            WHERE p.user_id = v.user_id
              AND p.purchase_ts >= v.view_ts
              AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR)
          AND v.view_ts + INTERVAL 1 HOUR < wm.w)
      SELECT view_id, user_id,
        strftime(view_ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
        purchase_id,
        strftime(purchase_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        value
      FROM (SELECT * FROM m UNION ALL SELECT * FROM unm)
      ORDER BY view_id, purchase_id""",
    "x54_stream_sessions_stateful" -> """
      WITH flagged AS (
        SELECT user_id, event_id, ts, value,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sessions AS (
        SELECT user_id, ts, value,
          SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged)
      SELECT user_id,
        strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        COUNT(*) AS n_events,
        ROUND(SUM(value), 2) AS session_value
      FROM sessions GROUP BY user_id, sid
      ORDER BY user_id, session_start""",
    "x44_stream_sessions" -> """
      WITH flagged AS (
        SELECT user_id, event_id, ts, value,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sessions AS (
        SELECT user_id, ts, value,
          SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged)
      SELECT user_id,
        strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
        COUNT(*) AS n_events,
        ROUND(SUM(value), 2) AS session_value
      FROM sessions GROUP BY user_id, sid
      ORDER BY user_id, session_start""")
}
