package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operators over the `events` stream.
  *
  * The reference is purely batch (SURVEY.md §1: "Streams: none"), so
  * these are the north-star extensions: the same aggregations the
  * batch queries q13/q14 compute, expressed incrementally so they run
  * on an unbounded stream with bounded state.
  *
  * Scale notes: watermarks bound state size; the sessionizer keys by
  * user_id so state partitions across executors; both compose with
  * checkpointing for exactly-once sinks.
  */
object EventStreams {

  /** Hourly tumbling-window counts per event type (streaming analog of
    * q13): watermark allows 1h late data, after which window state is
    * dropped.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).as("sv"))
      .select(col("w.start").as("h"), col("event_type"), col("n"), col("sv"))

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class SessionAgg(user_id: Long, n_sessions: Long, n_events: Long)
  // public: the state encoder's generated code must reach the fields
  final case class SessState(lastTsUs: Long, sessions: Long, events: Long)

  /** Stateful sessionization (streaming analog of q14): counts
    * 30-minute-gap sessions per user with mapGroupsWithState. Each
    * user's state is one (lastTs, counters) record — O(users) state,
    * partitioned by key.
    */
  def sessionCounts(events: Dataset[Event]): Dataset[SessionAgg] = {
    import events.sparkSession.implicits._
    val gapUs = 1800L * 1000000L
    // full microsecond precision: Timestamp.getTime is ms-truncated,
    // the sub-ms micros live in getNanos — without them, session-gap
    // decisions diverge from the µs-exact batch query at the boundary
    def micros(ts: java.sql.Timestamp): Long =
      ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessState, SessionAgg](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessState]) =>
          var s = state.getOption.getOrElse(SessState(Long.MinValue, 0L, 0L))
          // within a micro-batch, order by event time like the batch query
          rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            val tsUs = micros(e.ts)
            val newSession = s.lastTsUs == Long.MinValue || tsUs - s.lastTsUs > gapUs
            s = SessState(tsUs, s.sessions + (if (newSession) 1 else 0), s.events + 1)
          }
          state.update(s)
          SessionAgg(user, s.sessions, s.events)
      }
  }

  final case class CentEvent(user_id: Long, us: Long, cents: Long)
  final case class UserProfile(user_id: Long, n_events: Long, sum_cents: Long,
      first_us: Long, last_us: Long)
  // public: the state encoder's generated code must reach the fields
  final case class ProfState(n: Long, cents: Long, first: Long, last: Long)

  /** Stateful per-user profile over an event stream
    * (mapGroupsWithState): cumulative count, exact cent sum, first/
    * last event time. Every accumulator is ORDER-INSENSITIVE, so the
    * result is identical however the source splits micro-batches —
    * which is what makes this registrable against a batch oracle
    * (unlike gap-sessionization, whose state transitions depend on
    * cross-batch arrival order). State is one record per user,
    * partitioned by key.
    */
  def userProfiles(events: Dataset[CentEvent]): Dataset[UserProfile] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[ProfState, UserProfile](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[CentEvent], state: GroupState[ProfState]) =>
          var s = state.getOption.getOrElse(ProfState(0L, 0L, Long.MaxValue, Long.MinValue))
          rows.foreach { e =>
            s = ProfState(s.n + 1, s.cents + e.cents,
              math.min(s.first, e.us), math.max(s.last, e.us))
          }
          state.update(s)
          UserProfile(user, s.n, s.cents, s.first, s.last)
      }
  }

  final case class FunnelOut(user_id: Long, view_id: Long, outcome: String,
      latency_us: Long)
  // public: the state encoder's generated code must reach the fields
  final case class PendView(id: Long, tsUs: Long)
  final case class FunnelState(pending: List[PendView])

  /** Per-user VIEW→PURCHASE funnel with an event-time timeout — the
    * custom-state shape `flatMapGroupsWithState` +
    * `GroupStateTimeout.EventTimeTimeout` exists for, which none of
    * the join/window/session operators can express: zero-or-more
    * emissions per invocation (one purchase converts EVERY pending
    * view in its window), and state that must fire WITHOUT data (an
    * abandoned view emits when the watermark passes its window, not
    * when some later event happens to arrive).
    *
    * Semantics (the DuckDB oracle's join, replayed incrementally): a
    * view converts iff the user purchases strictly after it and
    * within `windowUs`; latency is to the FIRST such purchase
    * (purchases are processed in event-time order, so the earliest
    * qualifying purchase sweeps the pending view). Views with no
    * qualifying purchase emit `abandoned` on state timeout, armed at
    * the earliest pending view's expiry — O(pending views per user)
    * state, evicted as the watermark advances, the bounded-state
    * contract an unbounded stream needs. Within a micro-batch, rows
    * are processed sorted by (event-time µs, event_id), so batch
    * boundaries never change the answer.
    */
  def funnelTimeout(events: Dataset[Event],
      windowUs: Long = 3600L * 1000000L): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    def micros(ts: java.sql.Timestamp): Long =
      ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[FunnelState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelOut]
          var pending = state.getOption.map(_.pending).getOrElse(Nil)
          if (state.hasTimedOut) {
            val wmUs = state.getCurrentWatermarkMs * 1000L
            val (dead, live) = pending.partition(v => v.tsUs + windowUs < wmUs)
            dead.sortBy(v => (v.tsUs, v.id))
              .foreach(v => out += FunnelOut(user, v.id, "abandoned", -1L))
            pending = live
          } else {
            rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
              e.event_type match {
                case "view" => pending = PendView(e.event_id, micros(e.ts)) :: pending
                case "purchase" =>
                  val tp = micros(e.ts)
                  val (conv, rest) =
                    pending.partition(v => v.tsUs < tp && tp <= v.tsUs + windowUs)
                  conv.sortBy(v => (v.tsUs, v.id))
                    .foreach(v => out += FunnelOut(user, v.id, "converted", tp - v.tsUs))
                  pending = rest
                case _ => ()
              }
            }
          }
          if (pending.isEmpty) state.remove()
          else {
            state.update(FunnelState(pending))
            // re-arm at the earliest pending expiry; clamp above the
            // current watermark (an overdue view fires immediately on
            // the next no-data batch)
            val expiryMs = pending.map(_.tsUs).min / 1000L + windowUs / 1000L + 1L
            state.setTimeoutTimestamp(math.max(expiryMs, state.getCurrentWatermarkMs + 1L))
          }
          out.iterator
      }
  }

  /** Streaming exact dedup on a key column: emits each key's first
    * arrival and drops later copies, with state bounded by the
    * watermark via `dropDuplicatesWithinWatermark` — a duplicate
    * arriving within the watermark delay of the original is always
    * dropped, and key state is evicted once the watermark passes it
    * (unbounded-history dedup would need O(all keys ever) state). This
    * is the streaming half of [[graft.operators.Dedup.exactStats]]:
    * the ingest path dedups within the event-time horizon, the batch
    * pass sweeps the long tail.
    */
  def dedupStream(events: DataFrame, keyCol: String, delay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Streaming benchmark decontamination: each micro-batch of corpus
    * documents is probed against the STATIC eval-benchmark shingle
    * set (the streaming half of
    * [[graft.operators.Dedup.decontaminate]] — same n-gram-hit
    * semantics, same output shape). The eval grams are a stream-static
    * broadcast join side, so every micro-batch pays one codegen'd
    * shingle pass plus a hash probe — no shuffle on the corpus side;
    * only MATCHED (doc_id, gram) rows reach the streaming aggregate.
    * Update mode emits a doc's cumulative hit count whenever a batch
    * touches it; a file-per-batch source keeps each doc within one
    * micro-batch, so the final emission per doc IS the batch answer
    * (the caller takes max per doc, correct under any batch split
    * because the count only grows). At production scale the aggregate
    * state is bounded the usual way — watermark on an ingest-time
    * column — which the bounded fixture run doesn't need.
    */
  def decontamStream(docs: DataFrame, evalGrams: DataFrame, n: Int = 5): DataFrame =
    docs.select(col("doc_id"),
        explode(graft.functions.CrossHash.shinglesFast(col("text"), n)).as("g"))
      .join(broadcast(evalGrams), "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))

  /** NATIVE session windows (streaming analog of q14 via Spark's
    * `session_window` instead of hand-rolled state): per-user gap
    * sessions, each window closing `gap` after its last event.
    * Sessions merge across micro-batches in the state store and emit
    * in APPEND mode once the watermark passes their end — so the
    * output is one final row per session, and state is bounded by
    * the watermark horizon at any scale. A bounded replay needs a
    * watermark push past the last real session to flush it — see
    * [[graft.fixtures.TestFixtures.eventsStreamSessionDir]]'s
    * punctuation sentinel. Boundary semantics (spec-pinned): an
    * event exactly `gap` after the previous one still MERGES — the
    * window [start, start+gap] is closed on the right — so the batch
    * oracle breaks sessions on a STRICT `> gap` step, the same
    * boundary q14's hand-rolled sessionizer uses.
    */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("long")).as("sum_cents"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("n_events"), col("sum_cents"))

  /** STREAM-STREAM event-time interval join: purchases matched to
    * the same user's views in the preceding hour — the attribution
    * join every event pipeline runs, expressed as Structured
    * Streaming's two-sided stateful join. Both sides carry a
    * watermark and the join condition bounds event-time distance, so
    * Spark derives a state watermark for EACH side and evicts
    * buffered rows as the global watermark advances: state is
    * O(events within the join horizon), not O(stream history), at
    * any scale. Matches emit eagerly in append mode (inner join
    * never waits for the watermark). Correctness over a bounded
    * replay needs arrival order to track event time (true of any
    * real ingest) — see
    * [[graft.fixtures.TestFixtures.eventsStreamTimeOrderedDir]];
    * under that ordering the streamed result equals the batch join
    * exactly, while state is genuinely evicted as the replay
    * advances.
    */
  def viewPurchaseJoin(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_id"))
      .withWatermark("v_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"), col("value").as("p_value"))
      .withWatermark("p_ts", "1 hour")
    purchases.join(views,
      col("p_user") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") <= col("p_ts"))
  }

  /** LEFT OUTER stream-stream interval join: every purchase, matched
    * to the same user's views in the preceding hour OR emitted once
    * with null view columns if no such view exists — the attribution
    * join that must also SURFACE the unattributed conversions, which
    * the inner form silently drops. Same two-sided watermark shape as
    * [[viewPurchaseJoin]] (state bounded by the join horizon on both
    * sides), with one added semantic: an unmatched left row is held
    * in state until the global watermark proves no future view can
    * match it, and only then emits null-augmented — so the outer
    * result is exactly the batch LEFT JOIN once the watermark passes
    * the corpus (a bounded replay needs a per-side punctuation
    * sentinel to get there; see
    * [[graft.fixtures.TestFixtures.eventsStreamOuterDir]]).
    */
  def viewPurchaseJoinOuter(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_id"))
      .withWatermark("v_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"), col("value").as("p_value"))
      .withWatermark("p_ts", "1 hour")
    purchases.join(views,
      col("p_user") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") <= col("p_ts"),
      "left_outer")
  }

  /** CHAINED stateful aggregation — two time-window aggregates in ONE
    * streaming query (10-minute sub-window counts re-aggregated into
    * hourly stats via `window_time`), the multi-stateful-operator
    * pipeline Spark 4 runs in append mode with the watermark
    * propagated through the first aggregate. This is the shape that
    * previously required two queries with an intermediate sink: the
    * sub-window aggregate emits a finalized row once the watermark
    * passes its window, and that row flows straight into the hourly
    * aggregate's state. State is O(open windows) at each level —
    * independent of stream history — and a bounded replay flushes
    * both levels with one punctuation sentinel (the sentinel's own
    * windows never close, so it contributes nothing downstream).
    */
  def windowedThenHourly(events: DataFrame): DataFrame = {
    val sub = events.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
    sub.groupBy(window(window_time(col("w")), "1 hour").as("h"))
      .agg(count(lit(1)).as("n_windows"),
        sum(col("n_events")).as("total_events"),
        max(col("n_events")).as("max_sub"))
      .select(col("h.start").as("hour_start"), col("n_windows"),
        col("total_events"), col("max_sub"))
  }

  /** Bounded `readStream` over the events fixture: the batch reader's
    * rows (ts-type dispatch already applied) staged ONCE per scale
    * factor into a four-file directory — the file streaming source
    * requires a directory, and four files at [[FilesPerTrigger]] per
    * trigger drive REAL micro-batches through source offsets and the
    * state store instead of one degenerate batch. So a registered
    * query exercises the actual incremental path end-to-end and still
    * terminates.
    */
  /** Files per micro-batch for the bounded file replays. Two, not
    * one: the 4-file replays still cross multiple micro-batches —
    * watermark advancement, state eviction and no-data timeout
    * batches all still run — at ~60% of the per-trigger fixed cost
    * (interleaved medians, bench_history/NOTES.md r14: st7 7.2->4.2 s,
    * st11 7.5->5.0 s, st12 5.5->3.4 s on RocksDB+changelog). Peak
    * buffered state doubles (the watermark advances every 2 files),
    * still watermark-bounded. Consumers whose POST-PROCESSING must stay
    * batch-count-independent: Complete mode re-emits (st1/st9),
    * Update-mode rollups take max_by over the update stream (st3).
    */
  val FilesPerTrigger = "2"

  def eventsFileStream(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    val staged = graft.fixtures.TestFixtures.eventsStreamDir(spark, sfDir)
    val schema = spark.read.parquet(staged).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", FilesPerTrigger).parquet(staged)
  }

  /** Deterministic COUNT-MIN SKETCH cells over a stream of keys — the
    * bounded-state alternative to per-key streaming counts: exact
    * per-key counting over an unbounded keyspace needs unbounded
    * state, while the CMS grid is O(depth × width) REGARDLESS of key
    * cardinality, and its cells are plain sums, so partial sketches
    * from different partitions/micro-batches/clusters merge by
    * addition (the map-side combine IS the sketch merge). Every hash
    * is the cross-engine charFold, so the grid itself — not just a
    * derived answer — is reproducible in SQL and hash-checkable
    * (st9). Returns one row per (i, j) cell with its count; estimates
    * read `min_i cells(i, h_i(key))` and overcount by at most the
    * collision mass (Cormode & Muthukrishnan 2005), never undercount.
    */
  def cmsCells(events: DataFrame, keyCol: String = "user_id",
      depth: Int = 4, width: Int = 64): DataFrame = {
    import graft.functions.CrossHash
    require(depth <= 10, "cell derivation assumes single-digit hash-row suffixes")
    val k = col(keyCol).cast("string")
    // h_i = charFold(key || '#' || i) derived ARITHMETICALLY from one
    // base fold: charFold is a left fold (acc*31 + char) % P, so the
    // two-char suffix is two more fold steps ('#' = 35, digit = 48+i).
    // Identical values to hashing the concatenation (the oracle keeps
    // the spelled-out form), but the per-row expression folds the key
    // ONCE instead of `depth` times and the generated code stays
    // small — at streaming's per-micro-batch codegen cadence the big
    // fold expression was the dominant per-trigger cost (measured
    // 7.4 s -> see NOTES, sf1).
    val hBase = (CrossHash.charFold(k) * lit(31L) + lit(35L)) % lit(CrossHash.P)
    val cells = explode(transform(sequence(lit(0), lit(depth - 1)), i =>
      struct(i.as("i"),
        pmod((hBase * lit(31L) + lit(48L) + i) % lit(CrossHash.P),
          lit(width.toLong)).as("j"))))
    events.select(cells.as("c"))
      .groupBy(col("c.i").as("i"), col("c.j").as("j"))
      .agg(count(lit(1)).as("c"))
  }

  /** The SQL fragment computing [[cmsCells]]'s row-level (i, j) pairs
    * for a bound key expression and hash row `i` — shared with the
    * st9 oracle so both engines address the identical cell.
    */
  def sqlCmsCell(key: String, i: String, width: Int = 64): String =
    s"(${graft.functions.CrossHash.sqlCharFold(s"$key || '#' || $i")}) % $width"

  /** Run `body` with `spark.sql.shuffle.partitions` scoped to `n`,
    * restoring the previous value after. A stateful streaming query
    * pins its STATE layout to the shuffle-partition count at start
    * and pays one state-store commit per partition per micro-batch —
    * at a bounded fixture's volume, 32 partitions is pure overhead
    * (measured ~4.5s → ~2s for the st1/st3 gate queries at 8). A
    * production deployment sizes this to keyspace, not to a constant.
    */
  def withStatePartitions[A](spark: org.apache.spark.sql.SparkSession, n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Run `body` with the RocksDB state-store provider — the spillable
    * backend a 100 TB streaming job runs on (join buffers and session
    * state live off-heap/on-disk instead of the executor heap).
    * Restores the prior provider afterwards so batch siblings in the
    * same session are untouched.
    */
  def withRocksDbStateStore[A](spark: org.apache.spark.sql.SparkSession)(body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    // Changelog checkpointing: each commit uploads only the batch's
    // key changes; full snapshots amortize in the background. Without
    // it every micro-batch pays a full RocksDB snapshot + upload per
    // store instance — measured r14 (8 state partitions, sf0.1):
    // st11 44.6 s -> 9.2 s summed state-commit time, wall 11.2 -> 7.0 s.
    // This is the production setting for frequent-commit streams, and
    // exactly what a slow-fsync box amplifies.
    val clKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prev = spark.conf.getOption(key)
    val prevCl = spark.conf.getOption(clKey)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(clKey, "true")
    try body finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      prevCl match {
        case Some(v) => spark.conf.set(clKey, v)
        case None => spark.conf.unset(clKey)
      }
    }
  }

  /** Convenience: run a streaming DataFrame to completion against a
    * bounded file source and return the final memory-sink contents
    * (used by tests and the batch-equivalence check).
    */
  def runToCompletion(stream: DataFrame, name: String, mode: OutputMode): DataFrame = {
    val spark = stream.sparkSession
    val q = runToCompletionQuery(stream, name, mode)
    try {
      q.processAllAvailable()
      // Micro-batch accounting (r13 verdict ask #1b), opt-in: one
      // stderr line per query from StreamingQueryProgress — batch
      // count and where the wall time went (addBatch = plan+execute,
      // stateCommit = state-store checkpoint/commit, walCommit+
      // offsets = the per-trigger offset-log fsyncs). This is what
      // turns "micro-batch streaming is expensive on this box" from
      // prose into numbers a bench NOTES entry can carry.
      if (sys.env.get("SPARK_GRAFT_STREAM_METRICS").contains("1")) {
        val ps = q.recentProgress.toSeq
        def sumDur(k: String): Long =
          ps.flatMap(p => Option(p.durationMs.get(k)).map(_.longValue())).sum
        val stateCommit = ps.flatMap(_.stateOperators.toSeq.map(_.commitTimeMs)).sum
        val stateRows = ps.flatMap(_.stateOperators.toSeq.map(_.numRowsTotal)).maxOption.getOrElse(0L)
        val rows = ps.map(_.numInputRows).sum
        System.err.println(
          s"[stream-metrics] $name batches=${ps.size} inputRows=$rows " +
            s"trigger_ms=${sumDur("triggerExecution")} addBatch_ms=${sumDur("addBatch")} " +
            s"planning_ms=${sumDur("queryPlanning")} walCommit_ms=${sumDur("walCommit")} " +
            s"offsets_ms=${sumDur("commitOffsets")} latestOffset_ms=${sumDur("latestOffset")} " +
            s"stateCommit_ms=$stateCommit stateRowsMax=$stateRows")
      }
    } finally q.stop()
    spark.table(name)
  }

  /** The started memory-sink query itself — for callers (tests) that
    * feed a MemoryStream between explicit `processAllAvailable` calls
    * to control micro-batch boundaries.
    */
  def runToCompletionQuery(stream: DataFrame, name: String,
      mode: OutputMode): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.outputMode(mode).format("memory").queryName(name).start()

  /** Streaming NEAR-duplicate ingest filter — the ingest-path
    * counterpart of the batch incremental dedup (d11): each
    * micro-batch of documents `(doc_id, text)` is probed against the
    * PERSISTED corpus prefix index ([[graft.operators.Dedup
    * .incrementalPairsIndexed]] — the corpus is never re-shingled),
    * matching docs are dropped, survivors are appended to `outPath`
    * AND to the index so later batches dedup against them.
    *
    * Drop policy (greedy, min-id-keeps): a fresh doc goes if it
    * matches anything already indexed, or an earlier (smaller-id)
    * doc of its own batch — the same canonical-keep direction as the
    * batch operator, without retroactively unpublishing corpus docs.
    *
    * Scale: per batch this is the d11 plan — fresh-side shingling
    * only, (bucket, hash) equi-join that DPP prunes to the touched
    * index buckets — plus one anti-join; state lives in the index
    * directory, not in streaming state, so there is nothing for the
    * watermark to bound.
    *
    * Failure semantics: survivors land under `outPath/batch=<id>`
    * with overwrite, and the index append carries the SAME batch id
    * as its token, so a replayed batch rewrites both its output and
    * its index directories instead of duplicating rows — exactly-once
    * index contents per batch id. Old appended batch dirs are
    * tier-compacted by [[graft.operators.Dedup.appendCorpusIndex]],
    * keeping the index's file count bounded however many micro-
    * batches arrive.
    */
  def nearDupIngest(docs: DataFrame, indexPath: String, outPath: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Dedup
    docs.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      if (!batch.isEmpty) {
        val pairs = Dedup.incrementalPairsIndexed(batch.sparkSession, indexPath, batch.toDF())
          .select("a", "b").persist()
        try {
          val fresh = batch.select(col("doc_id")).distinct().withColumn("f", lit(true))
          // pairs have a < b and at least one fresh side: drop b when
          // both sides are fresh, else drop whichever side is fresh
          val drops = pairs
            .join(fresh.withColumnRenamed("doc_id", "a").withColumnRenamed("f", "fa"), Seq("a"), "left")
            .join(fresh.withColumnRenamed("doc_id", "b").withColumnRenamed("f", "fb"), Seq("b"), "left")
            .select(
              when(coalesce(col("fa"), lit(false)) && coalesce(col("fb"), lit(false)), col("b"))
                .when(coalesce(col("fa"), lit(false)), col("a"))
                .otherwise(col("b")).as("doc_id"))
            .distinct()
          val survivors = batch.join(drops, Seq("doc_id"), "left_anti").persist()
          try {
            survivors.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
            Dedup.appendCorpusIndex(survivors.toDF(), indexPath, batchToken = s"s$batchId")
          } finally survivors.unpersist()
        } finally pairs.unpersist()
      }
    }.start()
  }

  /** Streaming ANN-index maintenance: each micro-batch of vectors
    * `(vec_id, embedding)` is quantized+bucketed once and appended to
    * the persisted index ([[graft.operators.Similarity.appendAnnIndex]])
    * under the batch id as its token — replay overwrites its own
    * directories (exactly-once index contents per batch id), and old
    * appended batches tier-compact so file count stays bounded
    * however many micro-batches arrive. Probes
    * ([[graft.operators.Similarity.queryAnnIndex]]/`annSearchBatch`)
    * see new vectors as soon as their batch commits; state lives in
    * the index directory, not in streaming state.
    */
  def annIngest(vectors: DataFrame, indexPath: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Similarity
    vectors.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      if (!batch.isEmpty)
        Similarity.appendAnnIndex(batch.toDF(), indexPath, batchToken = s"s$batchId")
    }.start()
  }

  /** Stream-static enrichment: join a streaming fact against a
    * static dimension by key. The dimension side is hinted broadcast
    * — on a cluster the dim ships once per executor and each
    * micro-batch joins map-side with NO stateful operator, no
    * watermark, and no shuffle of the stream (the standard
    * enrichment shape; a stream-stream join would need state and
    * watermarks for the same result here). The static side is
    * re-read per batch by Spark, so a dim refresh lands without
    * restarting the query.
    */
  def enrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")

  /** [[enrich]] for LONG-RUNNING streams whose dimension goes stale:
    * the dim is RE-RESOLVED through `resolveDim` per micro-batch —
    * via [[graft.cache.TtlCache]] when `dimTtlMs` > 0, so an
    * expensive resolution (a catalog fetch + listing, a snapshot
    * re-read) runs at most once per TTL window rather than per batch,
    * with single-flight loads under concurrent batches. A dim update
    * becomes visible in the first batch after the TTL lapses
    * (`dimTtlMs = 0` re-resolves every batch). Each batch's enriched
    * rows land under `outPath/batch=<id>` with overwrite, so a replay
    * rewrites its own output — though replayed rows may legitimately
    * see a NEWER dim than the original attempt did (the standard
    * stream-static caveat; enrichment is not versioned).
    */
  def enrichIngest(stream: DataFrame, key: String, outPath: String,
      resolveDim: () => DataFrame, dimTtlMs: Long = 0L)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val cache = new graft.cache.TtlCache[DataFrame](
      maxEntries = 1, ttlMs = math.max(1L, dimTtlMs))
    stream.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      val dim = if (dimTtlMs > 0) cache.get("dim")(resolveDim()) else resolveDim()
      batch.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")
        .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
    }.start()
  }

  /** Commit one micro-batch into a Delta table IFF its (appId,
    * batchId) txn hasn't already committed — the Delta streaming-sink
    * idempotence protocol ([[graft.listing.DeltaLogWriter.commitTxn]]
    * checks the mark against the state its publish validates).
    * Returns true when a commit happened, false for a recognized
    * replay.
    */
  def commitDeltaBatchIdempotent(df: DataFrame, location: String,
      appId: String, batchId: Long): Boolean =
    graft.listing.DeltaLogWriter.commitTxn(df.sparkSession, location, df, appId, batchId).nonEmpty

  /** Streaming Delta sink with EXACTLY-ONCE table contents: each
    * micro-batch commits through [[commitDeltaBatchIdempotent]], so a
    * replayed batch (checkpoint recovery, retried epoch) is
    * recognized by its recorded txn version and skipped instead of
    * appending duplicate rows. State lives in the table's own log —
    * nothing in streaming state, nothing to watermark. Downstream
    * readers get snapshots, time travel, incremental reads, and
    * stats skipping on the ingested data for free.
    */
  def deltaIngest(docs: DataFrame, location: String, appId: String = "graft-stream",
      checkpointEvery: Int = 10)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.foreachBatch(
      sinkBatch(location, appId, checkpointEvery) _).start()

  /** The shared foreachBatch body: idempotent commit, then the
    * every-N checkpoint + log-retention policy. Keeping the log
    * bounded matters for any long-lived stream — reader replay cost
    * stays O(N), not O(total batches ever committed), and the
    * checkpoint persists the txn marks so cleanup never shrinks the
    * replay-detection horizon.
    */
  private def sinkBatch(location: String, appId: String, checkpointEvery: Int)(
      batch: Dataset[org.apache.spark.sql.Row], batchId: Long): Unit =
    if (commitDeltaBatchIdempotent(batch.toDF(), location, appId, batchId)) {
      graft.listing.DeltaLogWriter
        .maybeCheckpoint(batch.sparkSession, location, checkpointEvery)
        .foreach(_ => graft.listing.DeltaLogWriter.cleanupLog(batch.sparkSession, location))
    }

  /** Commit one micro-batch into an ICEBERG v2 table IFF its (appId,
    * batchId) mark isn't already recorded — same idempotence contract
    * as [[commitDeltaBatchIdempotent]], with the mark carried in the
    * snapshot `summary` map (the spec's place for writer metadata).
    * Returns true when a commit happened, false for a recognized
    * replay.
    *
    * MULTI-WRITER SAFE (r12): the mark check is folded into the
    * atomic publish ([[graft.listing.IcebergWriter.commitTxn]]) — the
    * replay check parses the same metadata read the sequence number
    * derives from, and the rename-CAS validates that read, so two
    * INDEPENDENT writers replaying the same (appId, batchId) append
    * it exactly once under any interleaving (the race spec in
    * StreamingSpec proves it deterministically). Matches the Delta
    * sink's guarantee, whose mark rides inside the atomically-renamed
    * commit file.
    */
  def commitIcebergBatchIdempotent(df: DataFrame, location: String,
      appId: String, batchId: Long): Boolean =
    graft.listing.IcebergWriter
      .commitTxn(df.sparkSession, location, df, appId, batchId).nonEmpty

  /** Streaming Iceberg sink with EXACTLY-ONCE table contents — the
    * Iceberg twin of [[deltaIngest]]: each micro-batch becomes one
    * append snapshot with real manifest bounds, and a replayed batch
    * (checkpoint recovery, retried epoch) is recognized by its
    * summary mark and skipped. State lives in the table's own
    * metadata; downstream readers get snapshots, time travel,
    * incremental reads, and manifest-bound pruning on the ingested
    * data for free.
    */
  def icebergIngest(docs: DataFrame, location: String,
      appId: String = "graft-iceberg-stream")
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      commitIcebergBatchIdempotent(batch.toDF(), location, appId, batchId); ()
    }.start()

  /** Streaming Iceberg sink STAGED ON A BRANCH — the quarantine
    * pattern a production ingest runs: every micro-batch commits
    * (exactly-once, same txn marks as [[icebergIngest]]) onto a named
    * branch, INVISIBLE to main readers, until a validation pass
    * audits the staged state and
    * [[graft.engine.GlueTableEngine.publishIcebergBranch]]
    * fast-forwards main onto it atomically. A poisoned stream never
    * contaminates the serving table; rejecting it is dropping one
    * ref. Replays are recognized branch-wide (the txn marks live in
    * the snapshot summaries, branch snapshots included).
    */
  def icebergIngestBranch(docs: DataFrame, location: String, branch: String,
      appId: String = "graft-iceberg-stream")
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      graft.listing.IcebergWriter.commitTxn(batch.sparkSession, location,
        batch.toDF(), appId, batchId, branch = Some(branch)); ()
    }.start()

  /** Commit one micro-batch into a HUDI COW table IFF its (appId,
    * batchId) mark isn't already recorded — the trio-completing
    * idempotence contract, with the mark in the commit's
    * `extraMetadata` (where Hudi's own streaming checkpoint lives).
    * MULTI-WRITER SAFE like its Iceberg twin: the mark check rides
    * the instant rename-CAS
    * ([[graft.listing.HudiTimelineWriter.commitTxn]]), so concurrent
    * replaying writers append the batch exactly once.
    */
  def commitHudiBatchIdempotent(df: DataFrame, location: String,
      appId: String, batchId: Long): Boolean =
    graft.listing.HudiTimelineWriter
      .commitTxn(df.sparkSession, location, df, appId, batchId).nonEmpty

  /** Streaming Hudi sink with EXACTLY-ONCE table contents — insert-
    * only commits, one completed instant per micro-batch; replays are
    * recognized by the extraMetadata mark and skipped. Completes the
    * Delta/Iceberg/Hudi streaming-ingest trio.
    */
  def hudiIngest(docs: DataFrame, location: String,
      appId: String = "graft-hudi-stream")
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      commitHudiBatchIdempotent(batch.toDF(), location, appId, batchId); ()
    }.start()

  /** Watermark-finalized windowed aggregates committed EXACTLY-ONCE
    * into a Delta table — the composed shape a metrics pipeline
    * runs: [[hourlyCounts]] in APPEND output mode emits each window
    * exactly once, when the watermark closes it (state for the
    * window is then dropped — bounded by windows-in-flight, not
    * history), and each micro-batch lands through the idempotent
    * txn protocol, so neither a replayed batch nor a recovered query
    * can commit a window twice. Downstream readers see only
    * FINALIZED windows, with time travel and incremental reads over
    * the aggregate history for free.
    */
  def windowedDeltaIngest(events: DataFrame, location: String,
      appId: String = "graft-window-stream", checkpointEvery: Int = 10)
      : org.apache.spark.sql.streaming.StreamingQuery =
    hourlyCounts(events).writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .foreachBatch(sinkBatch(location, appId, checkpointEvery) _).start()

  /** Streaming search-index maintenance — the third member of the
    * ingest trio (near-dup corpus index, ANN index, inverted index):
    * each micro-batch of documents `(doc_id, text)` is tokenized once
    * and its postings appended under the batch id as token
    * ([[graft.operators.Search.appendSearchIndex]]), so replay
    * overwrites its own postings AND its corpus-stats sidecar —
    * exactly-once index contents per batch id — and old batches
    * tier-compact to keep file counts bounded. BM25 probes see new
    * documents (including their effect on N/avgdl/df) as soon as
    * their batch commits.
    */
  def searchIngest(docs: DataFrame, indexPath: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Search
    docs.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      if (!batch.isEmpty)
        Search.appendSearchIndex(batch.toDF(), indexPath, batchToken = s"s$batchId")
    }.start()
  }
}
