package graft

import graft.fixtures.TestFixtures
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Streaming extensions: a bounded file-source stream must reproduce
  * the batch query's results exactly (same events, same semantics).
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A parquet dir of the events table with converted timestamps that
    * a file-source stream can read.
    */
  private lazy val streamDir: String = {
    val dir = s"${TestFixtures.root(TestSpark.sfDir)}/events_stream"
    if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
      TestFixtures.events(spark, TestSpark.sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("overwrite").parquet(dir)
    }
    dir
  }

  test("streaming near-dup ingest drops corpus dups and in-batch dups") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idx = TestSpark.scratch("stream_ndi_idx")
    val out = TestSpark.scratch("stream_ndi_out")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    graft.operators.Dedup.writeCorpusIndex(corpus, idx, n = 3, threshold = 0.8, buckets = 16)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = EventStreams.nearDupIngest(mem.toDF().toDF("doc_id", "text"), idx, out)
    try {
      // batch 1: an exact dup of corpus doc 1, and a novel doc
      mem.addData((10L, "alpha beta gamma delta epsilon zeta"),
        (11L, "seven eight nine ten eleven twelve"))
      q.processAllAvailable()
      // batch 2: a dup of batch 1's novel survivor, an in-batch dup
      // pair, and a novel doc
      mem.addData((20L, "seven eight nine ten eleven twelve"),
        (21L, "red green blue cyan magenta yellow"),
        (22L, "red green blue cyan magenta yellow"))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 21L), s"got $kept")
  }

  test("streaming decontamination equals batch counts under any batch split") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // eval doc shares its 3-grams with corpus docs 1 and 3
    val evalGrams = Seq((0L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
      .select(org.apache.spark.sql.functions.explode(
        graft.functions.CrossHash.shinglesFast(
          org.apache.spark.sql.functions.col("text"), 3)).as("g")).distinct()
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val stream = EventStreams.decontamStream(
      mem.toDF().toDF("doc_id", "text"), evalGrams, n = 3)
    val q = EventStreams.runToCompletionQuery(stream, "st6_spec_mem",
      org.apache.spark.sql.streaming.OutputMode.Update())
    try {
      // doc 1 contaminated (2 gram hits), doc 2 clean
      mem.addData((1L, "alpha beta gamma delta xi"), (2L, "one two three four"))
      q.processAllAvailable()
      // doc 3 contaminated; doc 1 reappears in a LATER batch with one
      // more contaminated gram — the cumulative count must win
      mem.addData((3L, "x beta gamma delta epsilon"), (1L, "beta gamma delta"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("st6_spec_mem")
      .groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.max("n_hits").as("n_hits"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // doc 1: batch1 grams {ab g, b g d, g d x} -> 2 hits; batch2 adds
    // {b g d} (already counted) -> cumulative stays... update-mode
    // aggregate counts ROWS, so batch2's probe re-adds its hit: the
    // cumulative count is 3, and max picks it -- monotone, never lost
    assert(got(1L) == 3L, s"got $got")
    assert(got(3L) == 2L, s"got $got")
    assert(!got.contains(2L), s"got $got")
  }

  test("index stays bounded and idempotent across many small ingest batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idx = TestSpark.scratch("stream_ndi_cmp")
    val out = TestSpark.scratch("stream_ndi_cmp_out")
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    graft.operators.Dedup.writeCorpusIndex(corpus, idx, n = 3, threshold = 0.8, buckets = 4)
    def batchDirs(sub: String): Seq[String] = {
      val d = new java.io.File(s"$idx/$sub")
      d.listFiles().filter(_.isDirectory).map(_.getName).filter(_.startsWith("batch=")).toSeq
    }
    def parquetFiles(sub: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$idx/$sub")).count(_.getName.endsWith(".parquet"))
    }
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = EventStreams.nearDupIngest(mem.toDF().toDF("doc_id", "text"), idx, out)
    val nBatches = 12
    try {
      (0 until nBatches).foreach { i =>
        // each batch: one novel doc (distinct vocab per batch)
        mem.addData((100L + i, s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f"))
        q.processAllAvailable()
      }
    } finally q.stop()
    // tier compaction (maxAppendBatches = 8) must keep the batch-dir
    // count bounded — 12 appends may NOT mean 12 dirs
    val docDirs = batchDirs("docs")
    assert(docDirs.size <= 10, s"docs batch dirs grew unbounded: $docDirs")
    assert(batchDirs("prefix").size <= 10, "prefix batch dirs grew unbounded")
    assert(parquetFiles("docs") < nBatches * 4, "docs file count must not grow per-batch unbounded")
    // every accepted doc still probes as a dup after compaction, and
    // doc rows stay unique (replay/compaction never duplicates)
    val docsTbl = spark.read.parquet(s"$idx/docs")
    assert(docsTbl.count() == docsTbl.select("doc_id").distinct().count(), "duplicate doc rows in index")
    assert(docsTbl.count() == 1 + nBatches)
    val redup = graft.operators.Dedup.incrementalPairsIndexed(spark, idx,
      Seq((999L, "w3a w3b w3c w3d w3e w3f")).toDF("doc_id", "text"))
    assert(redup.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((103L, 999L)), "compacted index must still surface its docs as dup partners")
    // idempotent re-append with the same token: same row count after
    graft.operators.Dedup.appendCorpusIndex(
      Seq((100L, "w0a w0b w0c w0d w0e w0f")).toDF("doc_id", "text"), idx, batchToken = "replay-t")
    val n1 = spark.read.parquet(s"$idx/docs").count()
    graft.operators.Dedup.appendCorpusIndex(
      Seq((100L, "w0a w0b w0c w0d w0e w0f")).toDF("doc_id", "text"), idx, batchToken = "replay-t")
    assert(spark.read.parquet(s"$idx/docs").count() == n1, "same-token append must overwrite, not duplicate")
    // replay of a token already folded into a compact dir (s0 was)
    // must be a NO-OP — its rows live in the compact dir now
    graft.operators.Dedup.appendCorpusIndex(
      Seq((100L, "w0a w0b w0c w0d w0e w0f")).toDF("doc_id", "text"), idx, batchToken = "s0")
    assert(spark.read.parquet(s"$idx/docs").count() == n1,
      "compacted-token replay duplicated docs")
  }

  test("streaming hourly counts equal the batch aggregation") {
    val batchDf = spark.read.parquet(streamDir)
    val stream = spark.readStream.schema(batchDf.schema).parquet(streamDir)
    val got = EventStreams.runToCompletion(
      EventStreams.hourlyCounts(stream), "hourly_out", OutputMode.Complete())
      .orderBy("h", "event_type").collect()

    val want = batchDf
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).as("sv"))
      .orderBy("h", "event_type").collect()
    assert(got.toSeq == want.toSeq)
  }

  test("stateful streaming sessionization equals the batch q14 session counts") {
    import spark.implicits._
    val batchDf = spark.read.parquet(streamDir)
    val stream = spark.readStream.schema(batchDf.schema).parquet(streamDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreams.Event]
    val got = EventStreams.runToCompletion(
      EventStreams.sessionCounts(stream).toDF(), "sess_out", OutputMode.Update())
      // Update mode emits one row per key per batch; keep the last state
      .groupBy("user_id").agg(max("n_sessions").as("n_sessions"), max("n_events").as("n_events"))
      .orderBy("user_id").collect()

    val want = SparkEntry.queries("q14_sessionize")(spark, TestSpark.sfDir)
      .select("user_id", "n_sessions", "n_events").orderBy("user_id").collect()
    assert(got.toSeq == want.toSeq)
  }

  test("stream-stream interval join is batch-exact and evicts state as the watermark advances") {
    val stage = TestFixtures.eventsStreamTimeOrderedDir(spark, TestSpark.sfDir)
    val schema = spark.read.parquet(stage).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val joined = EventStreams.viewPurchaseJoin(stream)
    val q = EventStreams.withStatePartitions(spark, 8)(
      EventStreams.runToCompletionQuery(joined, "ssj_out", OutputMode.Append()))
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("ssj_out").select("p_id", "v_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

    val ev = TestFixtures.events(spark, TestSpark.sfDir)
    val want = ev.filter(col("event_type") === "purchase").as("p")
      .join(ev.filter(col("event_type") === "view").as("v"),
        col("v.user_id") === col("p.user_id") &&
          col("v.ts") >= col("p.ts") - expr("INTERVAL 1 HOUR") &&
          col("v.ts") <= col("p.ts"))
      .select(col("p.event_id"), col("v.event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == want, s"stream join produced ${got.size} pairs, batch ${want.size}")

    // the time-ordered replay advances the watermark between
    // micro-batches, so buffered join state must actually be evicted
    // (not just bounded in theory)
    val removed = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
    assert(removed > 0, "watermark never evicted any join state")
  }

  test("left-outer stream-stream join surfaces unmatched purchases exactly as batch") {
    val stage = TestFixtures.eventsStreamOuterDir(spark, TestSpark.sfDir)
    val schema = spark.read.parquet(stage).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val got = EventStreams.withStatePartitions(spark, 8)(
      EventStreams.runToCompletion(
        EventStreams.viewPurchaseJoinOuter(stream), "ssoj_out", OutputMode.Append()))
      .filter(col("p_user") >= 0)
      .select(col("p_id"), col("v_id"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .sorted.toSeq

    val ev = TestFixtures.events(spark, TestSpark.sfDir)
    val want = ev.filter(col("event_type") === "purchase").as("p")
      .join(ev.filter(col("event_type") === "view").as("v"),
        col("v.user_id") === col("p.user_id") &&
          col("v.ts") >= col("p.ts") - expr("INTERVAL 1 HOUR") &&
          col("v.ts") <= col("p.ts"),
        "left_outer")
      .select(col("p.event_id"), col("v.event_id"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .sorted.toSeq
    assert(got == want,
      s"stream outer join produced ${got.size} rows, batch ${want.size}")
    assert(got.exists(_._2 == -1L),
      "fixture produced no unmatched purchase — outer semantics untested")
  }

  test("chained windowed aggregation runs two stateful operators and equals batch") {
    val stage = TestFixtures.eventsStreamSessionDir(spark, TestSpark.sfDir)
    val schema = spark.read.parquet(stage).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val q = EventStreams.withStatePartitions(spark, 8)(
      EventStreams.runToCompletionQuery(
        EventStreams.windowedThenHourly(stream), "chain_out", OutputMode.Append()))
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("chain_out")
      .select(col("hour_start").cast("long"), col("n_windows"),
        col("total_events"), col("max_sub"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq

    // ONE query must carry BOTH stateful aggregates
    val ops = q.recentProgress.flatMap(_.stateOperators).map(_.operatorName).distinct
    assert(q.recentProgress.exists(_.stateOperators.length == 2),
      s"expected two stateful operators in one query, saw $ops")

    // batch reference: same two-level aggregation over the real events
    val ev = TestFixtures.events(spark, TestSpark.sfDir)
    val want = ev
      .groupBy(window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(window(col("w.start"), "1 hour").as("h"))
      .agg(count(lit(1)).as("n_windows"), sum("n_events").as("total_events"),
        max("n_events").as("max_sub"))
      .select(col("h.start").cast("long"), col("n_windows"),
        col("total_events"), col("max_sub"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    assert(got == want, s"stream ${got.size} hours, batch ${want.size}")
  }

  test("native session windows: stream equals batch; gap boundary merges, past-gap breaks") {
    val stage = TestFixtures.eventsStreamSessionDir(spark, TestSpark.sfDir)
    val schema = spark.read.parquet(stage).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val got = EventStreams.withStatePartitions(spark, 8)(
      EventStreams.runToCompletion(
        EventStreams.sessionWindows(stream), "sw_out", OutputMode.Append()))
      .filter(col("user_id") =!= -1)
      .orderBy("user_id", "session_start").collect()

    // batch session_window over the same events (sentinel excluded)
    val want = TestFixtures.events(spark, TestSpark.sfDir)
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("long")).as("sum_cents"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("n_events"), col("sum_cents"))
      .orderBy("user_id", "session_start").collect()
    assert(got.toSeq == want.toSeq,
      s"stream ${got.length} sessions, batch ${want.length}")

    // boundary semantics: exactly-gap-apart events MERGE (the session
    // window is right-closed); one microsecond past the gap breaks —
    // this pins the strict-> break the oracle uses
    import spark.implicits._
    def sess(ts2: String) = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, java.sql.Timestamp.valueOf(ts2)))
      .toDF("user_id", "ts")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .count().collect().length
    assert(sess("2024-01-01 10:30:00") == 1, "exactly-gap-apart events must merge")
    assert(sess("2024-01-01 10:30:00.000001") == 2, "past-gap events must not merge")
  }

  test("streaming iceberg sink is exactly-once under batch replay") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val loc = TestSpark.scratch("stream_iceberg")
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = EventStreams.icebergIngest(mem.toDF().toDF("id", "v"), loc, appId = "spec-ice")
    try {
      mem.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      mem.addData((3L, "c")); q.processAllAvailable()
    } finally q.stop()
    val conf = org.apache.spark.sql.graft.Shim.classic(spark).sparkContext.hadoopConfiguration
    val resolver = new graft.listing.IcebergSnapshotResolver(conf)
    def ids = spark.read.parquet(resolver.dataFilesDetailed(loc).map(_.path): _*)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(ids == Seq(1L, 2L, 3L))
    assert(graft.listing.IcebergWriter.lastTxn(spark, loc, "spec-ice").contains(1L))
    // REPLAY batch 1 (recovery scenario): recognized and skipped
    assert(!EventStreams.commitIcebergBatchIdempotent(
      Seq((3L, "c")).toDF("id", "v"), loc, "spec-ice", 1L))
    assert(ids == Seq(1L, 2L, 3L), "replay must not duplicate rows")
    // a genuinely new batch id commits; a foreign app has its own marks
    assert(EventStreams.commitIcebergBatchIdempotent(
      Seq((4L, "d")).toDF("id", "v"), loc, "spec-ice", 2L))
    assert(ids == Seq(1L, 2L, 3L, 4L))
    assert(graft.listing.IcebergWriter.lastTxn(spark, loc, "other-app").isEmpty)
  }

  test("streaming hudi sink is exactly-once under batch replay") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val loc = TestSpark.scratch("stream_hudi")
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = EventStreams.hudiIngest(mem.toDF().toDF("id", "v"), loc, appId = "spec-hudi")
    try {
      mem.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      mem.addData((3L, "c")); q.processAllAvailable()
    } finally q.stop()
    val conf = org.apache.spark.sql.graft.Shim.classic(spark).sparkContext.hadoopConfiguration
    val resolver = new graft.listing.HudiTimelineResolver(conf)
    def ids = spark.read.parquet(resolver.dataFilesDetailed(loc).map(_.path): _*)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(ids == Seq(1L, 2L, 3L))
    assert(graft.listing.HudiTimelineWriter.lastTxn(spark, loc, "spec-hudi").contains(1L))
    assert(!EventStreams.commitHudiBatchIdempotent(
      Seq((3L, "c")).toDF("id", "v"), loc, "spec-hudi", 1L))
    assert(ids == Seq(1L, 2L, 3L), "replay must not duplicate rows")
    assert(EventStreams.commitHudiBatchIdempotent(
      Seq((4L, "d")).toDF("id", "v"), loc, "spec-hudi", 2L))
    assert(ids == Seq(1L, 2L, 3L, 4L))
    assert(graft.listing.HudiTimelineWriter.lastTxn(spark, loc, "other").isEmpty)
  }

  test("iceberg txn commit: two CONCURRENT writers replaying one batch append it once") {
    import spark.implicits._
    import graft.listing.IcebergWriter
    val loc = TestSpark.scratch("race_iceberg")
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    // seed an unrelated batch so the race runs against a live table
    assert(IcebergWriter.commitTxn(spark, loc,
      Seq((0L, "z")).toDF("id", "v"), "race-app", 0L).nonEmpty)
    // the adversarial interleaving the single-writer protocol loses:
    // writer B passes the replay check, and BEFORE B's rename-CAS
    // writer A commits the SAME batch. B must lose the CAS, re-read,
    // see A's mark in the same metadata its retry seq derives from,
    // and abort as a replay (cleaning up its unpublished files).
    var fired = false
    val b = IcebergWriter.commitTxn(spark, loc, batch, "race-app", 1L,
      onBeforePublish = () => {
        if (!fired) {
          fired = true
          assert(IcebergWriter.commitTxn(spark, loc, batch, "race-app", 1L).nonEmpty,
            "writer A (the interleaved winner) must commit")
        }
      })
    assert(fired)
    assert(b.isEmpty, "writer B must recognize the replay after losing the CAS")
    val conf = org.apache.spark.sql.graft.Shim.classic(spark).sparkContext.hadoopConfiguration
    val resolver = new graft.listing.IcebergSnapshotResolver(conf)
    val referenced = resolver.dataFilesDetailed(loc).map(_.path).sorted
    val ids = spark.read.parquet(referenced: _*)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(ids == Seq(0L, 1L, 2L), "the raced batch must appear exactly once")
    // B's abort deleted its never-published data files: everything on
    // disk is referenced by the published metadata
    val onDisk = walkParquet(conf, loc).filterNot(_.contains("/metadata/")).sorted
    assert(onDisk == referenced.map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath).sorted)
  }

  test("hudi txn commit: two CONCURRENT writers replaying one batch append it once") {
    import spark.implicits._
    import graft.listing.HudiTimelineWriter
    val loc = TestSpark.scratch("race_hudi")
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(HudiTimelineWriter.commitTxn(spark, loc,
      Seq((0L, "z")).toDF("id", "v"), "race-app", 0L).nonEmpty)
    var fired = false
    val b = HudiTimelineWriter.commitTxn(spark, loc, batch, "race-app", 1L,
      onBeforePublish = () => {
        if (!fired) {
          fired = true
          assert(HudiTimelineWriter.commitTxn(spark, loc, batch, "race-app", 1L).nonEmpty,
            "writer A (the interleaved winner) must commit")
        }
      })
    assert(fired)
    assert(b.isEmpty, "writer B must recognize the replay after losing the CAS")
    val conf = org.apache.spark.sql.graft.Shim.classic(spark).sparkContext.hadoopConfiguration
    val resolver = new graft.listing.HudiTimelineResolver(conf)
    val referenced = resolver.dataFilesDetailed(loc).map(_.path)
    val ids = spark.read.parquet(referenced: _*)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(ids == Seq(0L, 1L, 2L), "the raced batch must appear exactly once")
    // B's abort deleted its never-published slices
    val onDisk = walkParquet(conf, loc).sorted
    assert(onDisk == referenced.map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath).sorted)
  }

  test("delta txn commit: two CONCURRENT writers replaying one batch append it once") {
    import spark.implicits._
    import graft.listing.DeltaLogWriter
    val loc = TestSpark.scratch("race_delta")
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(DeltaLogWriter.commitTxn(spark, loc,
      Seq((0L, "z")).toDF("id", "v"), "race-app", 0L).nonEmpty)
    // writer B passes the replay check, and BEFORE B's rename-CAS
    // writer A commits the SAME batch: B must lose the CAS, re-read
    // the head, see A's mark and abort as a replay
    var fired = false
    val b = DeltaLogWriter.commitTxn(spark, loc, batch, "race-app", 1L,
      onBeforePublish = () => {
        if (!fired) {
          fired = true
          assert(DeltaLogWriter.commitTxn(spark, loc, batch, "race-app", 1L).nonEmpty,
            "writer A (the interleaved winner) must commit")
        }
      })
    assert(fired)
    assert(b.isEmpty, "writer B must recognize the replay after losing the CAS")
    val conf = org.apache.spark.sql.graft.Shim.classic(spark).sparkContext.hadoopConfiguration
    val referenced = new graft.listing.DeltaLogResolver(spark).dataFilesDetailed(loc).map(_.path)
    val ids = spark.read.parquet(referenced: _*)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(ids == Seq(0L, 1L, 2L), "the raced batch must appear exactly once")
    // B's abort deleted its never-published data files
    val onDisk = walkParquet(conf, loc).filterNot(_.contains("/_delta_log/")).sorted
    assert(onDisk == referenced.map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath).sorted)
  }

  test("CMS sketch: stream grid equals batch grid; estimates never undercount") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = (1 to 400).map(i => (i % 37L, s"e$i")) // 37 keys, skewed none
    val batch = rows.toDF("user_id", "event_id")
    val batchCells = EventStreams.cmsCells(batch)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    // the same rows through a micro-batched stream in Complete mode
    // (three batches staged up front; runToCompletion drains them)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    rows.grouped(150).foreach(g => mem.addData(g: _*))
    val streamCells = EventStreams.runToCompletion(
      EventStreams.cmsCells(mem.toDF().toDF("user_id", "event_id")),
      "cms_mem", org.apache.spark.sql.streaming.OutputMode.Complete())
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamCells == batchCells,
      "micro-batched sketch must equal the batch sketch cell-for-cell")
    // grid volume: every row contributes once per hash row
    assert(batchCells.values.sum == 400L * 4)
    // CMS guarantee: estimate >= exact count for EVERY key
    val exact = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    exact.foreach { case (k, n) =>
      val est = (0 until 4).map { i =>
        val h = batch.sparkSession.range(1).select(
          org.apache.spark.sql.functions.pmod(
            graft.functions.CrossHash.charFold(lit(s"$k#$i")), lit(64L))).head().getLong(0)
        batchCells((i, h))
      }.min
      assert(est >= n, s"key $k: est $est < exact $n — CMS must never undercount")
    }
  }

  /** All .parquet files under `root` (absolute URI paths). */
  private def walkParquet(conf: org.apache.hadoop.conf.Configuration,
      root: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(conf)
    def walk(d: org.apache.hadoop.fs.Path): Seq[String] =
      fs.listStatus(d).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st.getPath.toUri.getPath)
        else Nil
      }
    walk(p)
  }

  test("userProfiles state is order-insensitive across adversarial batch splits") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      EventStreams.CentEvent]
    val q = EventStreams.runToCompletionQuery(
      EventStreams.userProfiles(mem.toDS()).toDF(), "prof_out", OutputMode.Update())
    try {
      // LATER events arrive in the FIRST batch — a time-ordered
      // sessionizer would miscount; order-insensitive accumulators
      // must not care
      mem.addData(EventStreams.CentEvent(1L, 5000L, 300L),
        EventStreams.CentEvent(2L, 9000L, 50L))
      q.processAllAvailable()
      mem.addData(EventStreams.CentEvent(1L, 1000L, 100L),
        EventStreams.CentEvent(1L, 3000L, 200L))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("prof_out")
      .groupBy("user_id")
      .agg(max_by(struct(col("n_events"), col("sum_cents"), col("first_us"),
        col("last_us")), col("n_events")).as("s"))
      .select(col("user_id"), col("s.*")).orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(last.toSeq == Seq((1L, 3L, 600L, 1000L, 5000L), (2L, 1L, 50L, 9000L, 9000L)))
  }

  test("userProfiles under the RocksDB state store: identical results, bounded heap") {
    // Proves the st-family's stateful operators run unchanged on the
    // SPILLABLE state backend: RocksDBStateStoreProvider keeps state
    // off-heap/on-disk per key-range, which is the 100 TB answer to
    // state that outgrows executor memory (the default
    // HDFSBackedStateStoreProvider holds every key in a JVM map).
    // Same query, same data, same answers — only the provider flips.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val rocks =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    def runProfiles(sink: String): Seq[(Long, Long, Long, Long, Long)] = {
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
        EventStreams.CentEvent]
      val q = EventStreams.runToCompletionQuery(
        EventStreams.userProfiles(mem.toDS()).toDF(), sink, OutputMode.Update())
      try {
        mem.addData(EventStreams.CentEvent(1L, 5000L, 300L),
          EventStreams.CentEvent(2L, 9000L, 50L))
        q.processAllAvailable()
        mem.addData(EventStreams.CentEvent(1L, 1000L, 100L),
          EventStreams.CentEvent(1L, 3000L, 200L),
          EventStreams.CentEvent(3L, 7000L, 25L))
        q.processAllAvailable()
      } finally q.stop()
      spark.table(sink)
        .groupBy("user_id")
        .agg(max_by(struct(col("n_events"), col("sum_cents"), col("first_us"),
          col("last_us")), col("n_events")).as("s"))
        .select(col("user_id"), col("s.*")).orderBy("user_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq
    }
    val baseline = runProfiles("prof_mem_base")
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, rocks)
    val onRocks =
      try runProfiles("prof_rocksdb")
      finally prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    assert(onRocks == baseline && baseline.nonEmpty,
      s"RocksDB state store changed results: $onRocks vs $baseline")
    assert(baseline == Seq((1L, 3L, 600L, 1000L, 5000L), (2L, 1L, 50L, 9000L, 9000L),
      (3L, 1L, 25L, 7000L, 7000L)))
  }

  test("streaming dedup keeps one row per key within the watermark horizon") {
    val batchDf = spark.read.parquet(streamDir)
    // duplicate the whole stream (same event_ids arrive twice in one
    // batch) — dedup must restore the original cardinality per key
    val dupDir = s"${TestFixtures.root(TestSpark.sfDir)}/events_stream_dup"
    if (!new java.io.File(s"$dupDir/_SUCCESS").exists()) {
      batchDf.union(batchDf).write.mode("overwrite").parquet(dupDir)
    }
    val stream = spark.readStream.schema(batchDf.schema).parquet(dupDir)
    val got = EventStreams.runToCompletion(
      EventStreams.dedupStream(stream, "event_id"), "dedup_out", OutputMode.Append())
    assert(got.count() == batchDf.select("event_id").distinct().count())
    // emitted rows are a superset-free selection: distinct event_ids only
    assert(got.select("event_id").distinct().count() == got.count())
  }

  test("stream-static enrichment equals the batch join and keeps unmatched rows") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = Seq(("click", 1.0), ("purchase", 5.0)).toDF("event_type", "weight")
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val enriched = EventStreams.enrich(
      mem.toDF().toDF("event_id", "event_type"), dim, "event_type")
    val q = enriched.writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      mem.addData((1L, "click"), (2L, "view"), (3L, "purchase"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql("SELECT event_id, weight FROM enrich_out ORDER BY event_id")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toSeq
    assert(got == Seq(1L -> Some(1.0), 2L -> None, 3L -> Some(5.0)),
      s"left enrichment must keep unmatched rows null: ${got.mkString(", ")}")
  }

  test("refreshing enrichment sees a dim update in a later batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dimPath = TestSpark.scratch("enrich_dim")
    val out = TestSpark.scratch("enrich_out")
    Seq(("click", 1.0)).toDF("event_type", "weight")
      .write.mode("overwrite").parquet(dimPath)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    // dimTtlMs = 0: re-resolve every batch (the deterministic setting;
    // a TTL'd cache only changes WHEN the refresh lands)
    val q = EventStreams.enrichIngest(
      mem.toDF().toDF("event_id", "event_type"), "event_type", out,
      () => spark.read.parquet(dimPath))
    try {
      mem.addData((1L, "click"))
      q.processAllAvailable()
      // the dim is UPDATED between batches — the next batch must see it
      Seq(("click", 9.0)).toDF("event_type", "weight")
        .write.mode("overwrite").parquet(dimPath)
      mem.addData((2L, "click"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out)
      .select("event_id", "weight").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 1.0, 2L -> 9.0),
      s"batch 2 must see the refreshed dim: $got")

    // TTL'd path: within one TTL window the resolver runs ONCE
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val out2 = TestSpark.scratch("enrich_out2")
    val mem2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q2 = EventStreams.enrichIngest(
      mem2.toDF().toDF("event_id", "event_type"), "event_type", out2,
      () => { calls.incrementAndGet(); spark.read.parquet(dimPath) },
      dimTtlMs = 10 * 60 * 1000L)
    try {
      mem2.addData((1L, "click")); q2.processAllAvailable()
      mem2.addData((2L, "click")); q2.processAllAvailable()
    } finally q2.stop()
    assert(calls.get() == 1, s"TTL window must dedupe resolutions: ${calls.get()}")
  }

  test("streaming delta sink is exactly-once under batch replay") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val loc = TestSpark.scratch("stream_delta")
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = EventStreams.deltaIngest(mem.toDF().toDF("id", "v"), loc, appId = "spec-app")
    try {
      mem.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      mem.addData((3L, "c")); q.processAllAvailable()
    } finally q.stop()
    val resolver = new graft.listing.DeltaLogResolver(spark)
    val v0 = resolver.latestVersion(loc).get
    def ids = spark.read.parquet(resolver.dataFilesDetailed(loc).map(_.path): _*)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(ids == Seq(1L, 2L, 3L))
    // REPLAY batch 1 (recovery scenario): recognized and skipped
    assert(!EventStreams.commitDeltaBatchIdempotent(
      Seq((3L, "c")).toDF("id", "v"), loc, "spec-app", 1L))
    assert(resolver.latestVersion(loc).get == v0, "replay must not commit")
    assert(ids == Seq(1L, 2L, 3L), "replay must not duplicate rows")
    // a genuinely new batch id commits
    assert(EventStreams.commitDeltaBatchIdempotent(
      Seq((4L, "d")).toDF("id", "v"), loc, "spec-app", 2L))
    assert(ids == Seq(1L, 2L, 3L, 4L))
    // a different appId has its own txn sequence
    assert(EventStreams.commitDeltaBatchIdempotent(
      Seq((5L, "e")).toDF("id", "v"), loc, "other-app", 0L))
    assert(ids == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("delta sink auto-checkpoints: log stays bounded, replay horizon intact") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val loc = TestSpark.scratch("stream_delta_cp")
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = EventStreams.deltaIngest(mem.toDF().toDF("id", "v"), loc,
      appId = "cp-app", checkpointEvery = 3)
    try {
      (0 until 8).foreach { i =>
        mem.addData((i.toLong, s"r$i")); q.processAllAvailable()
      }
    } finally q.stop()
    // versions 0..7; checkpoints fired at 3 and 6 and cleaned their
    // prefixes — only the post-checkpoint tail of JSON commits remains
    val logFiles = new java.io.File(s"$loc/_delta_log").listFiles().map(_.getName)
    val jsons = logFiles.filter(n => n.endsWith(".json") && !n.startsWith(".")).sorted
    assert(jsons.head == "00000000000000000007.json", s"stale prefix survived: ${jsons.toSeq}")
    assert(logFiles.exists(_ == "00000000000000000006.checkpoint.parquet"))
    // contents are exact after checkpoint + cleanup
    val resolver = new graft.listing.DeltaLogResolver(spark)
    val ids = spark.read.parquet(resolver.dataFilesDetailed(loc).map(_.path): _*)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(ids == (0L until 8L))
    // replay horizon survives the cleanup: batch 2's txn mark lives in
    // the checkpoint even though its commit JSON is gone
    assert(!EventStreams.commitDeltaBatchIdempotent(
      Seq((99L, "dup")).toDF("id", "v"), loc, "cp-app", 2L))
    assert(ids == (0L until 8L), "trimmed-prefix replay must not duplicate")
  }

  test("windowed delta ingest lands only watermark-finalized windows, exactly once") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val loc = TestSpark.scratch("stream_wdelta")
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:10:00")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val q = EventStreams.windowedDeltaIngest(
      mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"), loc,
      appId = "win-app")
    val resolver = new graft.listing.DeltaLogResolver(spark)
    def landed: Seq[(java.sql.Timestamp, String, Long)] = {
      val files = resolver.dataFilesDetailed(loc).map(_.path)
      if (files.isEmpty) Nil
      else spark.read.parquet(files: _*)
        .select("h", "event_type", "n").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSeq
    }
    try {
      // hour-1 events: window still open (watermark hasn't passed) ->
      // nothing lands
      mem.addData((1L, ts(1), 1L, "click", 1.0), (2L, ts(1), 2L, "click", 2.0))
      q.processAllAvailable()
      assert(landed.isEmpty, "open windows must not land")
      // hour-4 event advances the watermark past hour 1+1h late
      // allowance -> the hour-1 window finalizes and lands ONCE
      mem.addData((3L, ts(4), 1L, "view", 1.0))
      q.processAllAvailable()
      assert(landed == Seq(
        (java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), "click", 2L)), s"got $landed")
      // replaying an already-committed batch id is recognized
      val before = resolver.latestVersion(loc)
      assert(!EventStreams.commitDeltaBatchIdempotent(
        Seq((ts(1), "click", 2L, java.math.BigDecimal.valueOf(3.0)))
          .toDF("h", "event_type", "n", "sv"), loc, "win-app", 1L))
      assert(resolver.latestVersion(loc) == before)
    } finally q.stop()
  }

  test("streaming search ingest keeps BM25 exact against the growing corpus") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idx = TestSpark.scratch("stream_search")
    val base = Seq((1L, "spark shuffles data"), (2L, "vector math")).toDF("doc_id", "text")
    graft.operators.Search.writeSearchIndex(base, idx)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = EventStreams.searchIngest(mem.toDF().toDF("doc_id", "text"), idx)
    try {
      (0 until 10).foreach { i =>
        mem.addData((100L + i, s"spark merge w$i"), (200L + i, s"filler f$i"))
        q.processAllAvailable()
      }
    } finally q.stop()
    // after 10 micro-batches the probe must equal the ad hoc BM25
    // over the full grown corpus — N, avgdl, and df all current
    val full = base.union(
      (0 until 10).flatMap(i => Seq((100L + i, s"spark merge w$i"), (200L + i, s"filler f$i")))
        .toDF("doc_id", "text"))
    val terms = Seq("spark", "merge")
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(scores(graft.operators.Search.bm25Indexed(spark, idx, terms, 30)) ==
      scores(graft.operators.Search.bm25TopK(full, terms, 30)))
    // tier compaction bounds the batch dirs (10 appends, max 8)
    val dirs = new java.io.File(s"$idx/postings").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("batch=")).map(_.getName)
    assert(dirs.length <= 10, s"postings batch dirs grew unbounded: ${dirs.mkString(", ")}")
  }
}
