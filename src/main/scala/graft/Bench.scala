package graft

import graft.fixtures.TestFixtures
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line, last, with the total
  * and every query's time (see `compactLine`). The same run is written
  * with full query names and seconds to target/bench_summary.json.
  * Fixture layouts are generated before timing starts so the numbers
  * measure query execution, not one-time setup.
  */
object Bench {

  /** Write/maintenance operators stay in the CORRECTNESS gate (Verify
    * runs them against their oracles) but are excluded from the
    * latency suite: g14 rewrites an entire table per invocation, and
    * p3 appends to (and tier-compacts) two persisted indexes — both
    * measure write throughput, and folding that into a query-latency
    * total misstates both.
    */
  val writeOps: Set[String] = Set("g14_compact", "p3_ingest_pipeline", "g31_delta_write",
    "g32_iceberg_write", "g34_hudi_write", "g35_iceberg_partitioned",
    "g37_delta_restore", "g38_iceberg_rollback", "g39_hudi_rollback", "g40_delta_evolution",
    "g44_iceberg_evolution", "g45_hudi_evolution", "g46_delta_clone",
    "g47_delta_merge", "g48_delta_update", "g49_iceberg_merge", "g50_hudi_delete",
    "g51_delta_dv", "g52_delta_changes", "g53_iceberg_changes",
    "g54_iceberg_merge_changes", "g55_iceberg_bucket_prune",
    "g56_iceberg_truncate_prune", "g57_delta_rename", "g58_delta_drop",
    // g61 writes, spec-evolves, and re-appends a table per
    // invocation (r13 flagged 7.3 s, write-dominated); g66 writes +
    // merges a partitioned table then diffs it — both are
    // correctness-gated CDC/evolution ops whose latency measures
    // write throughput, like g53/g54
    "g61_iceberg_spec_evolution", "g66_iceberg_part_changes",
    "g67_hudi_changes", // writes + full-span upsert per invocation
    "g68_delta_part_changes", // writes + DV-deletes a partitioned table per invocation
    "g69_delta_restore_changes", // writes + DV-deletes + restores per invocation
    // rename/spec-evolution CDC trio: each writes, evolves, and
    // row-level-deletes a fresh table per invocation — write
    // throughput, not query latency, like g53/g54/g66/g68
    "g70_delta_rename_changes", "g71_iceberg_rename_changes",
    "g72_iceberg_evo_changes",
    // retention trio: write + physically delete per invocation
    "g41_delta_vacuum", "g42_iceberg_expire", "g43_hudi_clean",
    // st2/st4/st5 stage + stream a fresh lakehouse table per run
    "st2_stream_ingest", "st4_stream_iceberg", "st5_stream_hudi")

  /** A query's short key: its leading token (q1, g68, st7, ...). */
  def shortKey(name: String): String = name.takeWhile(_ != '_')

  /** Headline total: the sum of the per-query seconds, POISONED (-1)
    * whenever any query failed, so a crashing query never reads as a
    * speedup to a consumer that ignores the `failed` field.
    */
  private def headline(results: Seq[(String, Double)]): (String, Int) = {
    val failed = results.count(_._2 < 0)
    (if (failed > 0) "-1" else f"${results.map(_._2).sum}%.3f", failed)
  }

  /** The one stdout line: headline, calibration pair, and every
    * query's time in integer centiseconds (-1 for a failed query)
    * under its short key, e.g. `"cs":"d7:233,q1:48"`. The driver keeps
    * only the last ~2 KB of output; for 198 queries the line is ~1.6 KB,
    * so it survives whole next to sbt's `[info] ` prefix and
    * `[success]` epilogue. Short keys are unique over the benched
    * queries (BenchSpec); trend_gate refuses a line whose map holds
    * fewer than `n_queries` entries.
    */
  def compactLine(results: Seq[(String, Double)], sf: String,
                  calibMs: Long, calibEndMs: Long): String = {
    val (value, failed) = headline(results)
    val cs = results.map { case (k, v) =>
      s"${shortKey(k)}:${if (v < 0) -1L else math.round(v * 100)}"
    }.mkString(",")
    s"""{"metric":"total","value":$value,"unit":"sec","n_queries":${results.size},""" +
      s""""failed":$failed,"sf":"$sf","calib_ms":$calibMs,"calib_end_ms":$calibEndMs,""" +
      s""""keys":"prefix","cs":"$cs"}"""
  }

  /** The record with full names and seconds, for target/bench_summary.json. */
  def summaryJson(results: Seq[(String, Double)], sf: String,
                  calibMs: Long, calibEndMs: Long): String = {
    val (value, failed) = headline(results)
    val qs = results.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }.mkString("{", ",", "}")
    s"""{"metric":"total","value":$value,"unit":"sec","queries":$qs,"failed":$failed,""" +
      s""""sf":"$sf","calib_ms":$calibMs,"calib_end_ms":$calibEndMs}"""
  }

  /** The sweep between timed queries: drops every cached plan and
    * every persisted or checkpointed RDD the previous query (or the
    * warm pass) left behind. Pinned storage memory squeezes execution
    * memory for whoever runs next — observed as multi-x erratic swings
    * in the pair-op family at sf1, not as a clean per-query cost — and a
    * cached-plan entry left registered would let the timed pass reuse
    * the warm pass's cache state.
    * INVARIANT this sweep relies on: every query rebuilds its frames
    * from scratch, so nothing retained across query boundaries is
    * localCheckpointed. A localCheckpointed RDD has TRUNCATED lineage —
    * unpersisting one makes it unrecomputable (missing-block errors on
    * next use). If cross-query caching is ever introduced, skip RDDs
    * whose lineage was truncated (rdd.getCheckpointFile /
    * isLocallyCheckpointed) here.
    */
  def releaseCached(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    def spinOnce(iters: Int): Long = {
      var x = 0x9E3779B97F4A7C15L; var i = 0
      val t0 = System.nanoTime()
      while (i < iters) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      val dt = (System.nanoTime() - t0) / 1000000L
      if (x == 42L) System.err.println("") // sink: defeat DCE
      dt
    }
    // SUSTAINED all-core CALIBRATION. Short (~0.5 s) burst probes ride
    // the host's boost window and read inverted on sustained turbo
    // drift (r12: the evening box ran the suite 1.5-2.3x slower while
    // its burst probes read FASTER); the 10-minute suite runs at the
    // box's SETTLED all-core clock. This loop holds every core busy for
    // ~6-8 s of fixed work — past typical boost-budget windows — plus
    // a DRAM-bound phase (the drifted queries were shuffle/hash heavy,
    // i.e. memory-bound, so frequency alone is not the whole signal).
    // Wall time start -> last-thread-finish is the number: stragglers
    // are what stretch a barrier-synchronized Spark stage. Recorded as
    // calib_ms / calib_end_ms; trend_gate normalizes box speed by the
    // mean of the pair.
    def sustainedCalib(): Long = {
      val n = cpus.toInt
      val SpinBatches = 12               // ~6 s all-core integer spin
      val MemLongs = (8 << 20) / 8       // 8 MB/thread; 32x8 MB >> L3
      val MemPasses = 200                // ~50 GB aggregate traffic
      val t0 = System.nanoTime()
      val ts = (0 until n).map { _ =>
        new Thread(() => {
          var b = 0
          while (b < SpinBatches) { spinOnce(400000000); b += 1 }
          val arr = new Array[Long](MemLongs)
          var p = 0
          var s = 0L
          while (p < MemPasses) {
            var j = p % 8 // rotate the phase so passes don't collapse
            while (j < arr.length) { s += arr(j); j += 8 } // 64 B: every line
            p += 1
          }
          if (s == 42L) System.err.println("") // sink: defeat DCE
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      (System.nanoTime() - t0) / 1000000L
    }
    val calibMs: Long = sustainedCalib()
    System.err.println(s"[bench] calib_ms=$calibMs")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // AQE fully on, including partition coalescing: the pair-join
      // operators pin their own explicit partition counts (see
      // Dedup.pinned), so the byte-based coalescer no longer needs a
      // session-wide off switch.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // the status store retains per-execution metadata even with the
      // UI off; at 150 queries x warm+timed passes the defaults hold
      // thousands of execution/job/stage snapshots on a heap the
      // queries also need
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Optional subset filter (comma-separated names): lets a drift
    // bisect run an older round's exact query set in one session, so
    // per-session effects (warm-pass size, JVM/codegen state) are
    // held at that round's shape instead of today's.
    val subset = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val benchQueries = SparkEntry.queries.filterNot { case (k, _) => writeOps(k) }
      .filter { case (k, _) => subset.forall(_.contains(k)) }

    // one-time fixture generation + engine warm-up, outside timing
    TestFixtures.engineFor(spark, sfDir)
    // Full untimed warm pass: first touch of each table pays one-time
    // costs (datasource init, file index + parquet footers, codegen
    // compilation) that a metadata-caching engine amortizes across its
    // TTL window by design — steady-state timings are the comparable
    // number. The reference works the same way: listings and metadata
    // are cached, queries run against warm caches.
    benchQueries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try fn(spark, sfDir).count() catch {
        case NonFatal(e) => System.err.println(s"warm pass: $name failed: $e")
      }
    }

    val results = benchQueries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // clean-heap start per query: without this, a memory-heavy query
      // leaves tens of GB of garbage whose collection lands in (and is
      // billed to) whichever query runs next — observed q10 at 30s in
      // the sf1 suite vs 0.6s in isolation. The GC runs between
      // timings, so no query's own work is hidden.
      releaseCached(spark)
      System.gc()
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
      catch { case e: Throwable => System.err.println(s"[bench] $name FAILED: $e"); false }
      // failures are reported as -1, never as a (fast) fake timing
      val dt = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      System.err.println(f"[bench] $name%-22s $dt%8.2f s")
      name -> dt
    }
    // end-of-run sustained calibration: with the start value it
    // brackets the box-speed envelope the suite actually ran in —
    // trend_gate normalizes on the MEAN of the pair, so a host that
    // sags (or recovers) mid-run is corrected by its average state,
    // not the state of one instant
    val calibEndMs: Long = sustainedCalib()
    System.err.println(s"[bench] calib_end_ms=$calibEndMs")
    java.nio.file.Files.write(
      java.nio.file.Paths.get("target/bench_summary.json"),
      (summaryJson(results, sfDir, calibMs, calibEndMs) + "\n").getBytes("UTF-8"))
    spark.stop()
    // printed after spark.stop(), so no Spark log line can follow it
    println(compactLine(results, sfDir, calibMs, calibEndMs))
    System.out.flush()
  }
}
