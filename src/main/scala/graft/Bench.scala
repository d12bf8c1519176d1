package graft

import graft.fixtures.TestFixtures
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with per-query seconds.
  * Fixture layouts are generated before timing starts so the numbers
  * measure query execution, not one-time setup.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // A timing artifact from a busy box is noise that then needs a
    // prose adjudication (observed rounds 8/9: closing sf1 runs under
    // ~3h of accumulated JVM load failed the trend gate that clean
    // reruns passed). Record the 1-min load in the summary always;
    // with SPARK_GRAFT_REQUIRE_QUIET=1 (closing-run discipline),
    // REFUSE to emit an artifact at all when the box is loaded.
    def load1Now(): Double = try {
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").split(" ")(0).toDouble
    } catch { case _: Exception => -1.0 }
    val load1 = load1Now()
    val quietCap = cpus.toDouble * 0.25
    if (sys.env.get("SPARK_GRAFT_REQUIRE_QUIET").contains("1") && load1 > quietCap) {
      System.err.println(
        f"[bench] REFUSING quiet run: load1=$load1%.2f > $quietCap%.2f — drain the box first")
      sys.exit(3)
    }
    // Box-speed CANARY: a fixed single-thread integer spin, timed
    // after one warm rep. Guest-visible load/steal CANNOT see host
    // frequency state (measured: the identical r9 query subset on
    // identical code ran 67.6s / 75.2s / 95.3s across one day at
    // idle-100%/steal-0 — a ~1.4x host clock swing). Recording the
    // canary makes every artifact self-describing about the box it
    // ran on, and trend_gate normalizes by it when both artifacts
    // carry one — a measured correction in place of the prose
    // adjudications rounds 8/9 needed.
    def spinOnce(iters: Int): Long = {
      var x = 0x9E3779B97F4A7C15L; var i = 0
      val t0 = System.nanoTime()
      while (i < iters) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      val dt = (System.nanoTime() - t0) / 1000000L
      if (x == 42L) System.err.println("") // sink: defeat DCE
      dt
    }
    val canaryMs: Long = { spinOnce(400000000); spinOnce(400000000) } // JIT warm, then measure
    // ALL-CORE canary: the same spin on every core at once. Hosts keep
    // single-core turbo while the ALL-CORE clock drops under
    // co-tenant load (measured: suite +13% while the single-thread
    // canary moved +2%), and the suite runs on all 32 cores — so this
    // is the number that predicts suite-relevant box speed. Reported
    // as the worst (slowest) thread's time for the fixed per-thread
    // work: stragglers are exactly what stretch a barrier-synchronized
    // Spark stage.
    val canaryAllMs: Long = {
      val n = cpus.toInt
      def allCore(): Long = {
        val times = new java.util.concurrent.atomic.AtomicLongArray(n)
        val ts = (0 until n).map { i =>
          new Thread(() => times.set(i, spinOnce(400000000)))
        }
        ts.foreach(_.start()); ts.foreach(_.join())
        (0 until n).map(times.get).max
      }
      allCore(); allCore()
    }
    System.err.println(s"[bench] canary_ms=$canaryMs canary_all_ms=$canaryAllMs")
    // SUSTAINED all-core CALIBRATION (r12 verdict ask #1). The
    // ~0.5 s burst canaries above are provably inverted on sustained
    // turbo drift: the r12 bisect showed the evening box running the
    // suite 1.5-2.3x slower while its burst canaries read FASTER
    // (489/555 ms vs 567/602) — short bursts ride the boost window,
    // the 10-minute suite runs at the box's SETTLED all-core clock.
    // This loop holds every core busy for ~6-8 s of fixed work —
    // past typical boost-budget windows — plus a DRAM-bound phase
    // (the drifted queries were shuffle/hash heavy, i.e. memory-
    // bound, so frequency alone is not the whole signal). Wall time
    // start -> last-thread-finish is the number: stragglers are what
    // stretch a barrier-synchronized Spark stage. Recorded as
    // calib_ms / calib_end_ms in every artifact; trend_gate prefers
    // it over the burst canaries for box-speed normalization.
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
    // I/O-SENSITIVE calibration leg (r13 verdict ask #1c). The CPU+
    // DRAM calibration above is blind to the resource micro-batch
    // streaming lives on: state-store/checkpoint commits are many
    // SMALL SYNCED WRITES on the local temp volume (r13: the driver
    // box and the builder box read near-identical calib_ms yet
    // differed 2.5x on the st family and ~1x elsewhere). Fixed work:
    // 400 x 4 KB create+write+fsync+close on java.io.tmpdir — the
    // volume Spark puts streaming checkpoints and RocksDB working
    // dirs on — plus the same directory-entry churn a commit makes.
    // Recorded as calib_io_ms/calib_io_end_ms; trend_gate uses the
    // pair to adjudicate st-family flags the CPU calibration cannot.
    def ioCalib(n: Int = 400): Long = {
      val dir = java.nio.file.Files.createTempDirectory("graft_iocal_")
      val buf = java.nio.ByteBuffer.allocate(4096)
      new java.util.Random(42).nextBytes(buf.array())
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) {
        val p = dir.resolve(s"f$i")
        val ch = java.nio.channels.FileChannel.open(p,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        buf.rewind(); ch.write(buf); ch.force(true); ch.close()
        if ((i & 3) == 3) java.nio.file.Files.delete(p) // entry churn
        i += 1
      }
      val dt = (System.nanoTime() - t0) / 1000000L
      try {
        java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      } catch { case _: Exception => () }
      dt
    }
    val calibIoMs: Long = { ioCalib(); ioCalib() } // warm dentry cache, then measure
    System.err.println(s"[bench] calib_io_ms=$calibIoMs")
    // IO QUIET-FLOOR (r15 verdict ask #1b): the load1 gate above is
    // blind to disk sags, and the r15 OFFICIAL artifact started inside
    // a measured 10-25x io sag (calib_io 4602 ms vs this host's
    // ~180-450 ms healthy floor, bench_history) — its headline total
    // was pure box noise that then needed a full manual re-adjudication
    // against quiet reruns. Under SPARK_GRAFT_REQUIRE_QUIET a start
    // calib_io beyond 3x the floor REFUSES the run; without it the
    // artifact still stamps a loud `degraded_start` verdict into BOTH
    // headline lines, so a reader of the artifact alone knows its
    // evidentiary value before comparing anything.
    val ioFloorMs = sys.env.getOrElse("SPARK_GRAFT_IO_FLOOR_MS", "450").toLong
    val degradedStart: String =
      (if (load1 > quietCap) Seq("load") else Nil) ++
        (if (calibIoMs > 3 * ioFloorMs) Seq("io") else Nil) match {
        case Nil => ""
        case xs  => xs.mkString("+")
      }
    if (sys.env.get("SPARK_GRAFT_REQUIRE_QUIET").contains("1") && calibIoMs > 3 * ioFloorMs) {
      System.err.println(
        s"[bench] REFUSING quiet run: calib_io_ms=$calibIoMs > ${3 * ioFloorMs} " +
          s"(3x the ${ioFloorMs} ms healthy floor) — the temp volume is sagging; wait it out")
      sys.exit(3)
    }
    if (degradedStart.nonEmpty)
      System.err.println(s"[bench] WARNING degraded_start=$degradedStart")
    // PER-QUERY environment witness (r14 verdict ask #2). The START/
    // END point probes above are structurally blind to mid-suite host
    // load waves (~5-minute swings measured on both boxes: r14
    // official inflated CPU-bound pair-miners 2.6-4.1x while calib/
    // calib_io read the boxes near-equal). Sampling the CUMULATIVE
    // /proc/stat busy jiffies at every query boundary and subtracting
    // the bench JVM's own /proc/self/stat jiffies gives, per query,
    // the fraction of total box CPU that OTHER processes consumed
    // while it ran — an average over exactly the query's interval, so
    // a wave that hits mid-query is visible no matter what the
    // endpoints looked like. Near-zero cost (two ~1 KB procfs reads
    // per query). Recorded as env[q] = [load1, ext_busy] in the
    // summary; trend_gate downgrades a flag whose query ran under
    // measurably higher external load to ENV-ADJUDICATED.
    def procSample(): (Long, Long, Long) = try {
      val cpu = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/stat")), "UTF-8")
        .linesIterator.next()
      val f = cpu.trim.split("\\s+").drop(1).map(_.toLong)
      val total = f.sum
      val idle = f(3) + (if (f.length > 4) f(4) else 0L) // idle + iowait
      val self0 = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/self/stat")), "UTF-8")
      // utime/stime are 1-based fields 14/15; the comm field can hold
      // spaces, so index from after the last ')' (state = field 3)
      val rest = self0.substring(self0.lastIndexOf(')') + 2).split(" ")
      (total - idle, total, rest(11).toLong + rest(12).toLong)
    } catch { case _: Exception => (-1L, -1L, -1L) }
    def extBusy(a: (Long, Long, Long), b: (Long, Long, Long)): Double =
      if (a._2 < 0 || b._2 < 0 || b._2 <= a._2) -1.0
      else math.max(0.0,
        ((b._1 - a._1) - (b._3 - a._3)).toDouble / (b._2 - a._2))
    // The DISK leg of the witness: ext_busy sees CPU waves but is
    // blind to disk sags, and those hit mid-suite too (r15 live case:
    // st12 flagged 1.53x in an artifact whose calib_io END probe read
    // 2.1x its start; an isolated fresh-JVM triplicate minutes later
    // read 10-14 s against a measured calib_io of 1860 ms — a ~10x
    // sag the CPU witness scored at ext_busy 0.04). A 24-fsync
    // mini-probe after every query (~10-15 ms healthy, 10x that in a
    // sag; outside the timed window) gives each query an io witness
    // that is SELF-RELATIVE within the artifact — trend_gate compares
    // it to the run's own median, so a sag reads as the deviation it
    // is even when cross-artifact calibration means disagree.
    def ioProbeMs(): Long = ioCalib(24)
    // standalone mode for drift experiments (NOTES.md): measure the
    // box without running the suite, e.g. under a deliberate load
    if (sys.env.get("SPARK_GRAFT_CALIB_ONLY").contains("1")) {
      println(s"""{"metric":"calib","calib_ms":$calibMs,"calib_io_ms":$calibIoMs,"canary_ms":$canaryMs,"canary_all_ms":$canaryAllMs}""")
      return
    }
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

    // Write/maintenance operators stay in the CORRECTNESS gate
    // (Verify runs them against their oracles) but are excluded from
    // the latency suite: g14 rewrites an entire table per invocation,
    // and p3 appends to (and tier-compacts) two persisted indexes —
    // both measure write throughput, and folding that into a
    // query-latency total misstates both.
    val writeOps = Set("g14_compact", "p3_ingest_pipeline", "g31_delta_write",
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

    val timed = benchQueries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // clean-heap start per query: without this, a memory-heavy query
      // leaves tens of GB of garbage whose collection lands in (and is
      // billed to) whichever query runs next — observed q10 at 30s in
      // the sf1 suite vs 0.6s in isolation. The GC runs between
      // timings, so no query's own work is hidden.
      // Drop cached/localCheckpoint blocks the previous query left in
      // the block manager (CC label rounds, signature frames): pinned
      // storage memory squeezes execution memory for whoever runs
      // next — observed as multi-x erratic swings in the pair-op
      // family at sf1, not as a clean per-query cost.
      // INVARIANT this sweep relies on: every query rebuilds its
      // frames from scratch, so nothing retained across query
      // boundaries is localCheckpointed. A localCheckpointed RDD has
      // TRUNCATED lineage — unpersisting one makes it unrecomputable
      // (missing-block errors on next use). If cross-query caching is
      // ever introduced, skip RDDs whose lineage was truncated
      // (rdd.getCheckpointFile / isLocallyCheckpointed) here.
      val sc = org.apache.spark.sql.graft.Shim.classic(spark).sparkContext
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      val s0 = procSample()
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
      catch { case e: Throwable => System.err.println(s"[bench] $name FAILED: $e"); false }
      // failures are reported as -1, never as a (fast) fake timing
      val dt = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      val eb = extBusy(s0, procSample())
      val l1 = load1Now()
      val io = ioProbeMs()
      System.err.println(
        f"[bench] $name%-22s $dt%8.2f s  ext_busy=$eb%.3f load1=$l1%.1f io_ms=$io")
      (name, dt, eb, l1, io)
    }
    val results = timed.map { case (name, dt, _, _, _) => name -> dt }
    val envResults = timed.map { case (name, _, eb, l1, io) => name -> (eb, l1, io) }
    // end-of-run all-core canary: the start canary alone cannot see a
    // host that sags DURING the ~10-minute suite (observed: heavies
    // +45% mid-run under a healthy start canary). The pair records
    // the box-speed envelope the artifact was measured in.
    val canaryEndMs: Long = {
      val n = cpus.toInt
      val times = new java.util.concurrent.atomic.AtomicLongArray(n)
      val ts = (0 until n).map { i =>
        new Thread(() => times.set(i, spinOnce(400000000)))
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      (0 until n).map(times.get).max
    }
    System.err.println(s"[bench] canary_end_ms=$canaryEndMs")
    // end-of-run sustained calibration: with the start value it
    // brackets the box-speed envelope the suite actually ran in —
    // trend_gate normalizes on the MEAN of the pair, so a host that
    // sags (or recovers) mid-run is corrected by its average state,
    // not the state of one instant
    val calibEndMs: Long = sustainedCalib()
    System.err.println(s"[bench] calib_end_ms=$calibEndMs")
    val calibIoEndMs: Long = ioCalib()
    System.err.println(s"[bench] calib_io_end_ms=$calibIoEndMs")
    val qs = results.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    // per-query environment witness map: env[q] = [load1, ext_busy]
    val envJson = envResults.map { case (k, (eb, l1, io)) =>
      "\"" + k + f"""\":[$l1%.2f,$eb%.4f,$io]""" }.mkString("{", ",", "}")
    // headline value is POISONED (-1) whenever any query failed: a
    // crashing query must never read as a speedup to a consumer that
    // ignores the 'failed' field. Per-query failures stay -1.0.
    val failed = results.count(_._2 < 0)
    val total =
      if (failed > 0) -1.0 else results.map(_._2).sum
    val summary =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"env":$envJson,"failed":$failed,"degraded_start":"$degradedStart","sf":"$sfDir","load1":$load1%.2f,"canary_ms":$canaryMs,"canary_all_ms":$canaryAllMs,"canary_end_ms":$canaryEndMs,"calib_ms":$calibMs,"calib_end_ms":$calibEndMs,"calib_io_ms":$calibIoMs,"calib_io_end_ms":$calibIoEndMs}"""
    // The driver captures only a BOUNDED WINDOW of process output, so
    // any single placement of the summary can be truncated away
    // (observed rounds 8-10; `parsed: null`): the full per-query line
    // is long enough to be HEAD-truncated by tail capture, and a line
    // printed only last can be followed by runner epilogue. Defense in
    // depth, all carrying the same headline numbers:
    //  1. a SHORT self-describing line as the FIRST stdout line Bench
    //     emits (everything before this point writes to stderr),
    //  2. the full per-query summary line (legacy consumers),
    //  3. the per-query map re-emitted as SELF-DELIMITING CHUNKS of
    //     <= ~25 entries each (~0.8 KB/line): tail capture truncates
    //     whole lines from the HEAD, so short lines near the END
    //     survive intact where one long line loses its head —
    //     trend_gate reassembles {"metric":"queries_chunk",...} lines,
    //  4. the same short line again as the LAST stdout line,
    //  5. the full summary persisted to target/bench_summary.json —
    //     the artifact of record for local trend_gate comparisons
    //     (the short line carries its path).
    val shortLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${results.size},"failed":$failed,"degraded_start":"$degradedStart","sf":"$sfDir","load1":$load1%.2f,"canary_ms":$canaryMs,"canary_all_ms":$canaryAllMs,"canary_end_ms":$canaryEndMs,"calib_ms":$calibMs,"calib_end_ms":$calibEndMs,"calib_io_ms":$calibIoMs,"calib_io_end_ms":$calibIoEndMs,"queries_file":"target/bench_summary.json"}"""
    println(shortLine)
    println(summary)
    // the load witness re-emitted the same self-delimiting way, so a
    // head-truncated driver tail still yields per-query env context.
    // Env chunks print FIRST in the redundancy block: they are the
    // most sacrificial layer, so head-truncation eats them before the
    // query timings below (r15 verdict ask #5 ordering).
    val envChunks = envResults.grouped(25).toSeq
    envChunks.zipWithIndex.foreach { case (grp, idx) =>
      val part = grp.map { case (k, (eb, l1, io)) =>
        "\"" + k + f"""\":[$l1%.2f,$eb%.4f,$io]""" }.mkString("{", ",", "}")
      println(
        s"""{"metric":"env_chunk","part":$idx,"parts":${envChunks.size},"env":$part}""")
    }
    val chunks = results.grouped(25).toSeq
    chunks.zipWithIndex.foreach { case (grp, idx) =>
      val part = grp.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
        .mkString("{", ",", "}")
      println(
        s"""{"metric":"queries_chunk","part":$idx,"parts":${chunks.size},"queries":$part}""")
    }
    // ONE compact per-query line near the very end (r15 verdict ask
    // #5): the driver's tail capture has been measured to keep only
    // ~2-3 KB, so the ~7 KB chunk block above can lose most of its
    // parts (r14: 48/198 timings recoverable). Query names compress
    // to their unique leading token (q1/g68/st7/...), values to
    // centiseconds — ~1.9 KB for 200 queries, small enough to
    // survive the tail window WHOLE next to the closing short line.
    // trend_gate expands the short keys against any artifact that
    // carries full names (the leading token is unique by
    // construction; a collision falls back to full names here).
    val shortKeys = results.map { case (k, _) => k -> k.takeWhile(_ != '_') }
    val prefixKeysUnique = shortKeys.map(_._2).distinct.size == shortKeys.size
    val miniKeys =
      if (prefixKeysUnique) shortKeys.toMap
      else shortKeys.map { case (k, _) => k -> k }.toMap
    val mini = results.map { case (k, v) => s"${miniKeys(k)}:" + f"$v%.2f" }
      .mkString(";")
    println(s"""{"metric":"queries_mini","n":${results.size},"v":"$mini"}""")
    // GZIP payload (r16 verdict ask #1): the plain mini line above is
    // ~2.3 KB for 198 queries and the driver's tail capture keeps only
    // ~2.0 KB, so in r16 the mini's HEAD was truncated (14 timings
    // lost) and no complete per-query set survived. This line carries
    // the SAME map — short unique-prefix keys, full 3-decimal seconds
    // — gzipped and base64'd to ~1.0 KB, printed immediately before
    // the final short line so that payload + shortLine + runner
    // epilogue (~1.6 KB together) fit the tail window WHOLE. Decode:
    // base64 -> gzip -> "key:sec;key:sec;..."; `keys` says whether the
    // keys are unique leading tokens ("prefix") or full names
    // (prefix-collision fallback). Sized on r16's real data:
    // b64(gzip(...)) = 980 chars for 198 queries at 3 decimals.
    val miniFull = results.map { case (k, v) => s"${miniKeys(k)}:" + f"$v%.3f" }
      .mkString(";")
    val gzB64: String = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(miniFull.getBytes("UTF-8")); gz.close()
      java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
    }
    val keyMode = if (prefixKeysUnique) "prefix" else "full"
    println(s"""{"metric":"queries_gz","n":${results.size},"codec":"b64.gzip","keys":"$keyMode","v":"$gzB64"}""")
    java.nio.file.Files.write(
      java.nio.file.Paths.get("target/bench_summary.json"),
      (summary + "\n").getBytes("UTF-8"))
    // ALSO persist under version control: target/ dies with any
    // `sbt clean` (r13 lost the r12 driver summary exactly that way,
    // degrading BENCH_r12.json's parse to its surviving tail chunks).
    // trend_gate only trusts this copy when its headline total
    // VALUE-MATCHES the artifact being parsed, so local runs
    // overwriting it can never corrupt a comparison.
    try {
      val hist = java.nio.file.Paths.get("bench_history")
      if (java.nio.file.Files.isDirectory(hist))
        java.nio.file.Files.write(hist.resolve("driver_last_summary.json"),
          (summary + "\n").getBytes("UTF-8"))
    } catch { case _: Exception => () } // never fail the bench over it
    println(shortLine)
    System.out.flush()
    spark.stop()
  }
}
