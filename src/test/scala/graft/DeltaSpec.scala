package graft

import graft.catalog.FixtureCatalog
import graft.engine.GlueTableEngine
import graft.fixtures.TestFixtures
import graft.model.{CacheConfig, ColumnDef, GlueTable}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Delta transaction-log resolution (graft.listing.DeltaLogResolver)
  * — the beyond-reference table type (the reference's classifier
  * declares DELTA but can never return it, src/util/glue.ts:13-19):
  * commit replay, remove semantics, checkpoint + tail, time travel,
  * partitionValues-driven pruning, and stats-based file skipping.
  */
class DeltaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val engine = TestFixtures.engineFor(spark, TestSpark.sfDir)

  private def liCount(parity: Option[Int] = None): Long = {
    val li = spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
    parity.fold(li)(p => li.filter(col("l_orderkey") % 2 === p)).count()
  }

  test("latest version honors the remove; time travel walks commits") {
    // v2 removed the even file: live = odds only
    assert(engine.tableDF("default", "delta_lineitem").count() == liCount(Some(1)))
    // v1: both files
    assert(engine.tableDF("default", "delta_lineitem", 1).count() == liCount())
    // v0: evens only — and the removed file never leaks ACROSS versions
    assert(engine.tableDF("default", "delta_lineitem", 2).count() == liCount(Some(0)))
    // offset beyond history -> empty
    assert(engine.files("default", "delta_lineitem", 5).isEmpty)
  }

  test("incremental read across the remove never resurfaces the deleted file") {
    // v0 -> v1 delta: the odd file's rows
    val inc = engine.tableDFIncremental("default", "delta_lineitem", 2, 1)
    assert(inc.count() == liCount(Some(1)))
    // v1 -> v2 is a pure delete: nothing added
    assert(engine.tableDFIncremental("default", "delta_lineitem", 1, 0).count() == 0)
    // whole range v0 -> v2: only files LIVE at v2 and absent at v0 —
    // the odd file; the removed even file must not reappear
    val whole = engine.tableDFIncremental("default", "delta_lineitem", 2, 0)
    assert(whole.filter(col("l_orderkey") % 2 === 0).count() == 0)
    assert(whole.count() == liCount(Some(1)))
  }

  test("checkpoint replaces the trimmed log prefix") {
    // simulate Delta log cleanup: copy the fixture, delete the JSON
    // commits AT/BEFORE the checkpoint — state must come from the
    // checkpoint parquet plus the remaining tail
    val src = TestFixtures.deltaLineitem(spark, TestSpark.sfDir)
    val dst = new java.io.File(TestSpark.scratch("delta_cp_only"))
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(src), dst)
    new java.io.File(dst, "_delta_log/00000000000000000000.json").delete()
    // keep 1.json's file present? no: delete it too — the checkpoint at
    // v1 IS version 1's state
    new java.io.File(dst, "_delta_log/00000000000000000001.json").delete()
    // a version marker so commits list is non-empty (v2 remains)
    val cat = new FixtureCatalog().register(GlueTable("d", "cp",
      Some(dst.getAbsolutePath), parameters = Map("table_type" -> "DELTA")))
    val eng = new GlueTableEngine(spark, cat)
    // latest (v2) = checkpoint state minus the removed even file
    assert(eng.tableDF("d", "cp").count() == liCount(Some(1)))
    // offset 1 -> v1 = exactly the checkpoint state (both files)
    assert(eng.tableDF("d", "cp", 1).count() == liCount())
  }

  test("partitioned Delta prunes from the log's partitionValues alone") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = engine.query(
        "SELECT count(*) AS n FROM glue.default.delta_events WHERE event_type = 'click'")
      val n = df.collect().head.getLong(0)
      val want = TestFixtures.events(spark, TestSpark.sfDir)
        .filter(col("event_type") === "click").count()
      assert(n == want)
      val scans = df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty)
      assert(scans.head.metrics("numFiles").value == 1,
        s"partition filter must prune to 1 file, got ${scans.head.metrics("numFiles").value}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("add-action stats skip files without any footer read") {
    import spark.implicits._
    // two files with DISJOINT x ranges, stats only in the log; footer
    // reads disabled so any skip must come from add.stats
    val root = new java.io.File(TestSpark.scratch("delta_skip"))
    def mk(sub: String, range: Range): (String, Long) = {
      range.map(_.toLong).toDF("x").coalesce(1).write.parquet(s"$root/$sub")
      val f = new java.io.File(s"$root/$sub").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      (f.getAbsolutePath, f.length())
    }
    val (lowPath, lowSize) = mk("low", 0 until 100)
    val (highPath, highSize) = mk("high", 1000 until 1100)
    new java.io.File(root, "_delta_log").mkdirs()
    val schemaString = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.LongType))).json)
    def add(p: String, s: Long, lo: Long, hi: Long) = {
      val stats = s"""{\\"numRecords\\":100,\\"minValues\\":{\\"x\\":$lo},\\"maxValues\\":{\\"x\\":$hi},\\"nullCount\\":{\\"x\\":0}}"""
      s"""{"add":{"path":"$p","size":$s,"partitionValues":{},"dataChange":true,"stats":"$stats"}}"""
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/_delta_log/00000000000000000000.json"),
      (s"""{"metaData":{"id":"t","format":{"provider":"parquet"},"schemaString":$schemaString,"partitionColumns":[]}}""" +
        "\n" + add(lowPath, lowSize, 0L, 99L) + "\n" + add(highPath, highSize, 1000L, 1099L) + "\n").getBytes)
    val cat = new FixtureCatalog().register(GlueTable("d", "skip",
      Some(root.getAbsolutePath), parameters = Map("table_type" -> "DELTA")))
    val eng = new GlueTableEngine(spark, cat, CacheConfig(footerStatsMaxFiles = 0))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = eng.query("SELECT x FROM glue.d.skip WHERE x >= 1000")
      assert(df.collect().length == 100)
      val scans = df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.head.metrics("numFiles").value == 1,
        s"log stats must prune to 1 file, got ${scans.head.metrics("numFiles").value}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("countRows answers from footers with zero Spark jobs, honoring the remove") {
    val want = liCount(Some(1)) // Delta v2 live set = odds only
    val wantV1 = liCount()
    // warm the listing caches OUTSIDE the window: first touch of a
    // version may read the checkpoint parquet (a metadata-scale Spark
    // job); the count itself must then be job-free
    engine.files("default", "delta_lineitem")
    engine.files("default", "delta_lineitem", 1)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = org.apache.spark.sql.graft.Shim.classic(spark).sparkContext
    sc.addSparkListener(listener)
    val footerReads0 = graft.listing.FooterStats.rowCountReads.get()
    try {
      assert(engine.countRows("default", "delta_lineitem") == want)
      // time travel counts too: v1 has both files
      assert(engine.countRows("default", "delta_lineitem", 1) == wantV1)
      Thread.sleep(1000) // listener events are async
      assert(jobs.get() == 0, s"metadata count launched ${jobs.get()} Spark job(s)")
      // the log's add-action stats already carry numRecords: the
      // count must come from cached log state with ZERO footer I/O
      val footerReads = graft.listing.FooterStats.rowCountReads.get() - footerReads0
      assert(footerReads == 0L, s"metadata count read $footerReads parquet footer(s)")
    } finally sc.removeSparkListener(listener)
  }

  test("write path: round-trip, append versioning, and self-written stats skipping") {
    import spark.implicits._
    val loc = TestSpark.scratch("delta_write")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat,
      CacheConfig(footerStatsMaxFiles = 0)) // any skip must come from OUR log stats
    val batch1 = (0L until 100L).map(i => (i, s"row$i")).toDF("x", "s").coalesce(1)
    eng.writeDeltaTable(batch1, "d", "w", loc)
    // round-trip
    assert(eng.tableDF("d", "w").count() == 100)
    assert(eng.tableDF("d", "w").agg(sum("x")).head().getLong(0) == 4950L)
    // append = next version; both visible at latest, old state at offset 1
    val v = eng.appendDeltaTable(
      (1000L until 1100L).map(i => (i, s"row$i")).toDF("x", "s").coalesce(1), "d", "w")
    assert(v == 1L)
    assert(eng.tableDF("d", "w").count() == 200)
    assert(eng.tableDF("d", "w", 1).count() == 100)
    // incremental read = exactly the appended batch
    assert(eng.tableDFIncremental("d", "w", 1, 0).agg(min("x"), max("x")).head()
      .toSeq == Seq(1000L, 1099L))
    // metadata count (numRecords path exercised via footers)
    assert(eng.countRows("d", "w") == 200L)
    // file skipping from OUR OWN written stats: the two batches have
    // disjoint x ranges, so a selective predicate scans 1 of 2 files
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = eng.query(s"SELECT x FROM glue.d.w WHERE x >= 1000")
      assert(df.collect().length == 100)
      val scans = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.head.metrics("numFiles").value == 1,
        s"self-written log stats must prune to 1 file, got ${scans.head.metrics("numFiles").value}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // string stats round-trip too (min/max on s)
    val resolver = new graft.listing.DeltaLogResolver(spark)
    val withBounds = resolver.dataFilesDetailed(loc)
    assert(withBounds.forall(_.bounds.contains("s")), s"string bounds missing: $withBounds")
  }

  test("write path: partitioned writes carry partitionValues in the log") {
    import spark.implicits._
    val loc = TestSpark.scratch("delta_write_part")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    val data = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("x", "k")
    eng.writeDeltaTable(data, "d", "wp", loc, partitionBy = Seq("k"))
    val files = eng.files("d", "wp")
    assert(files.nonEmpty && files.forall(_.partitionValues.keySet == Set("k")))
    assert(eng.tableDF("d", "wp").filter(col("k") === "a").count() == 2)
    // the partition column reads back even though data files omit it
    assert(eng.tableDF("d", "wp").select("x", "k").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSet == Set((1L, "a"), (2L, "a"), (3L, "b")))
  }

  test("optimize rewrites many small files into one commit; old versions still travel") {
    import spark.implicits._
    val loc = TestSpark.scratch("delta_opt")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    eng.writeDeltaTable((0L until 50L).map(i => (i, i * 2)).toDF("x", "y").repartition(5),
      "d", "opt", loc)
    eng.appendDeltaTable((50L until 100L).map(i => (i, i * 2)).toDF("x", "y").repartition(5),
      "d", "opt")
    val before = eng.files("d", "opt")
    assert(before.size == 10, s"fixture shape: ${before.size} files")
    val v = eng.optimizeDeltaTable("d", "opt", targetFileBytes = Long.MaxValue)
    assert(v == 2L)
    val after = eng.files("d", "opt")
    assert(after.size == 1, s"compaction must leave 1 live file, got ${after.size}")
    // content identical, old layout still reachable by time travel
    assert(eng.tableDF("d", "opt").agg(sum("x"), sum("y")).head().toSeq == Seq(4950L, 9900L))
    assert(eng.files("d", "opt", 1).size == 10)
    assert(eng.tableDF("d", "opt", 1).count() == 100)
    // nothing physically deleted (vacuum is separate): old files remain
    assert(before.forall(f => new java.io.File(
      new org.apache.hadoop.fs.Path(f.path).toUri.getPath).exists()))
  }

  test("restore flips the table back as a new commit; history intact") {
    import spark.implicits._
    val loc = TestSpark.scratch("delta_restore")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    eng.writeDeltaTable((0L until 50L).map(i => (i, i * 2)).toDF("x", "y").coalesce(1),
      "d", "rst", loc)
    eng.appendDeltaTable((50L until 100L).map(i => (i, i * 2)).toDF("x", "y").coalesce(1),
      "d", "rst")                                      // v1: 100 rows
    eng.deleteDeltaWhere("d", "rst", col("x") < 25) // v2: 75 rows
    assert(eng.tableDF("d", "rst").count() == 75)
    // restore to the state before the delete (offset 1 from latest)
    val v = eng.restoreDeltaTable("d", "rst", 1)
    assert(v == 3L)
    // latest == the pre-delete state, exactly
    assert(eng.tableDF("d", "rst").count() == 100)
    assert(eng.tableDF("d", "rst").agg(sum("x")).head().getLong(0) == 4950L)
    // history intact: the rolled-back state still time-travels
    assert(eng.tableDF("d", "rst", 1).count() == 75)
    assert(eng.tableDF("d", "rst", 2).count() == 100)
    // restored adds kept their stats: selective scan prunes to 1 of
    // the 2 original files (disjoint x ranges)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = eng.query("SELECT x FROM glue.d.rst WHERE x >= 50")
      assert(df.collect().length == 50)
      val scans = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.head.metrics("numFiles").value == 1,
        s"restored stats must prune to 1 file, got ${scans.head.metrics("numFiles").value}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // restore-of-restore: going back to the deleted state also works
    val v2 = eng.restoreDeltaTable("d", "rst", 1)
    assert(v2 == 4L && eng.tableDF("d", "rst").count() == 75)
  }

  test("vacuum deletes only files unreferenced by every retained version") {
    import spark.implicits._
    val loc = TestSpark.scratch("delta_vac")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    eng.writeDeltaTable((0L until 50L).toDF("x").repartition(4), "d", "vac", loc)
    eng.optimizeDeltaTable("d", "vac", targetFileBytes = Long.MaxValue) // v1: 1 file
    // retain both versions: nothing is deletable
    assert(eng.vacuumDeltaTable("d", "vac", retainVersions = 2).isEmpty)
    // retain only the latest: the 4 pre-optimize files go
    val deleted = eng.vacuumDeltaTable("d", "vac", retainVersions = 1)
    assert(deleted.size == 4, s"expected the 4 retired files deleted, got $deleted")
    assert(eng.tableDF("d", "vac").agg(sum("x")).head().getLong(0) == 1225L)
    // time travel to the vacuumed version now (correctly) fails to read
    val gone = eng.files("d", "vac", 1)
    assert(gone.forall(f => !new java.io.File(
      new org.apache.hadoop.fs.Path(f.path).toUri.getPath).exists()))
  }

  test("optimize with zorderBy clusters both dimensions for skipping") {
    import spark.implicits._
    val loc = TestSpark.scratch("delta_optz")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat, CacheConfig(footerStatsMaxFiles = 0))
    val rows = for (a <- 0L until 64L; b <- 0L until 16L) yield (a, b)
    eng.writeDeltaTable(rows.toDF("a", "b").repartition(8), "d", "oz", loc)
    eng.optimizeDeltaTable("d", "oz", targetFileBytes = 2048, zorderBy = Seq("a", "b"))
    val n = eng.files("d", "oz").size
    assert(n > 2, s"need multiple output files for a skipping test, got $n")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def scanned(pred: String): Long = {
        val df = eng.query(s"SELECT a FROM glue.d.oz WHERE $pred")
        df.collect()
        df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }.head.metrics("numFiles").value
      }
      // selective predicates on EITHER z-ordered dimension skip files
      // purely from the self-written add-stats (footers disabled)
      assert(scanned("a = 0") < n, "a-predicate must skip z-ordered files")
      assert(scanned("b = 0") < n, "b-predicate must skip z-ordered files")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("delete-where rewrites only files whose stats admit a match") {
    import spark.implicits._
    val loc = TestSpark.scratch("delta_del")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    eng.writeDeltaTable((0L until 100L).toDF("x").coalesce(1), "d", "dw", loc)
    eng.appendDeltaTable((1000L until 1100L).toDF("x").coalesce(1), "d", "dw")
    val before = eng.files("d", "dw").map(_.path)
    assert(before.size == 2)
    val lowFile = before.find(_.contains("/v0_")).get

    val v = eng.deleteDeltaWhere("d", "dw", col("x") >= 1050L)
    assert(v == 2L)
    val after = eng.files("d", "dw").map(_.path)
    // the low-range file is PROVABLY unaffected: same physical file, no rewrite
    assert(after.contains(lowFile), s"untouched file must survive as-is: $after")
    assert(after.size == 2 && after.exists(_.contains("/v2_")),
      s"affected file must be rewritten under v2: $after")
    // row semantics: exactly the matching rows are gone
    val xs = eng.tableDF("d", "dw").select("x").collect().map(_.getLong(0)).toSet
    assert(xs == ((0L until 100L) ++ (1000L until 1050L)).toSet)
    // time travel still sees the pre-delete state
    assert(eng.tableDF("d", "dw", 1).count() == 200)

    // a predicate no file can match commits NOTHING (version unchanged)
    assert(eng.deleteDeltaWhere("d", "dw", col("x") > 100000L) == 2L)
    assert(eng.files("d", "dw").map(_.path).toSet == after.toSet)
  }

  test("update-where rewrites surgically and only touches matching rows") {
    import spark.implicits._
    val loc = TestSpark.scratch("delta_upd")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    eng.writeDeltaTable((0L until 100L).map(i => (i, 1L)).toDF("x", "flag").coalesce(1),
      "d", "up", loc)
    eng.appendDeltaTable((1000L until 1100L).map(i => (i, 1L)).toDF("x", "flag").coalesce(1),
      "d", "up")
    val before = eng.files("d", "up").map(_.path)
    val lowFile = before.find(_.contains("/v0_")).get
    val v = eng.updateDeltaWhere("d", "up", col("x") >= 1050L, Map("flag" -> lit(9L)))
    assert(v == 2L)
    val after = eng.files("d", "up").map(_.path)
    assert(after.contains(lowFile), "provably-unaffected file must not rewrite")
    val rows = eng.tableDF("d", "up").select("x", "flag").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size == 200)
    assert(rows.filter(_._1 >= 1050L).values.forall(_ == 9L))
    assert(rows.filter(_._1 < 1050L).values.forall(_ == 1L))
    // missing SET column errors by name
    val e = intercept[IllegalArgumentException] {
      eng.updateDeltaWhere("d", "up", col("x") > 0L, Map("nope" -> lit(1)))
    }
    assert(e.getMessage.contains("nope"))
  }

  test("merge upserts by key, rewriting only key-range-intersecting files") {
    import spark.implicits._
    val loc = TestSpark.scratch("delta_mrg")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    eng.writeDeltaTable((0L until 100L).map(i => (i, s"old$i")).toDF("k", "v").coalesce(1),
      "d", "m", loc)
    eng.appendDeltaTable((1000L until 1100L).map(i => (i, s"old$i")).toDF("k", "v").coalesce(1),
      "d", "m")
    val lowFile = eng.files("d", "m").map(_.path).find(_.contains("/v0_")).get
    // source: update two high keys, insert two brand-new keys
    val src = Seq((1050L, "new1050"), (1099L, "new1099"),
      (5000L, "ins5000"), (5001L, "ins5001")).toDF("k", "v")
    val v = eng.mergeDelta("d", "m", src, "k")
    assert(v == 2L)
    val after = eng.files("d", "m").map(_.path)
    assert(after.contains(lowFile), "low file is outside the source key span: no rewrite")
    val rows = eng.tableDF("d", "m").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 202)
    assert(rows(1050L) == "new1050" && rows(1099L) == "new1099")
    assert(rows(5000L) == "ins5000" && rows(5001L) == "ins5001")
    assert(rows(1051L) == "old1051" && rows(0L) == "old0")
    // pure-insert merge (span beyond every file) keeps all files
    val before2 = eng.files("d", "m").map(_.path).toSet
    eng.mergeDelta("d", "m", Seq((9000L, "i")).toDF("k", "v"), "k")
    assert(before2.subsetOf(eng.files("d", "m").map(_.path).toSet))
    assert(eng.tableDF("d", "m").count() == 203)
  }

  test("writer checkpoint: state, time travel, and txn marks survive log cleanup") {
    import spark.implicits._
    import graft.listing.{DeltaLogResolver, DeltaLogWriter}
    val loc = TestSpark.scratch("delta_cpw")
    val w1 = (0L until 100L).map(i => (i, s"a$i")).toDF("x", "s").coalesce(1)
    val w2 = (1000L until 1100L).map(i => (i, s"b$i")).toDF("x", "s").coalesce(1)
    DeltaLogWriter.commitTxn(spark, loc, w1, "sink", 7L)
    DeltaLogWriter.commitTxn(spark, loc, w2, "sink", 9L)
    val cpv = DeltaLogWriter.checkpoint(spark, loc)
    assert(cpv == 1L)
    assert(new java.io.File(s"$loc/_delta_log/00000000000000000001.checkpoint.parquet").isFile)
    assert(new java.io.File(s"$loc/_delta_log/_last_checkpoint").isFile)

    // cleanup removes BOTH commit JSONs (checkpoint covers them)
    assert(DeltaLogWriter.cleanupLog(spark, loc) == 2)
    assert(!new java.io.File(s"$loc/_delta_log/00000000000000000000.json").exists())

    val resolver = new DeltaLogResolver(spark)
    // the checkpoint alone names the version and carries full state
    assert(resolver.latestVersion(loc).contains(1L))
    val files = resolver.dataFilesDetailed(loc)
    assert(files.size == 2)
    // stats strings survived the round-trip: bounds still decode
    assert(files.forall(_.bounds.contains("x")), s"bounds lost in checkpoint: $files")
    // txn high-water marks survived the cleanup (exactly-once horizon)
    assert(resolver.lastTxnVersion(loc, "sink").contains(9L))
    assert(resolver.lastTxnVersion(loc, "other").isEmpty)

    // reads resolve from the checkpoint alone
    val cat = new FixtureCatalog().register(GlueTable("d", "cpw",
      Some(loc), parameters = Map("table_type" -> "DELTA")))
    val eng = new GlueTableEngine(spark, cat)
    assert(eng.tableDF("d", "cpw").count() == 200)

    // the version sequence CONTINUES past the cleaned prefix
    val v2 = DeltaLogWriter.commit(spark, loc,
      (5000L until 5010L).map(i => (i, s"c$i")).toDF("x", "s").coalesce(1))
    assert(v2 == 2L)
    eng.invalidateTable("d", "cpw")
    assert(eng.tableDF("d", "cpw").count() == 210)
    // time travel to the checkpoint version still works
    assert(eng.tableDF("d", "cpw", 1).count() == 200)
  }

  test("replay gap without a covering checkpoint fails loudly") {
    import spark.implicits._
    import graft.listing.{DeltaLogResolver, DeltaLogWriter}
    val loc = TestSpark.scratch("delta_gap")
    DeltaLogWriter.commit(spark, loc, (0L until 10L).toDF("x").coalesce(1))
    DeltaLogWriter.commit(spark, loc, (10L until 20L).toDF("x").coalesce(1))
    DeltaLogWriter.commit(spark, loc, (20L until 30L).toDF("x").coalesce(1))
    // no checkpoint: deleting a middle commit makes the head state
    // unreconstructible — that must throw, not silently drop a batch
    assert(new java.io.File(s"$loc/_delta_log/00000000000000000001.json").delete())
    val e = intercept[IllegalStateException] {
      new DeltaLogResolver(spark).dataFilesDetailed(loc)
    }
    assert(e.getMessage.contains("gap"))
    // and cleanup with no checkpoint is a no-op, never a data loss
    assert(DeltaLogWriter.cleanupLog(spark, loc) == 0)
  }

  test("maybeCheckpoint fires on the interval; sink-style usage stays bounded") {
    import spark.implicits._
    import graft.listing.{DeltaLogResolver, DeltaLogWriter}
    val loc = TestSpark.scratch("delta_mcp")
    (0 until 5).foreach { i =>
      DeltaLogWriter.commit(spark, loc,
        Seq((i.toLong, s"r$i")).toDF("x", "s").coalesce(1))
      DeltaLogWriter.maybeCheckpoint(spark, loc, every = 2)
    }
    // versions 0..4; checkpoints at 2 and 4
    val cps = new java.io.File(s"$loc/_delta_log").listFiles()
      .map(_.getName).filter(n => n.contains("checkpoint") && !n.startsWith(".")).sorted.toSeq
    assert(cps == Seq("00000000000000000002.checkpoint.parquet",
      "00000000000000000004.checkpoint.parquet", "_last_checkpoint"))
    DeltaLogWriter.cleanupLog(spark, loc)
    // only the post-checkpoint tail remains, state is intact
    assert(new DeltaLogResolver(spark).dataFilesDetailed(loc).size == 5)
  }

  test("additive schema evolution: log schema wins over single-file inference") {
    import spark.implicits._
    val loc = TestSpark.scratch("delta_evo")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    eng.writeDeltaTable((0L until 5L).map(i => Tuple1(i)).toDF("x").coalesce(1), "d", "ev", loc)
    // evolve: the appended batch carries a new column y -> the commit
    // re-declares the merged schema in a metaData action
    eng.appendDeltaTable((5L until 8L).map(i => (i, s"y$i")).toDF("x", "y").coalesce(1), "d", "ev")
    val df = eng.tableDF("d", "ev")
    // the added column is visible even though the FIRST file (the one
    // inference would read) predates it
    assert(df.columns.toSeq == Seq("x", "y"))
    val rows = df.collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows(0L).isEmpty, "pre-evolution rows read back with nulls")
    assert(rows(6L).contains("y6"))
    // a SUBSET batch is a legal append, not an evolution: y stays
    eng.appendDeltaTable(Seq(Tuple1(100L)).toDF("x").coalesce(1), "d", "ev")
    assert(eng.tableDF("d", "ev").columns.toSeq == Seq("x", "y"))
    assert(eng.tableDF("d", "ev").count() == 9)
    // a TYPE change would corrupt reads of existing files: loud error
    val e = intercept[IllegalArgumentException] {
      eng.appendDeltaTable(Seq(("oops", 1L)).toDF("x", "y")
        .select(col("x"), col("y")).coalesce(1), "d", "ev")
    }
    assert(e.getMessage.contains("retyped"))
    // time travel reads the PRE-evolution schema at v0
    assert(eng.tableDF("d", "ev", 2).columns.toSeq == Seq("x"))
  }

  test("schema-evolving append to a PARTITIONED table keeps the log's partitioning") {
    import spark.implicits._
    val loc = TestSpark.scratch("delta_evo_part")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    eng.writeDeltaTable(Seq((1L, "a"), (2L, "b")).toDF("x", "k").coalesce(1),
      "d", "evp", loc, partitionBy = Seq("k"))
    // the evolving append passes NO partitionBy (the streaming-sink
    // shape) — the writer must take the table's partitioning from the
    // log, write hive-partitioned files, and re-declare metaData with
    // the ORIGINAL partitionColumns, not []
    eng.appendDeltaTable(Seq((3L, "a", "y3")).toDF("x", "k", "y").coalesce(1), "d", "evp")
    val files = eng.files("d", "evp")
    assert(files.forall(_.partitionValues.keySet == Set("k")),
      "appended files keep hive partitionValues")
    val df = eng.tableDF("d", "evp")
    assert(df.columns.toSet == Set("x", "k", "y"))
    assert(df.filter(col("k") === "a").count() == 2)
    assert(df.collect().map(r => (r.getAs[Long]("x"), r.getAs[String]("k"),
      Option(r.getAs[String]("y")))).toSet ==
      Set((1L, "a", None), (2L, "b", None), (3L, "a", Some("y3"))))
    // a later plain append still reads the evolved, partitioned state
    eng.appendDeltaTable(Seq((4L, "b", "y4")).toDF("x", "k", "y").coalesce(1), "d", "evp")
    assert(eng.tableDF("d", "evp").count() == 4)
    // a CONTRADICTORY partitionBy on an existing table fails loudly
    val e = intercept[IllegalArgumentException] {
      graft.listing.DeltaLogWriter.commit(spark, loc,
        Seq((9L, "z", "y9")).toDF("x", "k", "y"), partitionBy = Seq("x"))
    }
    assert(e.getMessage.contains("disagrees"))
  }

  test("blind appends retry past a lost commit race; remove commits surface it") {
    import spark.implicits._
    import graft.listing.{DeltaLogResolver, DeltaLogWriter}
    val loc = TestSpark.scratch("delta_occ")
    DeltaLogWriter.commit(spark, loc, (0L until 10L).toDF("x").coalesce(1))
    DeltaLogWriter.commit(spark, loc, (10L until 20L).toDF("x").coalesce(1))
    // a second writer commits between this writer's listing and its
    // rename: the version it listed as free (2) is taken, and a blind
    // append retries forward and lands at 3
    var fired = false
    def interleave(from: Long): () => Unit = () => if (!fired) {
      fired = true
      DeltaLogWriter.commit(spark, loc, (from until from + 10L).toDF("x").coalesce(1))
    }
    val v = DeltaLogWriter.commitWith(spark, loc,
      (20L until 30L).toDF("x").coalesce(1), Nil, Nil, onBeforePublish = interleave(30L))
    assert(fired)
    assert(v == 3L, s"append must land at the next free version, got $v")
    assert(new DeltaLogResolver(spark).dataFilesDetailed(loc).size == 4)
    assert(spark.read.parquet(
      new DeltaLogResolver(spark).dataFilesDetailed(loc).map(_.path): _*).count() == 40)
    // a remove-carrying commit must NOT blindly retry: its read-set
    // may have been invalidated by the winner — the conflict surfaces
    val victim = new DeltaLogResolver(spark).dataFilesDetailed(loc).head.path
    fired = false
    val e = intercept[IllegalStateException] {
      DeltaLogWriter.commitWith(spark, loc, (90L until 95L).toDF("x").coalesce(1),
        Nil, removePaths = Seq(victim), onBeforePublish = interleave(40L))
    }
    assert(fired)
    assert(e.getMessage.contains("not blindly retryable"))
    val after = new DeltaLogResolver(spark).dataFilesDetailed(loc).map(_.path)
    assert(after.size == 5 && after.contains(victim),
      "the failed conflicting commit must not have changed the table")
    assert(spark.read.parquet(after: _*).count() == 50)
  }

  test("shallow clone: zero-copy read equality, independent evolution, loud on existing target") {
    import spark.implicits._
    import graft.listing.{DeltaLogResolver, DeltaLogWriter}
    val src = TestSpark.scratch("delta_clone_src")
    val dst = TestSpark.scratch("delta_clone_dst")
    DeltaLogWriter.commit(spark, src, (0L until 10L).toDF("x").coalesce(1))
    DeltaLogWriter.commit(spark, src, (10L until 20L).toDF("x").coalesce(1))
    val nFiles = DeltaLogWriter.shallowClone(spark, src, dst)
    assert(nFiles == 2)
    val res = new DeltaLogResolver(spark)
    // the clone's data dir holds NO parquet (zero copy): every file
    // it reads lives under the source root
    val cloneFiles = res.dataFilesDetailed(dst)
    assert(cloneFiles.nonEmpty && cloneFiles.forall(_.path.startsWith(src)),
      s"clone must borrow the source's files: ${cloneFiles.map(_.path)}")
    assert(spark.read.parquet(cloneFiles.map(_.path): _*).count() == 20)
    // stats survive the clone verbatim (file skipping keeps working)
    assert(cloneFiles.forall(_.rowCount.nonEmpty))
    // independent evolution: appending to the clone leaves the source at 20
    DeltaLogWriter.commit(spark, dst, (20L until 25L).toDF("x").coalesce(1))
    assert(spark.read.parquet(
      res.dataFilesDetailed(dst).map(_.path): _*).count() == 25)
    assert(spark.read.parquet(
      res.dataFilesDetailed(src).map(_.path): _*).count() == 20,
      "append to the clone must never touch the source")
    // cloning onto an existing table fails loudly
    val e = intercept[IllegalArgumentException] {
      DeltaLogWriter.shallowClone(spark, src, dst)
    }
    assert(e.getMessage.contains("already holds a Delta log"))
  }

  test("classifier: DELTA via table_type or the Spark provider parameter") {
    import graft.model.{TableClassifier, TableType}
    assert(TableClassifier.classify(GlueTable("d", "t", Some("/x"),
      parameters = Map("table_type" -> "delta"))) == TableType.Delta)
    assert(TableClassifier.classify(GlueTable("d", "t", Some("/x"),
      parameters = Map("spark.sql.sources.provider" -> "DELTA"))) == TableType.Delta)
    // ICEBERG still wins its own marker
    assert(TableClassifier.classify(GlueTable("d", "t", Some("/x"),
      parameters = Map("table_type" -> "ICEBERG"))) == TableType.Iceberg)
  }

  test("deletion vectors: MOR delete, DV merge, travel, restore, rewrite retires") {
    import spark.implicits._
    val loc = TestSpark.scratch("delta_dv")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    eng.writeDeltaTable((0L until 100L).toDF("x").coalesce(1), "d", "dv", loc)
    eng.appendDeltaTable((1000L until 1100L).toDF("x").coalesce(1), "d", "dv")
    val files0 = eng.files("d", "dv").map(_.path).toSet
    // v2: DV delete of ten high rows — ZERO data files rewritten
    val v2 = eng.deleteDeltaWhereMor("d", "dv", col("x") >= 1090L)
    assert(v2 == 2L)
    assert(eng.files("d", "dv").map(_.path).toSet == files0,
      "MOR delete must not touch any data file")
    assert(eng.tableDF("d", "dv").count() == 190)
    assert(eng.tableDF("d", "dv").agg(max("x")).head().getLong(0) == 1089L)
    // second DV on the SAME file must merge with the first
    val v3 = eng.deleteDeltaWhereMor("d", "dv", col("x") >= 1080L)
    assert(v3 == 3L)
    val xs = eng.tableDF("d", "dv").select("x").collect().map(_.getLong(0)).toSet
    assert(xs == ((0L until 100L) ++ (1000L until 1080L)).toSet,
      "re-DV'd file must keep the union of old and new deleted positions")
    assert(eng.files("d", "dv").map(_.path).toSet == files0)
    // metadata COUNT(*) must not trust per-file numRecords under DVs
    assert(eng.countRows("d", "dv") == 180L)
    // time travel: both pre-DV states still read exactly
    assert(eng.tableDF("d", "dv", 1).count() == 190)
    assert(eng.tableDF("d", "dv", 2).count() == 200)
    // no-match predicate: no commit
    assert(eng.deleteDeltaWhereMor("d", "dv", col("x") > 100000L) == 3L)
    // RESTORE to pre-DV re-adds the file WITHOUT its descriptor
    eng.restoreDeltaTable("d", "dv", 2)
    assert(eng.tableDF("d", "dv").count() == 200, "restore must roll the DV back")
    // re-apply one DV, then a CoW rewrite folds it in and retires it
    eng.deleteDeltaWhereMor("d", "dv", col("x") >= 1095L)
    assert(eng.tableDF("d", "dv").count() == 195)
    eng.optimizeDeltaTable("d", "dv", targetFileBytes = 1024L * 1024)
    assert(eng.tableDF("d", "dv").count() == 195,
      "compaction reads through the DV and bakes it into the rewrite")
    val resolver = new graft.listing.DeltaLogResolver(spark)
    assert(resolver.versionAt(loc)._2.isEmpty,
      "the rewrite's re-adds must carry no deletion vectors")
  }

  test("deltaChanges: net row-level diff across appends, DV deletes, and restores") {
    import spark.implicits._
    val loc = TestSpark.scratch("delta_cdf")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    def changes(from: Int, to: Int): Set[(Long, String)] =
      eng.deltaChanges("d", "cdf", from, to)
        .select(col("x"), col("_change_type")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    eng.writeDeltaTable((0L until 10L).toDF("x").coalesce(1), "d", "cdf", loc) // v0
    eng.appendDeltaTable((10L until 20L).toDF("x").coalesce(1), "d", "cdf")   // v1
    eng.deleteDeltaWhereMor("d", "cdf", col("x").isin(3L, 12L))               // v2
    eng.deleteDeltaWhereMor("d", "cdf", col("x") === 4L)                      // v3 (DV merge)
    eng.restoreDeltaTable("d", "cdf", 1)                                      // v4 == v2

    // v0 -> v1: pure append
    assert(changes(4, 3) == (10L until 20L).map((_, "insert")).toSet)
    // v1 -> v2: DV deletes on both files
    assert(changes(3, 2) == Set((3L, "delete"), (12L, "delete")))
    // v2 -> v3: only the merged delta, not the whole DV
    assert(changes(2, 1) == Set((4L, "delete")))
    // v3 -> v4 (restore): the un-deleted position comes back
    assert(changes(1, 0) == Set((4L, "insert")))
    // v0 -> v4 net: inserts are the appended rows surviving v4's DV;
    // deletes are the v0 rows dead at v4
    assert(changes(4, 0) ==
      ((10L until 20L).toSet - 12L).map((_, "insert")) ++ Set((3L, "delete")))
  }

  test("MOR delete + changelog on a partition value holding a literal percent-escape (ADVICE r15)") {
    import spark.implicits._
    val loc = TestSpark.scratch("delta_pct")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    // '50%25' is the adversarial value: a sidecar storing its file's
    // CANONICAL path verbatim would decode a second time on read
    // ('%25' -> '%'), mismatch the once-decoded listing key, and
    // silently skip every row of the partition — the same failure
    // class as the g68 space fix. storedPathCol makes the persisted
    // form a fixed point of the read rule.
    val df = Seq((1L, "50%25"), (2L, "50%25"), (3L, "plain"), (4L, "plain"))
      .toDF("x", "p").coalesce(1)
    eng.writeDeltaTable(df, "d", "pct", loc, partitionBy = Seq("p"))
    eng.deleteDeltaWhereMor("d", "pct", col("x") === 1L || col("x") === 3L)
    assert(eng.tableDF("d", "pct").select("x").collect().map(_.getLong(0)).toSet ==
      Set(2L, 4L), "the escaped partition's row must actually delete")
    // the changelog's row-level leg re-reads the stored sidecar
    val ch = eng.deltaChanges("d", "pct", 1, 0)
      .select(col("x"), col("p"), col("_change_type")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(ch == Set((1L, "50%25", "delete"), (3L, "plain", "delete")), s"got $ch")
    // second DV on the same files merges through the stored form too
    eng.deleteDeltaWhereMor("d", "pct", col("x") === 2L)
    assert(eng.tableDF("d", "pct").select("x").collect().map(_.getLong(0)).toSet == Set(4L))
  }

  test("deletion vectors survive checkpoint+cleanup; vacuum keeps live sidecars") {
    import spark.implicits._
    val loc = TestSpark.scratch("delta_dvcp")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    eng.writeDeltaTable((0L until 50L).toDF("x").coalesce(1), "d", "dvc", loc)
    eng.deleteDeltaWhereMor("d", "dvc", col("x") >= 40L)
    assert(eng.tableDF("d", "dvc").count() == 40)
    // checkpoint the DV'd state, clean the JSON commits, re-read
    graft.listing.DeltaLogWriter.checkpoint(spark, loc)
    graft.listing.DeltaLogWriter.cleanupLog(spark, loc)
    eng.invalidateTable("d", "dvc")
    assert(eng.tableDF("d", "dvc").count() == 40,
      "the checkpoint must persist the deletion-vector descriptor")
    val resolver = new graft.listing.DeltaLogResolver(spark)
    assert(resolver.versionAt(loc)._2.size == 1)
    // vacuum with only the current version retained must NOT reclaim
    // the live DV sidecar (that would resurrect the deleted rows)
    eng.appendDeltaTable((2000L until 2010L).toDF("x").coalesce(1), "d", "dvc")
    val deleted = eng.vacuumDeltaTable("d", "dvc", retainVersions = 1)
    assert(eng.tableDF("d", "dvc").count() == 50,
      s"vacuum deleted a live sidecar (reclaimed: $deleted)")
  }

  test("a checkpoint holding the older flat DV column still hides the deleted rows") {
    import spark.implicits._
    val loc = TestSpark.scratch("delta_dvcp_flat")
    val eng = new GlueTableEngine(spark, new FixtureCatalog())
    eng.writeDeltaTable((0L until 50L).toDF("x").coalesce(1), "d", "dvf", loc)
    eng.deleteDeltaWhereMor("d", "dvf", col("x") >= 40L)
    val v = graft.listing.DeltaLogWriter.checkpoint(spark, loc)
    // rewrite the checkpoint in the form earlier writers used: the DV
    // sidecar as a flat `add.deletionVectorPath` string
    val hfs = new org.apache.hadoop.fs.Path(loc).getFileSystem(
      org.apache.spark.sql.graft.Shim.classic(spark).sparkContext.hadoopConfiguration)
    val cp = new org.apache.hadoop.fs.Path(f"$loc/_delta_log/$v%020d.checkpoint.parquet")
    val tmp = TestSpark.scratch("delta_dvcp_flat_tmp")
    spark.read.parquet(cp.toString).withColumn("add", when(col("add").isNotNull, struct(
      col("add.path"), col("add.size"), col("add.partitionValues"), col("add.dataChange"),
      col("add.stats"), col("add.deletionVector.storagePath").as("deletionVectorPath"))))
      .coalesce(1).write.parquet(tmp)
    val part = hfs.listStatus(new org.apache.hadoop.fs.Path(tmp)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    hfs.delete(cp, false)
    assert(hfs.rename(part, cp))
    graft.listing.DeltaLogWriter.cleanupLog(spark, loc)
    eng.invalidateTable("d", "dvf")
    assert(new graft.listing.DeltaLogResolver(spark).versionAt(loc)._2.size == 1)
    assert(eng.tableDF("d", "dvf").count() == 40)
  }

  test("column mapping: rename is metadata-only; appends, skipping, and travel hold") {
    import spark.implicits._
    val loc = TestSpark.scratch("delta_ren")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    eng.writeDeltaTable((0L until 50L).map(k => (k, s"p$k")).toDF("k", "prio").coalesce(1),
      "d", "ren", loc)                                                    // v0
    val files0 = eng.files("d", "ren").map(_.path).toSet
    val v = eng.renameDeltaColumn("d", "ren", "prio", "priority")         // v1
    assert(v == 1L)
    // metadata-only: zero data files rewritten
    assert(eng.files("d", "ren").map(_.path).toSet == files0)
    // reads resolve the LOGICAL name; the physical name is gone
    val df = eng.tableDF("d", "ren")
    assert(df.columns.toSeq == Seq("k", "priority"))
    assert(df.filter(col("k") === 7L).head().getString(1) == "p7")
    // appends arrive logical, land physical: old and new files agree
    eng.appendDeltaTable((50L until 80L).map(k => (k, s"p$k")).toDF("k", "priority")
      .coalesce(1), "d", "ren")                                           // v2
    assert(eng.tableDF("d", "ren").count() == 80)
    assert(eng.tableDF("d", "ren").filter(col("priority") === "p65").head().getLong(0) == 65L)
    // the appended file physically carries the ORIGINAL column name
    val newFile = (eng.files("d", "ren").map(_.path).toSet -- files0).head
    assert(spark.read.parquet(newFile).columns.contains("prio"),
      "post-rename appends must keep the fixed physical name")
    // predicates on the logical name still push + skip via physical stats
    val probe = eng.tableDF("d", "ren").filter(col("priority") === "p3")
    assert(probe.count() == 1)
    // time travel to the pre-rename version reads the OLD logical name
    assert(eng.tableDF("d", "ren", 2).columns.toSeq == Seq("k", "prio"))
    // the rename commit carries the column-mapping protocol gate
    val commit = new java.io.File(loc, f"_delta_log/$v%020d.json")
    val text = scala.io.Source.fromFile(commit, "UTF-8").mkString
    assert(text.contains(""""minReaderVersion":2"""))
    assert(text.contains("delta.columnMapping.mode"))
    // SQL surface: the engine query path resolves the logical name
    val q = eng.query(
      "SELECT count(*) AS n FROM glue.d.ren WHERE priority >= 'p5' AND priority < 'p6'")
    assert(q.head().getLong(0) == 11) // p5, p50..p59
    // refusals: partition columns and name collisions fail loudly
    intercept[IllegalArgumentException](eng.renameDeltaColumn("d", "ren", "k", "priority"))
  }

  test("column mapping: drop is metadata-only; a re-added name never resurrects old bytes") {
    import spark.implicits._
    val loc = TestSpark.scratch("delta_drop")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    eng.writeDeltaTable((0L until 20L).map(k => (k, s"old$k", k * 10))
      .toDF("k", "x", "v").coalesce(1), "d", "drp", loc)                  // v0
    val files0 = eng.files("d", "drp").map(_.path).toSet
    eng.dropDeltaColumn("d", "drp", "x")                                  // v1
    assert(eng.files("d", "drp").map(_.path).toSet == files0, "drop rewrites nothing")
    assert(eng.tableDF("d", "drp").columns.toSeq == Seq("k", "v"))
    // history still shows the pre-drop schema
    assert(eng.tableDF("d", "drp", 1).columns.toSeq == Seq("k", "x", "v"))
    // RE-ADD x via additive evolution: pre-drop files must read NULL,
    // never the old bytes still sitting in them
    eng.appendDeltaTable((20L until 25L).map(k => (k, k * 10, s"new$k"))
      .toDF("k", "v", "x").coalesce(1), "d", "drp")                       // v2
    val df = eng.tableDF("d", "drp")
    assert(df.count() == 25)
    assert(df.filter(col("k") < 20L && col("x").isNotNull).count() == 0,
      "resurrected pre-drop bytes in the reborn column")
    assert(df.filter(col("k") === 22L).select("x").head().getString(0) == "new22")
    // the reborn column landed under a FRESH physical name
    val newFile = (eng.files("d", "drp").map(_.path).toSet -- files0).head
    val physCols = spark.read.parquet(newFile).columns.toSet
    assert(physCols.exists(_.startsWith("x_c")), s"fresh physical missing: $physCols")
    // drop refusals
    intercept[IllegalArgumentException](eng.dropDeltaColumn("d", "drp", "nope"))
  }

  test("DV commit publishes a table-features protocol gate (ADVICE r12)") {
    import spark.implicits._
    val loc = TestSpark.scratch("delta_dvproto")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    eng.writeDeltaTable((0L until 30L).toDF("x").coalesce(1), "d", "dvp", loc)
    val v = eng.deleteDeltaWhereMor("d", "dvp", col("x") >= 25L)
    // the DV commit itself must carry the protocol action: a
    // protocol-following external reader (the reference included,
    // which has no DV handling) must REFUSE this table on the unknown
    // reader feature rather than silently resurrect the deleted rows
    val commit = new java.io.File(loc, f"_delta_log/$v%020d.json")
    val text = scala.io.Source.fromFile(commit, "UTF-8").mkString
    assert(text.contains(""""minReaderVersion":3"""), "protocol action missing")
    assert(text.contains(graft.listing.DeltaLogWriter.DvFeatureName),
      "reader feature missing from the DV commit")
    // our own resolver reads through it unchanged
    assert(eng.tableDF("d", "dvp").count() == 25)
    // a checkpoint taken while DVs are live must NOT downgrade the gate
    graft.listing.DeltaLogWriter.checkpoint(spark, loc)
    val cp = new java.io.File(loc, "_delta_log").listFiles()
      .filter(_.getName.endsWith(".checkpoint.parquet")).map(_.toString).sorted.last
    val proto = spark.read.parquet(cp).filter(col("protocol").isNotNull)
      .select("protocol.minReaderVersion", "protocol.readerFeatures").head()
    assert(proto.getInt(0) == 3, "checkpoint downgraded the protocol gate")
    assert(proto.getSeq[String](1).contains(graft.listing.DeltaLogWriter.DvFeatureName))
    // a DV-free table keeps the permissive legacy protocol
    val loc2 = TestSpark.scratch("delta_noproto")
    eng.writeDeltaTable((0L until 5L).toDF("x").coalesce(1), "d", "npr", loc2)
    graft.listing.DeltaLogWriter.checkpoint(spark, loc2)
    val cp2 = new java.io.File(loc2, "_delta_log").listFiles()
      .filter(_.getName.endsWith(".checkpoint.parquet")).map(_.toString).sorted.last
    val p2 = spark.read.parquet(cp2).filter(col("protocol").isNotNull)
      .select("protocol.minReaderVersion").head()
    assert(p2.getInt(0) == 1)
  }

  /** Every action line of a table's commit JSON at `version`. */
  private def logActions(loc: String, version: Long): Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val text = scala.io.Source.fromFile(
      new java.io.File(loc, f"_delta_log/$version%020d.json"), "UTF-8").mkString
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    text.split('\n').toSeq.filter(_.trim.nonEmpty).map(m.readTree)
  }

  test("schema commits after a DV delete keep the DV reader gate") {
    import spark.implicits._
    import graft.listing.DeltaLogWriter.DvFeatureName
    val loc = TestSpark.scratch("delta_dvren")
    val eng = new GlueTableEngine(spark, new FixtureCatalog())
    eng.writeDeltaTable((0L until 30L).map(k => (k, s"p$k", k * 2)).toDF("k", "prio", "w")
      .coalesce(1), "d", "dvr", loc)
    eng.deleteDeltaWhereMor("d", "dvr", col("k") >= 25L)
    // a rename and a drop re-declare the protocol; the DV-deleted rows
    // are still hidden only by the sidecar, so neither may drop the gate
    val renamed = eng.renameDeltaColumn("d", "dvr", "prio", "priority")
    val dropped = eng.dropDeltaColumn("d", "dvr", "w")
    for (v <- Seq(renamed, dropped)) {
      val protos = logActions(loc, v).flatMap(n => Option(n.get("protocol")))
      assert(protos.size == 1, s"commit $v: one protocol action expected")
      val p = protos.head
      assert(p.get("minReaderVersion").asInt == 3 && p.get("minWriterVersion").asInt == 7,
        s"commit $v downgraded the protocol: $p")
      for (k <- Seq("readerFeatures", "writerFeatures")) {
        val feats = Option(p.get(k)).toSeq.flatMap(_.elements().asScala.map(_.asText)).toSet
        assert(feats == Set(DvFeatureName, "columnMapping"), s"commit $v $k: $feats")
      }
    }
    assert(eng.tableDF("d", "dvr").count() == 25)
    assert(eng.tableDF("d", "dvr").columns.toSeq == Seq("k", "priority"))
  }

  test("every mapped metaData action carries the column-mapping mode, checkpoint included") {
    import spark.implicits._
    val loc = TestSpark.scratch("delta_cmmode")
    val eng = new GlueTableEngine(spark, new FixtureCatalog())
    eng.writeDeltaTable((0L until 20L).map(k => (k, s"p$k")).toDF("k", "prio").coalesce(1),
      "d", "cmm", loc)                                                       // v0
    eng.renameDeltaColumn("d", "cmm", "prio", "priority")                   // v1
    eng.appendDeltaTable((20L until 25L).map(k => (k, s"p$k", k)).toDF("k", "priority", "extra")
      .coalesce(1), "d", "cmm")                                             // v2: re-declares
    eng.restoreDeltaTable("d", "cmm", 1)                                    // v3: back to v1's schema
    val cpv = graft.listing.DeltaLogWriter.checkpoint(spark, loc)
    assert(cpv == 3L)
    val physKey = "delta.columnMapping.physicalName"
    def modeOk(md: com.fasterxml.jackson.databind.JsonNode): Boolean =
      !md.get("schemaString").asText.contains(physKey) ||
        md.path("configuration").path("delta.columnMapping.mode").asText == "name"
    val commitMeta = (0L to 3L).flatMap(v => logActions(loc, v).flatMap(n => Option(n.get("metaData"))))
    assert(commitMeta.count(_.get("schemaString").asText.contains(physKey)) == 3,
      "the rename, the additive append and the restore each re-declare a mapped schema")
    assert(commitMeta.forall(modeOk), s"a mapped metaData lost the mode: $commitMeta")
    val cp = new java.io.File(loc, f"_delta_log/$cpv%020d.checkpoint.parquet").toString
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val cpMeta = spark.read.parquet(cp).filter(col("metaData").isNotNull)
      .select(to_json(col("metaData"))).collect().map(r => m.readTree(r.getString(0))).toSeq
    assert(cpMeta.size == 1 && cpMeta.head.get("schemaString").asText.contains(physKey))
    assert(cpMeta.forall(modeOk), s"the checkpoint's metaData lost the mode: $cpMeta")
    assert(eng.tableDF("d", "cmm").columns.toSeq == Seq("k", "priority"))
  }

  test("one log replay serves a cold build's listing, DVs, and schema (verdict r13 #5)") {
    import spark.implicits._
    val loc = TestSpark.scratch("delta_memo")
    graft.listing.DeltaLogWriter.commit(spark,
      loc, (0L until 10L).map(i => (i, s"r$i")).toDF("k", "v").coalesce(1))
    val r = new graft.listing.DeltaLogResolver(spark)
    assert(r.replayCount == 0L)
    // the cold listing build's exact call: files, DVs and schema
    val (files, dvs, schema) = r.versionAt(loc, 0)
    assert(files.nonEmpty && dvs.isEmpty)
    assert(schema.exists(_.fieldNames.toSeq == Seq("k", "v")))
    assert(r.replayCount == 1L,
      s"cold build must replay the log ONCE, got ${r.replayCount}")
    // a new commit moves the resolved version -> a fresh replay (the
    // memo can never serve a stale table state)
    graft.listing.DeltaLogWriter.commit(spark,
      loc, Seq((100L, "x")).toDF("k", "v").coalesce(1))
    assert(r.versionAt(loc, 0)._1.size > files.size)
    assert(r.replayCount == 2L, "a new commit must invalidate the memo by key")
  }

  test("replay memo never serves a deleted-and-recreated log's old state (ADVICE r14)") {
    import spark.implicits._
    val loc = TestSpark.scratch("delta_reid")
    graft.listing.DeltaLogWriter.commit(spark,
      loc, (0L until 10L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    val r = new graft.listing.DeltaLogResolver(spark)
    val before = r.versionAt(loc, 0)._1
    assert(before.nonEmpty)
    // delete the table and recreate it at the SAME location, reaching
    // the SAME version number within the memo's TTL: the key's log
    // identity (oldest commit mtime+len) must miss, not hit
    val p = new org.apache.hadoop.fs.Path(loc)
    val hfs = p.getFileSystem(
      org.apache.spark.sql.graft.Shim.classic(spark).sparkContext.hadoopConfiguration)
    hfs.delete(p, true)
    Thread.sleep(5) // local-fs mtime is millisecond-resolution
    graft.listing.DeltaLogWriter.commit(spark,
      loc, (0L until 3L).map(i => (i, s"b$i")).toDF("k", "v").coalesce(1))
    val after = r.versionAt(loc, 0)._1
    assert(after.map(_.path).toSet != before.map(_.path).toSet,
      "recreated log at the same (location, version) must not serve the old file list")
    assert(after.size == spark.read.parquet(after.map(_.path): _*).inputFiles.length)
  }
}
