package graft

import graft.catalog.FixtureCatalog
import graft.engine.GlueTableEngine
import graft.model.CacheConfig
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Iceberg v2 write path (graft.listing.IcebergWriter): append-only
  * snapshots with footer-derived manifest bounds, round-tripped
  * through the engine's own resolver.
  */
class IcebergWriterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import org.apache.spark.sql.graft.Shim

  test("write + append round-trip with time travel and incremental reads") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val loc = TestSpark.scratch("ice_write")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    eng.writeIcebergTable((0L until 100L).map(i => (i, s"r$i")).toDF("k", "v").coalesce(1),
      "d", "iw", loc)
    assert(eng.tableDF("d", "iw").count() == 100)
    val v = eng.appendIcebergTable(
      (1000L until 1100L).map(i => (i, s"r$i")).toDF("k", "v").coalesce(1), "d", "iw")
    assert(v == 2L)
    // latest = both snapshots' data; time travel = the first alone
    assert(eng.tableDF("d", "iw").count() == 200)
    assert(eng.tableDF("d", "iw", 1).count() == 100)
    assert(eng.tableDF("d", "iw", 1).agg(max("k")).head().getLong(0) == 99L)
    // incremental read = exactly the appended batch
    assert(eng.tableDFIncremental("d", "iw", 1, 0).agg(min("k"), max("k")).head()
      .toSeq == Seq(1000L, 1099L))
    // metadata count comes from the manifests' record_count with
    // ZERO footer I/O (the writer records it from the one footer
    // open it already makes per written file)
    val footerReads0 = graft.listing.FooterStats.rowCountReads.get()
    assert(eng.countRows("d", "iw") == 200L)
    val footerReads = graft.listing.FooterStats.rowCountReads.get() - footerReads0
    assert(footerReads == 0L, s"metadata count read $footerReads parquet footer(s)")
  }

  test("rollback reinstates an earlier snapshot's file set; history intact") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val loc = TestSpark.scratch("ice_rollback")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    eng.writeIcebergTable((0L until 100L).map(i => (i, s"r$i")).toDF("k", "v").coalesce(1),
      "d", "irb", loc)
    eng.appendIcebergTable(
      (1000L until 1100L).map(i => (i, s"r$i")).toDF("k", "v").coalesce(1), "d", "irb")
    // s3: MOR-delete the low half
    eng.deleteIcebergWhere("d", "irb", col("k") < 50)
    assert(eng.tableDF("d", "irb").count() == 150)
    // rollback to the pre-delete state (offset 1 from current)
    val v = eng.rollbackIcebergTable("d", "irb", 1)
    assert(v == 4L)
    assert(eng.tableDF("d", "irb").count() == 200)
    assert(eng.tableDF("d", "irb").agg(min("k")).head().getLong(0) == 0L)
    // history intact: the deleted state and the first snapshot still travel
    assert(eng.tableDF("d", "irb", 1).count() == 150)
    assert(eng.tableDF("d", "irb", 3).count() == 100)
    // rollback of the rollback: back to the MOR-deleted state
    val v2 = eng.rollbackIcebergTable("d", "irb", 1)
    assert(v2 == 5L && eng.tableDF("d", "irb").count() == 150)
  }

  test("merge-on-read deletes: zero rewrites, position and equality variants") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val loc = TestSpark.scratch("ice_mor_del")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    eng.writeIcebergTable((0L until 100L).map(i => (i, i % 10)).toDF("k", "grp").coalesce(1),
      "d", "imd", loc)
    val dataFiles = eng.files("d", "imd").map(_.path).toSet
    // position delete: k >= 90 — ten rows gone, SAME data files
    val v1 = eng.deleteIcebergWhere("d", "imd", col("k") >= 90L)
    assert(v1 == 2L)
    assert(eng.files("d", "imd").map(_.path).toSet == dataFiles,
      "MOR delete must not touch any data file")
    assert(eng.tableDF("d", "imd").count() == 90)
    assert(eng.tableDF("d", "imd").agg(max("k")).head().getLong(0) == 89L)
    // equality delete: grp IN (0, 1) — matching rows gone at read time
    val v2 = eng.deleteIcebergMatching("d", "imd",
      Seq(0L, 1L).toDF("grp"), Seq("grp"))
    assert(v2 == 3L)
    assert(eng.files("d", "imd").map(_.path).toSet == dataFiles)
    val left = eng.tableDF("d", "imd").select("grp").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(left == (2L until 10L).toSet, s"grp 0/1 must be deleted: $left")
    assert(eng.tableDF("d", "imd").count() == 90 - 18) // 9 of each grp under k<90
    // time travel: the pre-delete snapshots still see everything
    assert(eng.tableDF("d", "imd", 2).count() == 100)
    // metadata COUNT(*) must NOT trust per-file counts under MOR
    // deletes (they predate the deletes): it falls back to the scan
    // and stays exact
    assert(eng.countRows("d", "imd") == 72L)
    assert(eng.countRows("d", "imd", 2) == 100L)
  }

  test("self-written manifest bounds skip files with footers disabled") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val loc = TestSpark.scratch("ice_write_skip")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat, CacheConfig(footerStatsMaxFiles = 0))
    eng.writeIcebergTable((0L until 100L).map(i => (i, s"r$i")).toDF("k", "v").coalesce(1),
      "d", "iws", loc)
    eng.appendIcebergTable(
      (1000L until 1100L).map(i => (i, s"r$i")).toDF("k", "v").coalesce(1), "d", "iws")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = eng.query("SELECT k FROM glue.d.iws WHERE k >= 1000")
      assert(df.collect().length == 100)
      val scans = df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.head.metrics("numFiles").value == 1,
        s"manifest bounds must prune to 1 of 2 files, got ${scans.head.metrics("numFiles").value}")
      // string bounds work too
      val dfs = eng.query("SELECT v FROM glue.d.iws WHERE v = 'r5'")
      assert(dfs.collect().length == 1)
      val s2 = dfs.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
      assert(s2.head.metrics("numFiles").value == 1,
        s"string bounds must prune, got ${s2.head.metrics("numFiles").value}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("append with a reordered or retyped batch fails loudly (positional field ids)") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val loc = TestSpark.scratch("ice_guard")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    eng.writeIcebergTable(Seq((1L, "a")).toDF("k", "v").coalesce(1), "d", "ig", loc)
    // reordered columns would bind bounds to swapped field ids
    val e = intercept[IllegalArgumentException] {
      eng.appendIcebergTable(Seq(("b", 2L)).toDF("v", "k").coalesce(1), "d", "ig")
    }
    assert(e.getMessage.contains("schema mismatch"))
    // identical shape still appends
    eng.appendIcebergTable(Seq((2L, "b")).toDF("k", "v").coalesce(1), "d", "ig")
    assert(eng.tableDF("d", "ig").count() == 2)
  }

  test("partitioned writes carry identity values in the manifest partition record") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val loc = TestSpark.scratch("ice_wpart")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    val data = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("x", "part").coalesce(1)
    eng.writeIcebergTable(data, "d", "ip", loc, partitionBy = Seq("part"))
    // identity values surfaced from the manifest record, not the path
    val files = eng.files("d", "ip")
    assert(files.size == 2 && files.forall(_.partitionValues.keySet == Set("part")),
      s"partition values must ride the manifest: $files")
    // partition column reads back even though data files omit it
    assert(eng.tableDF("d", "ip").select("x", "part").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSet == Set((1L, "a"), (2L, "a"), (3L, "b")))
    // appends must keep the spec; a mismatched spec is loud
    eng.appendIcebergTable(Seq((4L, "b")).toDF("x", "part").coalesce(1), "d", "ip")
    assert(eng.tableDF("d", "ip").count() == 4)
    val e = intercept[IllegalArgumentException] {
      graft.listing.IcebergWriter.commit(spark, loc,
        Seq((9L, "z")).toDF("x", "part"), partitionBy = Nil)
    }
    assert(e.getMessage.contains("partition spec mismatch"))
    // and the planner prunes to the one matching partition's files
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = eng.query("SELECT count(*) AS n FROM glue.d.ip WHERE part = 'a'")
      assert(df.collect().head.getLong(0) == 2)
      val scans = df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.head.metrics("numFiles").value == 1,
        s"partition filter must prune to 1 file, got ${scans.head.metrics("numFiles").value}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("compaction rewrites the live set, applies MOR deletes, then expiry reclaims") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val loc = TestSpark.scratch("ice_opt")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    eng.writeIcebergTable((0L until 50L).map(i => (i, i * 2)).toDF("k", "y").repartition(5),
      "d", "io", loc)
    eng.appendIcebergTable((50L until 100L).map(i => (i, i * 2)).toDF("k", "y").repartition(5),
      "d", "io")
    assert(eng.files("d", "io").size == 10)
    // MOR-delete the low keys (no rewrite)
    eng.deleteIcebergWhere("d", "io", col("k") < 10)
    assert(eng.tableDF("d", "io").count() == 90)
    val before = eng.files("d", "io").map(_.path).toSet
    // compaction: one live file, deletes APPLIED, content preserved
    val v = eng.compactIcebergTable("d", "io", targetFileBytes = Long.MaxValue)
    val after = eng.files("d", "io")
    assert(after.size == 1, s"compaction must leave 1 live file, got ${after.size}")
    assert(eng.tableDF("d", "io").count() == 90)
    assert(eng.tableDF("d", "io").agg(sum("k")).head().getLong(0) == (10L until 100L).sum)
    // no more delete files in the live snapshot, old files untouched on disk
    assert(eng.tableDF("d", "io").queryExecution.executedPlan != null)
    assert(eng.files("d", "io", 1).map(_.path).toSet == before, "time travel intact")
    // expiry reclaims the rewritten-away files
    val deleted = eng.expireIcebergSnapshots("d", "io", retainVersions = 1)
    assert(deleted.count(_.endsWith(".parquet")) >= 10,
      s"retired data+delete parquet must go, got $deleted")
    assert(eng.tableDF("d", "io").count() == 90)
  }

  test("expire snapshots deletes only what no retained version references") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val loc = TestSpark.scratch("ice_exp")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    eng.writeIcebergTable((0L until 50L).toDF("x").coalesce(1), "d", "ix", loc)
    eng.appendIcebergTable((50L until 100L).toDF("x").coalesce(1), "d", "ix")
    eng.appendIcebergTable((100L until 150L).toDF("x").coalesce(1), "d", "ix")
    // retain everything: no-op
    assert(eng.expireIcebergSnapshots("d", "ix", retainVersions = 3).isEmpty)
    assert(eng.tableDF("d", "ix").count() == 150)
    // retain the last two versions: v1's metadata JSON expires, but
    // its DATA files are still referenced by v2/v3 (cumulative
    // snapshots) and must survive
    val deleted = eng.expireIcebergSnapshots("d", "ix", retainVersions = 2)
    assert(deleted.nonEmpty)
    assert(deleted.forall(p => p.endsWith(".json") || p.endsWith(".avro")),
      s"only metadata may expire here, got $deleted")
    assert(eng.tableDF("d", "ix").count() == 150)
    assert(eng.tableDF("d", "ix", 1).count() == 100)
    // time travel beyond the horizon is gone (files() empty = no state)
    assert(eng.files("d", "ix", 2).isEmpty)
  }

  test("metadata schema wins over single-file inference under evolution") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val loc = TestSpark.scratch("ice_evo")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    eng.writeIcebergTable(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), "d", "ie", loc)
    // simulate an external engine evolving the schema: add column z
    // to the CURRENT metadata (no data file carries it yet)
    val metaDir = new java.io.File(s"$loc/metadata")
    val metaFile = metaDir.listFiles().filter(_.getName.endsWith(".json"))
      .maxBy(_.getName)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(metaFile)
    val fields = node.get("schemas").get(0).get("fields")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    fields.add(om.readTree("""{"id": 3, "name": "z", "type": "string"}"""))
    java.nio.file.Files.write(metaFile.toPath, om.writeValueAsBytes(node))
    // the raw rewrite invalidates Hadoop LocalFS's checksum sidecar
    new java.io.File(metaDir, s".${metaFile.getName}.crc").delete()
    eng.invalidateTable("d", "ie")
    val df = eng.tableDF("d", "ie")
    // the added column is visible and null-filled even though the
    // only data file (the one inference would read) predates it
    assert(df.columns.toSeq == Seq("k", "v", "z"))
    assert(df.filter(col("z").isNull).count() == 2)
    // the resolver's decoded schema is the source of truth
    val sch = new graft.listing.IcebergSnapshotResolver(
      sp.sparkContext.hadoopConfiguration).dataSchemaAt(loc)
    assert(sch.exists(_.fieldNames.toSeq == Seq("k", "v", "z")))
  }

  test("one-snapshot MERGE: updates + inserts land atomically, history travels") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val loc = TestSpark.scratch("ice_merge")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    eng.writeIcebergTable((0L until 100L).map(k => (k, s"r$k")).toDF("k", "v").coalesce(2),
      "d", "im", loc)
    val dataFiles = eng.files("d", "im").map(_.path).toSet
    // one source batch: keys 0..9 updated, 100..109 inserted
    val src = ((0L until 10L).map(k => (k, s"u$k")) ++
      (100L until 110L).map(k => (k, s"r$k"))).toDF("k", "v").coalesce(1)
    val v = eng.mergeIceberg("d", "im", src, "k")
    assert(v == 2L, "merge must publish exactly ONE snapshot")
    val got = eng.tableDF("d", "im").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size == 110)
    assert((0L until 10L).forall(k => got(k) == s"u$k"), "matched rows replaced")
    assert((10L until 100L).forall(k => got(k) == s"r$k"), "unmatched rows kept")
    assert((100L until 110L).forall(k => got(k) == s"r$k"), "inserts landed")
    // MOR: no prior data file rewritten
    assert(dataFiles.subsetOf(eng.files("d", "im").map(_.path).toSet),
      "merge must not rewrite prior data files")
    // pre-merge snapshot still travels
    assert(eng.tableDF("d", "im", 1).count() == 100)
    assert(eng.tableDF("d", "im", 1).filter(col("k") === 0L)
      .head().getString(1) == "r0")
    // a second merge replaces the FIRST merge's rows too (the new
    // delete at seq 3 scopes over the seq-2 data)
    val v2 = eng.mergeIceberg("d", "im", Seq((0L, "w0")).toDF("k", "v"), "k")
    assert(v2 == 3L)
    val after = eng.tableDF("d", "im")
    assert(after.count() == 110)
    assert(after.filter(col("k") === 0L).head().getString(1) == "w0")
  }

  test("icebergChanges: changelog across appends, position deletes, and rollbacks") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val loc = TestSpark.scratch("ice_cdf")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    def changes(from: Int, to: Int): Set[(Long, String)] =
      eng.icebergChanges("d", "icdf", from, to)
        .select(col("k"), col("_change_type")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    eng.writeIcebergTable((0L until 10L).map(k => (k, k % 3)).toDF("k", "grp").coalesce(1),
      "d", "icdf", loc)                                                   // s1
    eng.appendIcebergTable((10L until 20L).map(k => (k, k % 3)).toDF("k", "grp").coalesce(1),
      "d", "icdf")                                                        // s2
    eng.deleteIcebergWhere("d", "icdf", col("k").isin(3L, 12L))           // s3
    eng.rollbackIcebergTable("d", "icdf", 1)                              // s4 == s2

    assert(changes(3, 2) == (10L until 20L).map((_, "insert")).toSet, "append leg")
    assert(changes(2, 1) == Set((3L, "delete"), (12L, "delete")), "position-delete delta")
    assert(changes(1, 0) == Set((3L, "insert"), (12L, "insert")), "rollback revives")
    // net across everything: append minus nothing (the delete was rolled back)
    assert(changes(3, 0) == (10L until 20L).map((_, "insert")).toSet)
    // equality-delete delta (r13): liveness is evaluated, not refused —
    // the delete kills every live row whose grp matches
    eng.deleteIcebergMatching("d", "icdf", Seq(1L).toDF("grp"), Seq("grp"))  // s5
    assert(changes(1, 0) ==
      (0L until 20L).filter(_ % 3 == 1).map((_, "delete")).toSet,
      "equality-delete delta must emit the killed keys as deletes")
    // range crossing the rollback AND the equality delete: net diff
    // from s3 (post-position-delete) to head = revived-then-eq-killed
    // bookkeeping collapses to the NET row-level truth
    assert(changes(2, 0) ==
      (Set(3L, 12L).filter(_ % 3 != 1).map((_, "insert")) ++
        (0L until 20L).filter(k => k % 3 == 1 && k != 3L && k != 12L)
          .map((_, "delete"))).toSet,
      "net diff across rollback + equality delete")
  }

  test("hidden bucket partitioning: spec hash vectors, round-trip, file pruning") {
    import graft.listing.IcebergBucket
    // reference vectors straight from the public Iceberg spec
    // (Appendix B: 32-bit hash requirements)
    assert(IcebergBucket.hashLong(34L) == 2017239379, "hashLong(34)")
    assert(IcebergBucket.of(34, Int.MaxValue) == 2017239379 % Int.MaxValue)
    assert(IcebergBucket.hashString("iceberg") == 1210000089, "hashString")
    // int PROMOTES to long: bucket(34: int) == bucket(34L)
    assert(IcebergBucket.of(34, 16) == IcebergBucket.of(34L, 16))

    val sp = Shim.classic(spark)
    import sp.implicits._
    val loc = TestSpark.scratch("ice_bucket")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    val df = (0L until 1000L).map(k => (k, s"r$k")).toDF("k", "v")
    eng.writeIcebergTableBucketed(df, "d", "ib", loc, "k", 8)
    // hidden: the bucket is NOT a table column, and the data round-trips
    val all = eng.tableDF("d", "ib")
    assert(all.columns.toSet == Set("k", "v"), all.columns.mkString(","))
    assert(all.count() == 1000)
    // one file per bucket, each carrying its bucket int in the manifest
    val fls = eng.files("d", "ib")
    assert(fls.size == 8, s"expected 8 bucket files, got ${fls.size}")
    assert(fls.flatMap(_.partitionValues.get("k_bucket")).map(_.toInt).toSet ==
      (0 until 8).toSet)
    // equality probe: exact answer AND exactly one file scanned
    val q = eng.query("SELECT v FROM glue.d.ib WHERE k = 421")
    assert(q.collect().map(_.getString(0)).toSeq == Seq("r421"))
    // read the FileIndex off the LOGICAL plan: AQE wraps aggregate
    // stages so a physical collect misses the scan after execution
    def filesScanned(df2: org.apache.spark.sql.DataFrame): Int =
      df2.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.inputFiles.length
            case _ => 0
          }
      }.sum
    assert(filesScanned(q) == 1, "equality probe must scan exactly its bucket")
    // IN probe: union of the named keys' buckets only
    val q2 = eng.query("SELECT count(*) AS n FROM glue.d.ib WHERE k IN (3, 421, 998)")
    assert(q2.head().getLong(0) == 3)
    val expect = Set(3L, 421L, 998L).map(IcebergBucket.of(_, 8)).size
    assert(filesScanned(q2) == expect)
    // OR with another column must NOT prune (soundness)
    val q3 = eng.query("SELECT count(*) AS n FROM glue.d.ib WHERE k = 421 OR v = 'r7'")
    assert(q3.head().getLong(0) == 2)
    assert(filesScanned(q3) == 8, "an OR involving the column keeps every file")
    // append keeps the hidden layout: spec stable, pruning still exact
    eng.appendIcebergTable((1000L until 1200L).map(k => (k, s"r$k")).toDF("k", "v"), "d", "ib")
    val q4 = eng.query("SELECT v FROM glue.d.ib WHERE k = 1100")
    assert(q4.collect().map(_.getString(0)).toSeq == Seq("r1100"))
    assert(filesScanned(q4) <= 2, "post-append probe scans at most one file per snapshot")
    assert(eng.tableDF("d", "ib").count() == 1200)
  }

  test("hidden truncate partitioning: order-preserving range pruning") {
    import graft.listing.IcebergTruncate
    // transform definition, negatives included (floor, not toward 0)
    assert(IcebergTruncate.ofLong(421L, 100) == 400L)
    assert(IcebergTruncate.ofLong(-1L, 100) == -100L)
    assert(IcebergTruncate.ofString("iceberg", 3) == "ice")

    val sp = Shim.classic(spark)
    import sp.implicits._
    val loc = TestSpark.scratch("ice_trunc")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    eng.writeIcebergTableTruncated(
      (0L until 1000L).map(k => (k, s"r$k")).toDF("k", "v"), "d", "it", loc, "k", 100)
    assert(eng.tableDF("d", "it").columns.toSet == Set("k", "v"))
    assert(eng.files("d", "it").size == 10, "one file per 100-wide window")
    def filesScanned(df2: org.apache.spark.sql.DataFrame): Int =
      df2.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.inputFiles.length
            case _ => 0
          }
      }.sum
    // equality: one window
    val q = eng.query("SELECT v FROM glue.d.it WHERE k = 421")
    assert(q.collect().map(_.getString(0)).toSeq == Seq("r421"))
    assert(filesScanned(q) == 1)
    // RANGE pruning — what bucket hashing can never serve: BETWEEN
    // spans exactly the three overlapping windows
    val q2 = eng.query("SELECT count(*) AS n FROM glue.d.it WHERE k BETWEEN 250 AND 449")
    assert(q2.head().getLong(0) == 200)
    assert(filesScanned(q2) == 3, "250..449 overlaps windows 200/300/400 only")
    // strict bounds land on window edges correctly
    val q3 = eng.query("SELECT count(*) AS n FROM glue.d.it WHERE k > 299 AND k < 400")
    assert(q3.head().getLong(0) == 100)
    assert(filesScanned(q3) == 1, "exclusive edges keep only the 300-window")
    // one-sided range
    val q4 = eng.query("SELECT count(*) AS n FROM glue.d.it WHERE k >= 800")
    assert(q4.head().getLong(0) == 200)
    assert(filesScanned(q4) == 2)
    // append keeps the hidden layout and the range math
    eng.appendIcebergTable((1000L until 1100L).map(k => (k, s"r$k")).toDF("k", "v"), "d", "it")
    val q5 = eng.query("SELECT count(*) AS n FROM glue.d.it WHERE k BETWEEN 950 AND 1049")
    assert(q5.head().getLong(0) == 100)
    assert(filesScanned(q5) == 2)

    // STRING truncate: equality prunes by prefix; ranges do NOT prune
    // (kept sound rather than clever)
    val loc2 = TestSpark.scratch("ice_truncs")
    val eng2 = new GlueTableEngine(spark, new FixtureCatalog())
    val docs = Seq("alpha", "alloy", "beta", "bravo", "gamma", "gala")
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("k", "w")
    eng2.writeIcebergTableTruncated(docs, "d", "its", loc2, "w", 2)
    assert(eng2.files("d", "its").size == 4, "prefixes al/be/br/ga")
    val sq = eng2.query("SELECT k FROM glue.d.its WHERE w = 'alloy'")
    assert(sq.collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(filesScanned(sq) == 1, "string equality prunes to its prefix window")
  }

  /** Files each Iceberg/parquet relation of `df`'s optimized plan reads. */
  private def filesPerRelation(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.inputFiles.length
          case _ => 0
        }
    }

  test("string truncate windows: a digit-only prefix stays a string, a surrogate pair stays whole") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val eng = new GlueTableEngine(spark, new FixtureCatalog())
    val docs = Seq("421", "435", "alpha", "beta").zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("k", "w")
    eng.writeIcebergTableTruncated(docs, "d", "tnum", TestSpark.scratch("ice_tnum"), "w", 2)
    assert(eng.files("d", "tnum").size == 4, "prefixes 42/43/al/be")
    val q = eng.query("SELECT k FROM glue.d.tnum WHERE w = '421'")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(0L))
    assert(filesPerRelation(q) == Seq(1), "the '42' window alone")
    // truncation counts code points: a surrogate pair is never split,
    // so a window is a UTF-8 prefix of each of its rows
    assert(graft.listing.IcebergTruncate.ofString("a\uD83D\uDE00x", 2) == "a\uD83D\uDE00")
  }

  test("hidden bucket pruning reaches filters that are not directly on the relation") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val eng = new GlueTableEngine(spark, new FixtureCatalog())
    eng.writeIcebergTableBucketed((0L until 1000L).map(k => (k, s"r$k")).toDF("k", "v"),
      "d", "ib", TestSpark.scratch("ice_bucket_reach"), "k", 8)
    assert(eng.files("d", "ib").size == 8)
    // through a subquery
    val sub = eng.query("SELECT v FROM (SELECT * FROM glue.d.ib) t WHERE k = 421")
    assert(sub.collect().map(_.getString(0)).toSeq == Seq("r421"))
    assert(filesPerRelation(sub) == Seq(1))
    // plain spark.sql over the setupFor view
    val Seq(view) = eng.setupFor("SELECT * FROM glue.d.ib")
    val viaView = spark.sql(s"SELECT v FROM $view WHERE k = 421")
    assert(viaView.collect().map(_.getString(0)).toSeq == Seq("r421"))
    assert(filesPerRelation(viaView) == Seq(1))
    // both sides of a self-join: the filter is above the join, and the
    // optimizer infers it for the other side
    val join = eng.query(
      "SELECT a.v, b.v FROM glue.d.ib a JOIN glue.d.ib b ON a.k = b.k WHERE a.k = 421")
    assert(join.collect().map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("r421", "r421")))
    assert(filesPerRelation(join) == Seq(1, 1))
  }

  test("icebergChanges over a MERGE snapshot: equality CDC (r12 ask #3)") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val loc = TestSpark.scratch("ice_mcdf")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    def changes(from: Int, to: Int): Set[(Long, String, String)] =
      eng.icebergChanges("d", "imc", from, to)
        .select(col("k"), col("v"), col("_change_type")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    eng.writeIcebergTable((0L until 100L).map(k => (k, s"r$k")).toDF("k", "v").coalesce(2),
      "d", "imc", loc)                                                    // s1
    val src = ((0L until 10L).map(k => (k, s"u$k")) ++
      (100L until 110L).map(k => (k, s"r$k"))).toDF("k", "v").coalesce(1)
    eng.mergeIceberg("d", "imc", src, "k")                                // s2
    // s1 -> s2: inserts are the merge batch (same-sequence data
    // survives its own equality delete); deletes are the PRIOR rows
    // the merge keys killed — with their pre-merge values
    assert(changes(1, 0) ==
      ((0L until 10L).map(k => (k, s"u$k", "insert")) ++
        (100L until 110L).map(k => (k, s"r$k", "insert")) ++
        (0L until 10L).map(k => (k, s"r$k", "delete"))).toSet)
    // a later position delete; the range now crosses BOTH delete kinds
    eng.deleteIcebergWhere("d", "imc", col("k").isin(5L, 105L))           // s3
    assert(changes(2, 0) ==
      ((0L until 10L).filterNot(_ == 5L).map(k => (k, s"u$k", "insert")) ++
        (100L until 110L).filterNot(_ == 105L).map(k => (k, s"r$k", "insert")) ++
        (0L until 10L).map(k => (k, s"r$k", "delete"))).toSet,
      "mixed equality + position delta over one range")
    // untouched middle rows never appear in any leg
    assert(!changes(2, 0).exists { case (k, _, _) => k >= 10L && k < 100L })
  }

  test("branch staging is invisible to main; publish fast-forwards; divergence refused") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val loc = TestSpark.scratch("ice_wap")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    eng.writeIcebergTable((0L until 100L).map(k => (k, s"r$k")).toDF("k", "v").coalesce(1),
      "d", "iwap", loc)
    // stage on the audit branch: main readers stay oblivious
    eng.appendIcebergBranch((1000L until 1100L).map(k => (k, s"r$k")).toDF("k", "v")
      .coalesce(1), "d", "iwap", "audit")
    assert(eng.tableDF("d", "iwap").count() == 100, "main must not see staged rows")
    assert(eng.icebergBranchDF("d", "iwap", "audit").count() == 200,
      "branch head = base state + staged batch")
    // a SECOND staged batch chains on the branch
    eng.appendIcebergBranch((2000L until 2100L).map(k => (k, s"r$k")).toDF("k", "v")
      .coalesce(1), "d", "iwap", "audit")
    assert(eng.tableDF("d", "iwap").count() == 100)
    assert(eng.icebergBranchDF("d", "iwap", "audit").count() == 300)
    // main operations keep working while a branch is staged (and do
    // NOT absorb its manifests)
    eng.appendIcebergTable((5000L until 5100L).map(k => (k, s"r$k")).toDF("k", "v")
      .coalesce(1), "d", "iwap")
    assert(eng.tableDF("d", "iwap").count() == 200)
    assert(eng.tableDF("d", "iwap").filter(col("k") >= 1000 && col("k") < 3000).count() == 0)
    // main DIVERGED from the branch's base: fast-forward must refuse
    // (publishing would silently drop main's newer snapshot)
    val e = intercept[IllegalArgumentException] {
      eng.publishIcebergBranch("d", "iwap", "audit")
    }
    assert(e.getMessage.contains("fast-forward"))
    // the clean path: stage -> audit -> publish on an undisturbed main
    val loc2 = TestSpark.scratch("ice_wap2")
    eng.writeIcebergTable((0L until 50L).map(k => (k, s"r$k")).toDF("k", "v").coalesce(1),
      "d", "iwap2", loc2)
    eng.appendIcebergBranch((100L until 150L).map(k => (k, s"r$k")).toDF("k", "v")
      .coalesce(1), "d", "iwap2", "audit")
    eng.publishIcebergBranch("d", "iwap2", "audit")
    assert(eng.tableDF("d", "iwap2").count() == 100, "publish makes staged rows visible")
    // the pre-publish main state still time-travels (metadata v1)
    assert(eng.tableDF("d", "iwap2", 2).count() == 50)
  }

  test("partition-spec evolution: old files always read, new files prune, zero rewrites") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val loc = TestSpark.scratch("ice_specevo")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    // generation 1: unpartitioned, one file covering keys 0..199
    eng.writeIcebergTable((0L until 200L).map(k => (k, s"a$k")).toDF("k", "v").coalesce(1),
      "d", "ise", loc)
    val files0 = eng.files("d", "ise").map(_.path).toSet
    assert(files0.size == 1)
    // adopt truncate[100] hidden partitioning: METADATA-ONLY
    eng.evolveIcebergPartitionSpec("d", "ise", "k", "truncate[100]")
    assert(eng.files("d", "ise").map(_.path).toSet == files0, "spec evolution rewrites nothing")
    // generation 2: the same key range appends PARTITIONED (two windows)
    eng.appendIcebergTable((0L until 200L).map(k => (k, s"b$k")).toDF("k", "v"), "d", "ise")
    assert(eng.files("d", "ise").size == 3, "1 unpartitioned + windows 0/100")
    assert(eng.tableDF("d", "ise").columns.toSeq == Seq("k", "v"), "spec field stays hidden")
    assert(eng.tableDF("d", "ise").count() == 400)
    def filesScanned(df2: org.apache.spark.sql.DataFrame): Int =
      df2.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.inputFiles.length
            case _ => 0
          }
      }.sum
    // range over window 100 only: the pre-evolution file (no spec
    // value -> keep-on-unknown) + ONE window of generation 2
    val q = eng.query("SELECT count(*) AS n FROM glue.d.ise WHERE k BETWEEN 120 AND 150")
    assert(q.head().getLong(0) == 62, "31 keys x both generations")
    assert(filesScanned(q) == 2, s"expected gen1 + window 100, got ${filesScanned(q)}")
    // equality in window 0
    val q2 = eng.query("SELECT count(*) AS n FROM glue.d.ise WHERE k = 42")
    assert(q2.head().getLong(0) == 2)
    assert(filesScanned(q2) == 2, s"expected gen1 + window 0, got ${filesScanned(q2)}")
    // RE-EVOLUTION: add a second width. Partition evolution ADDS
    // fields (r16): the 100-wide field CARRIES into the new spec
    // ahead of the 50-wide one, so generation-2 files keep pruning at
    // their own width while generation 3 prunes at both.
    eng.evolveIcebergPartitionSpec("d", "ise", "k", "truncate[50]")
    eng.appendIcebergTable((0L until 100L).map(k => (k, s"c$k")).toDF("k", "v"), "d", "ise")
    assert(eng.files("d", "ise").size == 5, "+ windows 0/50 of the 50-wide spec")
    val q3 = eng.query("SELECT count(*) AS n FROM glue.d.ise WHERE k BETWEEN 60 AND 70")
    assert(q3.head().getLong(0) == 33, "11 keys x 3 generations")
    // kept: gen1 (no value for either field) + gen2's window-0 file
    // (its CARRIED 100-wide record prunes window 100 out) + gen3's
    // window-50 file; gen2 window-100 and gen3 window-0 prune
    assert(filesScanned(q3) == 3, s"got ${filesScanned(q3)}")
  }

  test("column rename is metadata-only; reads, appends, and bounds bind by field id") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val loc = TestSpark.scratch("ice_ren")
    val cat = new FixtureCatalog()
    // footers off: file skipping below must come from manifest bounds
    val eng = new GlueTableEngine(spark, cat, CacheConfig(footerStatsMaxFiles = 0))
    eng.writeIcebergTable((0L until 100L).map(i => (i, s"r$i")).toDF("k", "v").coalesce(1),
      "d", "irn", loc)
    val files0 = eng.files("d", "irn").map(_.path).toSet
    eng.renameIcebergColumn("d", "irn", "k", "id")
    // zero files rewritten, zero data moved
    assert(eng.files("d", "irn").map(_.path).toSet == files0)
    val df = eng.tableDF("d", "irn")
    assert(df.columns.toSeq == Seq("id", "v"))
    assert(df.filter(col("id") === 7L).head().getString(1) == "r7")
    // appends arrive under the NEW logical name, land under the fixed
    // physical one — both generations read as one logical schema
    eng.appendIcebergTable(
      (1000L until 1100L).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1), "d", "irn")
    assert(eng.tableDF("d", "irn").count() == 200)
    val newFile = (eng.files("d", "irn").map(_.path).toSet -- files0).head
    assert(spark.read.parquet(newFile).columns.toSeq.contains("k"),
      "post-rename files must hold the PHYSICAL column name")
    // pre-rename metadata still travels with the old name
    assert(eng.tableDF("d", "irn", 2).columns.toSeq == Seq("k", "v"))
    // manifest bounds keep skipping: both generations' bounds bind to
    // the same field id, queried through the renamed logical column
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = eng.query("SELECT v FROM glue.d.irn WHERE id >= 1000")
      assert(q.collect().length == 100)
      val scans = q.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.head.metrics("numFiles").value == 1,
        s"bounds on the renamed column must prune to 1 of 2 files, " +
          s"got ${scans.head.metrics("numFiles").value}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // merge on the renamed table: the delete file and the data land
    // under physical names, equality ids resolve through the schema
    eng.mergeIceberg("d", "irn", Seq((0L, "u0")).toDF("id", "v"), "id")
    val after = eng.tableDF("d", "irn")
    assert(after.count() == 200)
    assert(after.filter(col("id") === 0L).head().getString(1) == "u0")
    // structural columns stay fixed: renaming a partition column throws
    val loc2 = TestSpark.scratch("ice_ren_part")
    eng.writeIcebergTable(Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("k", "v", "p"),
      "d", "irnp", loc2, partitionBy = Seq("p"))
    val e = intercept[IllegalArgumentException] {
      eng.renameIcebergColumn("d", "irnp", "p", "part")
    }
    assert(e.getMessage.contains("partition"))
  }

  test("column drop retires the field id; a re-added name binds fresh (no resurrection)") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val loc = TestSpark.scratch("ice_drop")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    eng.writeIcebergTable(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "v", "n").coalesce(1),
      "d", "idr", loc)
    val files0 = eng.files("d", "idr").map(_.path).toSet
    eng.dropIcebergColumn("d", "idr", "v")
    // metadata-only: same files, column gone from reads
    assert(eng.files("d", "idr").map(_.path).toSet == files0)
    assert(eng.tableDF("d", "idr").columns.toSeq == Seq("k", "n"))
    // re-add the NAME via additive evolution: fresh field id + fresh
    // physical column — pre-drop bytes must NOT resurrect
    eng.appendIcebergTable(Seq((3L, 30L, "c")).toDF("k", "n", "v").coalesce(1),
      "d", "idr", evolve = true)
    val rows = eng.tableDF("d", "idr").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) null else r.getString(2)))
    assert(rows.toSeq == Seq((1L, 10L, null), (2L, 20L, null), (3L, 30L, "c")),
      s"pre-drop rows must read NULL for the re-added column, got ${rows.toSeq}")
    // the new file's physical column is disambiguated from the retired one
    val newFile = (eng.files("d", "idr").map(_.path).toSet -- files0).head
    val physCols = spark.read.parquet(newFile).columns.toSeq
    assert(physCols.exists(c => c.startsWith("v_") && c != "v"),
      s"re-added column must use a FRESH physical name, file holds $physCols")
    // pre-drop metadata still travels with the original values
    val old = eng.tableDF("d", "idr", 2).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(old.toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("expiry keeps data reachable only through branch/tag refs (ADVICE r13 high)") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    // BRANCH leg: staged rows are reachable from NO retained main head
    val locB = TestSpark.scratch("ice_exprefb")
    eng.writeIcebergTable((0L until 50L).map(k => (k, s"r$k")).toDF("k", "v")
      .coalesce(1), "d", "ierb", locB)
    eng.appendIcebergBranch((1000L until 1050L).map(k => (k, s"r$k")).toDF("k", "v")
      .coalesce(1), "d", "ierb", "audit")
    val delB = eng.expireIcebergSnapshots("d", "ierb", retainVersions = 1)
    assert(eng.icebergBranchDF("d", "ierb", "audit").count() == 100,
      s"expiry deleted branch-staged data (deleted=$delB)")
    // and publishing the branch AFTER expiry yields a readable main
    eng.publishIcebergBranch("d", "ierb", "audit")
    assert(eng.tableDF("d", "ierb").count() == 100,
      "post-expiry publish must fast-forward onto intact data")
    // TAG leg: a main REWRITE retires the original file from main's
    // head — only the tag still references it across expiry
    val locT = TestSpark.scratch("ice_expreft")
    eng.writeIcebergTable((0L until 50L).map(k => (k, s"r$k")).toDF("k", "v")
      .coalesce(1), "d", "iert", locT)
    eng.tagIcebergSnapshot("d", "iert", "v1tag")
    eng.compactIcebergTable("d", "iert", targetFileBytes = Long.MaxValue)
    val delT = eng.expireIcebergSnapshots("d", "iert", retainVersions = 1)
    assert(eng.icebergTagDF("d", "iert", "v1tag").count() == 50,
      s"expiry deleted tag-reachable data (deleted=$delT)")
    assert(eng.tableDF("d", "iert").count() == 50)
  }

  test("icebergChanges over a PARTITIONED MOR table: position and equality deltas (r13 #4)") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    // POSITION-delete delta: partition values must ride the delete leg
    val locP = TestSpark.scratch("ice_pcdc")
    eng.writeIcebergTable(
      (0L until 40L).map(i => (i, s"r$i", if (i % 2 == 0) "even" else "odd"))
        .toDF("k", "v", "p").repartition(2),
      "d", "ipc", locP, partitionBy = Seq("p"))
    eng.deleteIcebergWhere("d", "ipc", col("k") < 10L)
    val ch = eng.icebergChanges("d", "ipc", 1, 0)
    assert(ch.columns.contains("p"), s"partition column missing: ${ch.columns.toSeq}")
    val dels = ch.filter(col("_change_type") === "delete")
      .select("k", "p").collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(dels.toSeq == (0L until 10L).map(k =>
      (k, if (k % 2 == 0) "even" else "odd")),
      s"delete leg must carry manifest partition values, got ${dels.toSeq}")
    // EQUALITY-delete delta (merge) on a partitioned table
    val locM = TestSpark.scratch("ice_pmrg")
    eng.writeIcebergTable(
      (0L until 40L).map(i => (i, s"r$i", if (i % 2 == 0) "even" else "odd"))
        .toDF("k", "v", "p").repartition(2),
      "d", "ipm", locM, partitionBy = Seq("p"))
    eng.mergeIceberg("d", "ipm",
      (0L until 5L).map(i => (i, s"u$i", if (i % 2 == 0) "even" else "odd"))
        .toDF("k", "v", "p").coalesce(1), "k")
    // scan correctness first: updated rows once, partitions prune
    val after = eng.tableDF("d", "ipm")
    assert(after.count() == 40)
    assert(after.filter(col("k") === 2L).head().getString(1) == "u2")
    val chM = eng.icebergChanges("d", "ipm", 1, 0)
    val insM = chM.filter(col("_change_type") === "insert")
      .select("k", "v", "p").collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(insM.toSeq == (0L until 5L).map(i => (i, s"u$i")),
      s"merge insert leg, got ${insM.toSeq}")
    val delM = chM.filter(col("_change_type") === "delete")
      .select("k", "v", "p").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
    assert(delM.toSeq == (0L until 5L).map(i =>
      (i, s"r$i", if (i % 2 == 0) "even" else "odd")),
      s"merge delete leg must carry partition values, got ${delM.toSeq}")
  }

  test("icebergChanges on a MAPPED table emits logical column names (raw legs project)") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    // unpartitioned + position-delete delta (fast path)
    val locU = TestSpark.scratch("ice_mapcdc")
    eng.writeIcebergTable((0L until 20L).map(i => (i, s"r$i")).toDF("k", "v")
      .coalesce(1), "d", "imc", locU)
    eng.renameIcebergColumn("d", "imc", "v", "label") // files still hold 'v'
    eng.deleteIcebergWhere("d", "imc", col("k") < 5L)
    val ch = eng.icebergChanges("d", "imc", 1, 0)
    assert(ch.columns.sorted.toSeq == Seq("_change_type", "k", "label"),
      s"raw legs must project physical->logical, got ${ch.columns.toSeq}")
    val dels = ch.filter(col("_change_type") === "delete")
      .select("k", "label").collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(dels.toSeq == (0L until 5L).map(k => (k, s"r$k")))
    // partitioned + equality delta (general path) on a mapped table
    val locP = TestSpark.scratch("ice_mapcdcp")
    eng.writeIcebergTable(
      (0L until 20L).map(i => (i, s"r$i", if (i % 2 == 0) "e" else "o"))
        .toDF("k", "v", "p").repartition(2), "d", "imcp", locP, partitionBy = Seq("p"))
    eng.renameIcebergColumn("d", "imcp", "v", "label")
    eng.mergeIceberg("d", "imcp",
      Seq((2L, "u2", "e"), (3L, "u3", "o")).toDF("k", "label", "p").coalesce(1), "k")
    val chP = eng.icebergChanges("d", "imcp", 1, 0)
    assert(chP.columns.sorted.toSeq == Seq("_change_type", "k", "label", "p"),
      s"got ${chP.columns.toSeq}")
    val delP = chP.filter(col("_change_type") === "delete")
      .select("k", "label", "p").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(delP.toSeq == Seq((2L, "r2", "e"), (3L, "r3", "o")),
      s"mapped partitioned delete leg, got ${delP.toSeq}")
  }

  test("re-adding a renamed column's old name binds additively, not to its physical ghost") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val loc = TestSpark.scratch("ice_readd")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    eng.writeIcebergTable((0L until 10L).map(i => (s"a$i", i)).toDF("a", "x").coalesce(1),
      "d", "ird", loc)
    eng.renameIcebergColumn("d", "ird", "a", "b") // b's physical name stays 'a'
    // additive evolve append RE-INTRODUCING the name 'a': must create a
    // fresh column, never bind byPhys onto b / rename-collide (ADVICE
    // r13 medium — chained withColumnRenamed hit both columns)
    eng.appendIcebergTable(
      Seq(("b10", 10L, "fresh")).toDF("b", "x", "a").coalesce(1),
      "d", "ird", evolve = true)
    val out = eng.tableDF("d", "ird")
    assert(out.columns.sorted.toSeq == Seq("a", "b", "x"),
      s"got ${out.columns.toSeq}")
    val newRow = out.filter(col("x") === 10L).head()
    assert(newRow.getAs[String]("b") == "b10")
    assert(newRow.getAs[String]("a") == "fresh")
    // pre-append rows read NULL for the re-added 'a' (no resurrection
    // of b's bytes, which live under physical name 'a')
    val oldRow = out.filter(col("x") === 7L).head()
    assert(oldRow.getAs[String]("b") == "a7")
    assert(oldRow.isNullAt(oldRow.fieldIndex("a")),
      s"pre-append rows must not resurrect physical-'a' bytes: $oldRow")
  }

  test("boolean/decimal/binary columns survive schema evolution (published schema)") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val loc = TestSpark.scratch("ice_wide")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    val df = Seq(
      (1L, true, BigDecimal("1.50"), Array[Byte](1, 2)),
      (2L, false, BigDecimal("2.25"), Array[Byte](3))
    ).toDF("k", "flag", "amt", "blob")
    eng.writeIcebergTable(df.coalesce(1), "d", "iwide", loc)
    // rename flips the table to mapped mode, where the published
    // schema is AUTHORITATIVE — a type missing from icebergType would
    // silently vanish from all reads (ADVICE r13 medium)
    eng.renameIcebergColumn("d", "iwide", "k", "id")
    val out = eng.tableDF("d", "iwide")
    assert(out.columns.sorted.toSeq == Seq("amt", "blob", "flag", "id"),
      s"got ${out.columns.toSeq}")
    val r = out.filter(col("id") === 1L).head()
    assert(r.getAs[Boolean]("flag"))
    assert(r.getAs[java.math.BigDecimal]("amt").compareTo(
      new java.math.BigDecimal("1.50")) == 0)
    assert(r.getAs[Array[Byte]]("blob").toSeq == Seq[Byte](1, 2))
  }

  test("null partition values store as real nulls, not the Hive sentinel (ADVICE r14)") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    // STRING partition: the sentinel segment must become a null in
    // the manifest partition record, never the literal
    val loc = TestSpark.scratch("ice_nullpart")
    val df = Seq((1L, Option("a")), (2L, Option("a")), (3L, Option.empty[String]))
      .toDF("k", "p")
    eng.writeIcebergTable(df.coalesce(1), "d", "inp", loc, partitionBy = Seq("p"))
    val fs0 = eng.files("d", "inp")
    assert(fs0.exists(f => !f.partitionValues.contains("p")),
      s"one file holds the null partition (absent key = null): $fs0")
    assert(!fs0.exists(_.partitionValues.get("p").contains("__HIVE_DEFAULT_PARTITION__")),
      s"sentinel literal leaked into the manifest partition record: $fs0")
    assert(eng.tableDF("d", "inp").count() == 3)
    // INT partition: the sentinel previously threw NumberFormatException
    // AFTER the data dir was written — now it stores null, and a build
    // failure would clean the staged dir up
    val loc2 = TestSpark.scratch("ice_nullpart2")
    eng.writeIcebergTable(Seq((1L, Option(10)), (2L, Option.empty[Int]))
      .toDF("k", "pi").coalesce(1), "d", "inp2", loc2, partitionBy = Seq("pi"))
    assert(eng.tableDF("d", "inp2").count() == 2)
    // and through the MERGE path (commitMerge recovers values the same way)
    eng.mergeIceberg("d", "inp2",
      Seq((3L, Option.empty[Int])).toDF("k", "pi"), "k")
    assert(eng.tableDF("d", "inp2").count() == 3)
  }

  test("dropRef repairs a dangling ref so expiry can run again (ADVICE r14)") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    val loc = TestSpark.scratch("ice_dangling")
    eng.writeIcebergTable((0L until 20L).map(k => (k, s"r$k")).toDF("k", "v")
      .coalesce(1), "d", "idr", loc)
    eng.tagIcebergSnapshot("d", "idr", "cut")
    eng.appendIcebergTable((100L until 120L).map(k => (k, s"r$k")).toDF("k", "v")
      .coalesce(1), "d", "idr")
    // hand-corrupt: point the tag at a snapshot id the metadata never
    // listed (an older writer / hand-edited table)
    val metaDir = new org.apache.hadoop.fs.Path(s"$loc/metadata")
    val hfs = metaDir.getFileSystem(
      Shim.classic(spark).sparkContext.hadoopConfiguration)
    val latest = hfs.listStatus(metaDir).toSeq
      .filter(_.getPath.getName.endsWith(".json"))
      .maxBy(st => st.getPath.getName.stripPrefix("v")
        .stripSuffix(".metadata.json").toLong)
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(latest.getPath.toUri.getPath)), "UTF-8")
    val corrupted = body.replaceAll(
      """("cut"\s*:\s*\{\s*"snapshot-id"\s*:\s*)\d+""", "$199999")
    assert(corrupted != body, "corruption must have rewritten the tag's snapshot id")
    val os = hfs.create(latest.getPath, true)
    try os.write(corrupted.getBytes("UTF-8")) finally os.close()
    eng.invalidateTable("d", "idr")
    // expiry fails loudly on the dangling ref...
    val e = intercept[IllegalStateException] {
      eng.expireIcebergSnapshots("d", "idr", retainVersions = 1)
    }
    assert(e.getMessage.contains("missing snapshot"))
    // ...dropRef is the documented recovery, after which expiry runs
    eng.dropIcebergRef("d", "idr", "cut")
    eng.expireIcebergSnapshots("d", "idr", retainVersions = 1)
    assert(eng.tableDF("d", "idr").count() == 40)
  }

  test("spec evolution on an identity-partitioned table keeps both dimensions (r15 ask #3)") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val loc = TestSpark.scratch("ice_ievo")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    eng.writeIcebergTable(
      Seq((10L, "a"), (150L, "a"), (20L, "b")).toDF("k", "p").coalesce(1),
      "d", "ievo", loc, partitionBy = Seq("p"))
    eng.evolveIcebergPartitionSpec("d", "ievo", "k", "truncate[100]")
    eng.appendIcebergTable(Seq((30L, "a"), (160L, "b")).toDF("k", "p"), "d", "ievo")
    // the evolved spec CARRIES the identity field ahead of the new one
    val resolver = new graft.listing.IcebergSnapshotResolver(
      Shim.classic(spark).sparkContext.hadoopConfiguration)
    assert(resolver.specFields(loc).map(f => (f._1, f._3)) ==
      Seq(("p", "identity"), ("k_trunc_100", "truncate[100]")),
      s"spec = ${resolver.specFields(loc)}")
    // post-evolution files carry BOTH partition records; pre-evolution
    // files only the identity one — and every file still carries p
    val pvs = eng.files("d", "ievo").map(_.partitionValues)
    assert(pvs.forall(_.contains("p")), s"every record carries p: $pvs")
    assert(pvs.exists(_.contains("k_trunc_100")) && pvs.exists(!_.contains("k_trunc_100")),
      s"mixed generations expected: $pvs")
    // reads attach the identity key for both generations
    assert(eng.tableDF("d", "ievo").where(col("p") === "a").count() == 3)
    assert(eng.tableDF("d", "ievo").count() == 5)
  }

  test("changelog partition attach: record-less files read null cells, unlisted files raise (r15 ask #3)") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val loc = TestSpark.scratch("ice_pna")
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    // files written UNPARTITIONED (no manifest partition record), but
    // the catalog declares a partition key — the shape a spec
    // evolution leaves pre-evolution files in
    eng.writeIcebergTable(Seq((1L, "x"), (2L, "y")).toDF("k", "v").coalesce(1),
      "d", "pna", loc)
    cat.register(graft.model.GlueTable("d", "pna", Some(loc),
      partitionKeys = Seq(graft.model.ColumnDef("p")),
      parameters = Map("table_type" -> "ICEBERG")))
    eng.invalidateTable("d", "pna")
    val meta = eng.tableMetadata("d", "pna")
    val attach = eng.partitionValuesAttach("d", "pna", meta, 0, 0)
    val listed = eng.files("d", "pna").map(f => eng.canonPath(f.path))
    assert(listed.nonEmpty)
    // a LISTED file whose record lacks the key: null cell, NO raise
    // (keep-on-unknown, read side)
    val ok = attach(Seq(listed.head).toDF("__fp"), "__fp").collect()
    assert(ok.length == 1 && ok.head.isNullAt(ok.head.fieldIndex("p")),
      "record-less file must surface a null partition cell")
    // an UNLISTED file (canonicalization drift): loud raise even
    // though nothing downstream projects the partition column
    val bad = attach(Seq("/nowhere/ghost.parquet").toDF("__fp"), "__fp")
      .select("__fp") // partition column NOT projected — filter guard must still fire
    val e = intercept[Exception] { bad.collect() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("partition attach miss")), s"got $e")
  }

  test("one metadata resolve per table version: a cold plan resolves once, a warm plan never") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val cat = new FixtureCatalog()
    val writer = new GlueTableEngine(spark, cat)
    writer.writeIcebergTableBucketed((0L until 100L).map(k => (k, s"r$k")).toDF("k", "v"),
      "d", "ires", TestSpark.scratch("ice_resolves"), "k", 4)
    (1 to 5).foreach(i => // six metadata versions
      writer.appendIcebergTable(Seq((100L + i, s"r${100 + i}")).toDF("k", "v"), "d", "ires"))
    val sql = "SELECT count(*) AS n FROM glue.d.ires WHERE k IN (40, 41, 42)"
    // a fresh reader plans twice: cold, then warm
    def coldWarmResolves(): (Long, Long, GlueTableEngine) = {
      val eng = new GlueTableEngine(spark, cat)
      def resolves(): Long = {
        val r0 = eng.iceberg.resolveCount.get()
        eng.query(sql)
        eng.iceberg.resolveCount.get() - r0
      }
      val cold = resolves()
      (cold, resolves(), eng)
    }
    val (cold, warm, reader) = coldWarmResolves()
    assert((cold, warm) == (1L, 0L), s"(cold, warm) plan resolves = ($cold, $warm)")
    assert(reader.query(sql).head().getLong(0) == 3L)
    // delete files (position + equality) ride in the same snapshot
    writer.deleteIcebergWhere("d", "ires", col("k") === 41L)
    writer.deleteIcebergMatching("d", "ires", Seq(40L).toDF("k"), Seq("k"))
    val (cold2, warm2, reader2) = coldWarmResolves()
    assert((cold2, warm2) == (1L, 0L),
      s"with delete files: (cold, warm) plan resolves = ($cold2, $warm2)")
    assert(reader2.query(sql).head().getLong(0) == 1L)
  }

  test("an Iceberg delete that matches nothing publishes no snapshot and leaves the read plan alone") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val sp = Shim.classic(spark)
    import sp.implicits._
    val loc = TestSpark.scratch("ice_nodelete")
    val eng = new GlueTableEngine(spark, new FixtureCatalog())
    eng.writeIcebergTable((0L until 20L).map(k => (k, s"r$k")).toDF("k", "v").coalesce(1),
      "d", "nd", loc)
    val seq = eng.appendIcebergTable(Seq((20L, "r20")).toDF("k", "v"), "d", "nd")
    def antiJoins = eng.tableDF("d", "nd").queryExecution.optimizedPlan
      .collect { case j: Join if j.joinType == LeftAnti => j }.size
    def snapshots = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$loc/metadata/v$seq.metadata.json")).get("snapshots").size()
    val (plan0, snaps0) = (antiJoins, snapshots)
    assert(plan0 == 0 && snaps0 == 2)
    // a position delete whose predicate matches no row, and an
    // equality delete with an empty key batch
    assert(eng.deleteIcebergWhere("d", "nd", col("k") > 1000L) == seq)
    assert(eng.deleteIcebergMatching("d", "nd", Seq.empty[Long].toDF("k"), Seq("k")) == seq)
    assert(new java.io.File(s"$loc/metadata").list().count(_.endsWith(".metadata.json")) == 2)
    assert((antiJoins, snapshots) == (plan0, snaps0))
    assert(!new java.io.File(loc).list().exists(_.startsWith("deletes_")),
      "the empty delete files are removed")
    assert(eng.tableDF("d", "nd").count() == 21L)
    // a delete that matches does publish, and the read then anti-joins
    assert(eng.deleteIcebergWhere("d", "nd", col("k") === 3L) == seq + 1)
    assert(antiJoins == 1 && eng.tableDF("d", "nd").count() == 20L)
  }
}
