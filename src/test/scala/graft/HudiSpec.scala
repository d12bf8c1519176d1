package graft

import graft.fixtures.TestFixtures
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hudi COW timeline resolution (graft.listing.HudiTimelineResolver):
  * latest-file-slice semantics, upsert versioning, replacecommit
  * retirement, time travel. Beyond-reference like DELTA — the
  * reference's classifier declares HUDI but can never return it.
  */
class HudiSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val engine = TestFixtures.engineFor(spark, TestSpark.sfDir)

  private lazy val li = spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")

  test("latest state reads exactly one slice per file group — no stale-version double counting") {
    // fixture dir holds FOUR parquet files (fg1 v1+v2, fg2 v1, fg3)
    // but the live set is {fg1 v2, fg3} = full lineitem exactly once
    assert(engine.tableDF("default", "hudi_lineitem").count() == li.count())
    val paths = engine.files("default", "hudi_lineitem").map(_.path)
    assert(paths.size == 2, s"live slice count: $paths")
    assert(paths.exists(_.contains("fg1_0-0-0_002")), "upsert must pick the v2 slice")
    assert(!paths.exists(_.contains("fg1_0-0-0_001")), "stale v1 slice must never be read")
    assert(paths.exists(_.contains("fg3")) && !paths.exists(_.contains("fg2")),
      "replacecommit must retire fg2 in favor of fg3")
  }

  test("time travel walks the timeline backwards") {
    // offset 1 -> before the replacecommit: {fg1 v2, fg2 v1}
    val v1 = engine.files("default", "hudi_lineitem", 1).map(_.path)
    assert(v1.exists(_.contains("fg2")) && !v1.exists(_.contains("fg3")))
    assert(v1.exists(_.contains("fg1_0-0-0_002")))
    // offset 2 -> before the upsert: {fg1 v1, fg2 v1}
    val v2 = engine.files("default", "hudi_lineitem", 2).map(_.path)
    assert(v2.exists(_.contains("fg1_0-0-0_001")) && !v2.exists(_.contains("fg1_0-0-0_002")))
    // every version's CONTENT is the full table (the fixture rewrites
    // identical rows), so counts hold at each point in time
    assert(engine.tableDF("default", "hudi_lineitem", 1).count() == li.count())
    assert(engine.tableDF("default", "hudi_lineitem", 2).count() == li.count())
    // beyond history -> empty
    assert(engine.files("default", "hudi_lineitem", 5).isEmpty)
  }

  test("hive-style partitioned Hudi layout prunes via the path extractors") {
    import org.apache.spark.sql.graft.Shim
    val sp = Shim.classic(spark)
    import sp.implicits._
    val loc = TestSpark.scratch("hudi_part")
    // two partitions, one file group each, Hive-style partition dirs
    def writeSlice(part: String, name: String, rows: Seq[(Long, String)]): java.io.File = {
      val tmp = s"$loc/_tmp"
      rows.toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      val dir = new java.io.File(s"$loc/p=$part"); dir.mkdirs()
      val dst = new java.io.File(dir, s"$name.parquet")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      dst
    }
    val fa = writeSlice("a", "fga_0-0-0_001", Seq((1L, "x"), (2L, "y")))
    val fb = writeSlice("b", "fgb_0-0-0_001", Seq((3L, "z")))
    new java.io.File(s"$loc/.hoodie").mkdirs()
    def stat(fileId: String, f: java.io.File, part: String): String = {
      val rel = s"p=$part/${f.getName}"
      s"""{"fileId": "$fileId", "path": "$rel", "fileSizeInBytes": ${f.length()}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$loc/.hoodie/001.commit"),
      s"""{"partitionToWriteStats": {"p=a": [${stat("fga", fa, "a")}], "p=b": [${stat("fgb", fb, "b")}]}}"""
        .getBytes("UTF-8"))
    val cat = new graft.catalog.FixtureCatalog().register(graft.model.GlueTable(
      "d", "hp", Some(loc), partitionKeys = Seq(graft.model.ColumnDef("p")),
      parameters = Map("table_type" -> "HUDI")))
    val eng = new graft.engine.GlueTableEngine(spark, cat)
    // partition values extract from the key=value path segments
    assert(eng.tableDF("d", "hp").count() == 3)
    val pruned = eng.prunedFiles("d", "hp", Seq(col("p") === "a"))
    assert(pruned.size == 1 && pruned.head.contains("p=a"), s"got $pruned")
    assert(eng.tableDF("d", "hp").filter(col("p") === "b").count() == 1)
  }

  test("incremental read between timeline instants") {
    // 002 -> 003 (replacecommit): fg3 is the only new file; its rows
    // are the odd half
    val inc = engine.tableDFIncremental("default", "hudi_lineitem", 1, 0)
    assert(inc.count() == li.filter(col("l_orderkey") % 2 === 1).count())
    assert(inc.filter(col("l_orderkey") % 2 === 0).count() == 0)
  }

  test("write path: round-trip, append instants, time travel") {
    import spark.implicits._
    val loc = TestSpark.scratch("hudi_write")
    val eng = new graft.engine.GlueTableEngine(spark, new graft.catalog.FixtureCatalog())
    eng.writeHudiTable((0L until 100L).map(i => (i, s"r$i")).toDF("k", "v").coalesce(1),
      "d", "hw", loc)
    assert(eng.tableDF("d", "hw").count() == 100)
    eng.appendHudiTable((1000L until 1100L).map(i => (i, s"r$i")).toDF("k", "v").coalesce(1),
      "d", "hw")
    assert(eng.tableDF("d", "hw").count() == 200)
    // time travel: offset 1 = before the append
    assert(eng.tableDF("d", "hw", 1).count() == 100)
    // incremental = exactly the appended batch
    assert(eng.tableDFIncremental("d", "hw", 1, 0).agg(min("k"), max("k")).head()
      .toSeq == Seq(1000L, 1099L))
  }

  test("column rename and drop are metadata-only; re-added names never resurrect") {
    import spark.implicits._
    val loc = TestSpark.scratch("hudi_ren")
    val eng = new graft.engine.GlueTableEngine(spark, new graft.catalog.FixtureCatalog())
    eng.writeHudiTable((0L until 100L).map(i => (i, s"r$i")).toDF("k", "v").coalesce(1),
      "d", "hrn", loc)
    val files0 = eng.files("d", "hrn").map(_.path).toSet
    // RENAME: metadata-only, both generations read as one logical schema
    eng.renameHudiColumn("d", "hrn", "v", "label")
    assert(eng.files("d", "hrn").map(_.path).toSet == files0, "rename rewrites nothing")
    assert(eng.tableDF("d", "hrn").columns.toSeq == Seq("k", "label"))
    assert(eng.tableDF("d", "hrn").filter(col("label") === "r7").count() == 1)
    eng.appendHudiTable(
      (1000L until 1100L).map(i => (i, s"r$i")).toDF("k", "label").coalesce(1), "d", "hrn")
    assert(eng.tableDF("d", "hrn").count() == 200)
    val newFile = (eng.files("d", "hrn").map(_.path).toSet -- files0).head
    assert(spark.read.parquet(newFile).columns.toSeq.contains("v"),
      "post-rename slices must hold the PHYSICAL column name")
    // pre-rename instant still travels with the old name
    assert(eng.tableDF("d", "hrn", 2).columns.toSeq == Seq("k", "v"))
    // DROP + re-add: fresh physical column, pre-drop rows read NULL
    val loc2 = TestSpark.scratch("hudi_drop")
    eng.writeHudiTable(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "v", "n").coalesce(1),
      "d", "hdr", loc2)
    val dFiles0 = eng.files("d", "hdr").map(_.path).toSet
    eng.dropHudiColumn("d", "hdr", "v")
    assert(eng.files("d", "hdr").map(_.path).toSet == dFiles0)
    assert(eng.tableDF("d", "hdr").columns.toSeq == Seq("k", "n"))
    eng.appendHudiTable(Seq((3L, 30L, "c")).toDF("k", "n", "v").coalesce(1),
      "d", "hdr", evolve = true)
    val rows = eng.tableDF("d", "hdr").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) null else r.getString(2)))
    assert(rows.toSeq == Seq((1L, 10L, null), (2L, 20L, null), (3L, 30L, "c")),
      s"pre-drop rows must read NULL for the re-added column, got ${rows.toSeq}")
    val newSlice = (eng.files("d", "hdr").map(_.path).toSet -- dFiles0).head
    val physCols = spark.read.parquet(newSlice).columns.toSeq
    assert(physCols.exists(c => c.startsWith("v_") && c != "v"),
      s"re-added column must use a FRESH physical name, slice holds $physCols")
    // pre-drop instant still travels with the original values
    val old = eng.tableDF("d", "hdr", 2).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(old.toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("rollback reinstates an earlier instant's slices; timeline intact") {
    import spark.implicits._
    val loc = TestSpark.scratch("hudi_rb")
    val eng = new graft.engine.GlueTableEngine(spark, new graft.catalog.FixtureCatalog())
    eng.writeHudiTable((0L until 100L).map(i => (i, s"old$i")).toDF("k", "v").coalesce(1),
      "d", "hrb", loc)
    eng.appendHudiTable((1000L until 1100L).map(i => (i, s"old$i")).toDF("k", "v").coalesce(1),
      "d", "hrb")
    // instant 3: upsert rewrites the low group's slice (same fileId
    // family retired + replaced) — the case where rollback must
    // re-point a group to its OLD slice, not just drop a new group
    eng.upsertHudi("d", "hrb",
      (0L until 10L).map(i => (i, s"new$i")).toDF("k", "v").coalesce(1), "k")
    assert(eng.tableDF("d", "hrb").count() == 200)
    assert(eng.tableDF("d", "hrb").filter(col("v").startsWith("new")).count() == 10)
    // rollback to the pre-upsert state
    eng.rollbackHudiTable("d", "hrb", 1)
    assert(eng.tableDF("d", "hrb").count() == 200)
    assert(eng.tableDF("d", "hrb").filter(col("v").startsWith("new")).count() == 0)
    assert(eng.tableDF("d", "hrb").filter(col("v") === "old5").count() == 1)
    // timeline intact: the upserted state still travels (offset 1 =
    // just before the rollback instant)
    assert(eng.tableDF("d", "hrb", 1).filter(col("v").startsWith("new")).count() == 10)
    // rollback of the rollback: forward again to the upserted state
    eng.rollbackHudiTable("d", "hrb", 1)
    assert(eng.tableDF("d", "hrb").filter(col("v").startsWith("new")).count() == 10)
  }

  test("upsert retires only key-intersecting file groups; others keep their files") {
    import spark.implicits._
    val loc = TestSpark.scratch("hudi_ups")
    val eng = new graft.engine.GlueTableEngine(spark, new graft.catalog.FixtureCatalog())
    eng.writeHudiTable((0L until 100L).map(i => (i, s"old$i")).toDF("k", "v").coalesce(1),
      "d", "hu", loc)
    eng.appendHudiTable((1000L until 1100L).map(i => (i, s"old$i")).toDF("k", "v").coalesce(1),
      "d", "hu")
    val lowFile = eng.files("d", "hu").map(_.path).find(_.contains("f" + "0" * 13 + "1")).get
    // update two high keys + insert two new ones
    val src = Seq((1050L, "new1050"), (5000L, "ins5000")).toDF("k", "v")
    eng.upsertHudi("d", "hu", src, "k")
    val after = eng.files("d", "hu").map(_.path)
    assert(after.contains(lowFile), "low group is outside the source span: no rewrite")
    val rows = eng.tableDF("d", "hu").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 201)
    assert(rows(1050L) == "new1050" && rows(5000L) == "ins5000")
    assert(rows(1051L) == "old1051" && rows(0L) == "old0")
    // time travel to before the upsert still sees the old value
    assert(eng.tableDF("d", "hu", 1).filter(col("k") === 1050L)
      .head().getString(1) == "old1050")
    // pure insert (span beyond every group): nothing retired
    val before2 = eng.files("d", "hu").map(_.path).toSet
    eng.upsertHudi("d", "hu", Seq((9000L, "i")).toDF("k", "v"), "k")
    assert(before2.subsetOf(eng.files("d", "hu").map(_.path).toSet))
    assert(eng.tableDF("d", "hu").count() == 202)
  }

  test("compaction clusters small groups in one replacecommit; cleaning deletes stale slices") {
    import spark.implicits._
    val loc = TestSpark.scratch("hudi_cc")
    val eng = new graft.engine.GlueTableEngine(spark, new graft.catalog.FixtureCatalog())
    eng.writeHudiTable((0L until 50L).map(i => (i, i * 2)).toDF("k", "y").repartition(5),
      "d", "hc", loc)
    eng.appendHudiTable((50L until 100L).map(i => (i, i * 2)).toDF("k", "y").repartition(5),
      "d", "hc")
    val before = eng.files("d", "hc")
    assert(before.size == 10, s"fixture shape: ${before.size} files")
    eng.compactHudiTable("d", "hc", targetFileBytes = Long.MaxValue)
    val after = eng.files("d", "hc")
    assert(after.size == 1, s"compaction must leave 1 live group, got ${after.size}")
    assert(eng.tableDF("d", "hc").agg(sum("k"), sum("y")).head().toSeq == Seq(4950L, 9900L))
    // old layout still reachable, nothing deleted yet
    assert(eng.files("d", "hc", 1).size == 10)
    assert(before.forall(f => new java.io.File(
      new org.apache.hadoop.fs.Path(f.path).toUri.getPath).exists()))
    // retain all three states: nothing deletable
    assert(eng.cleanHudiTable("d", "hc", retainInstants = 3).isEmpty)
    // retain only the compacted state: the 10 retired slices go
    val deleted = eng.cleanHudiTable("d", "hc", retainInstants = 1)
    assert(deleted.size == 10, s"expected the 10 retired slices deleted, got $deleted")
    assert(eng.tableDF("d", "hc").agg(sum("k")).head().getLong(0) == 4950L)
  }

  test("partitioned Hudi writes land in k=v dirs and prune through the extractors") {
    import spark.implicits._
    val loc = TestSpark.scratch("hudi_wpart")
    val eng = new graft.engine.GlueTableEngine(spark, new graft.catalog.FixtureCatalog())
    val data = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("x", "part").coalesce(1)
    eng.writeHudiTable(data, "d", "hp", loc, partitionBy = Seq("part"))
    val files = eng.files("d", "hp")
    assert(files.forall(_.path.contains("part=")), s"expected k=v layout: ${files.map(_.path)}")
    assert(files.forall(_.partitionValues.get("part").nonEmpty))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = eng.query("SELECT count(*) AS n FROM glue.d.hp WHERE part = 'a'")
      assert(df.collect().head.getLong(0) == 2)
      val scans = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.head.metrics("numFiles").value == 1,
        s"partition filter must prune to 1 file, got ${scans.head.metrics("numFiles").value}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("deleteHudiWhere rewrites only footer-intersecting groups; no-op proves no commit") {
    import spark.implicits._
    val loc = TestSpark.scratch("hudi_del")
    val eng = new graft.engine.GlueTableEngine(spark, new graft.catalog.FixtureCatalog())
    eng.writeHudiTable((0L until 100L).map(i => (i, s"r$i")).toDF("k", "v").coalesce(1),
      "d", "hd", loc)
    eng.appendHudiTable((1000L until 1100L).map(i => (i, s"r$i")).toDF("k", "v").coalesce(1),
      "d", "hd")
    val before = eng.files("d", "hd").map(_.path).toSet
    assert(before.size == 2)
    // delete inside the high group only: the low group keeps its file
    val lowFile = eng.files("d", "hd").map(_.path)
      .find(p => graft.listing.FooterStats.read(
        org.apache.spark.sql.graft.Shim.classic(spark).sparkContext.hadoopConfiguration, p)
        .get("k").exists(_.max == 99L)).get
    val inst = eng.deleteHudiWhere("d", "hd", col("k") >= 1050L)
    assert(inst.nonEmpty)
    assert(eng.files("d", "hd").map(_.path).contains(lowFile),
      "footer-proven-unaffected group must keep its physical file")
    val rows = eng.tableDF("d", "hd").collect().map(_.getLong(0)).toSet
    assert(rows == ((0L until 100L) ++ (1000L until 1050L)).toSet)
    // time travel: the pre-delete instant still sees everything
    assert(eng.tableDF("d", "hd", 1).count() == 200)
    // provably-unaffected predicate: no commit at all
    val files2 = eng.files("d", "hd").map(_.path).toSet
    assert(eng.deleteHudiWhere("d", "hd", col("k") > 100000L) == "")
    assert(eng.files("d", "hd").map(_.path).toSet == files2)
    // NULL-predicate rows survive (SQL DELETE semantics)
    eng.appendHudiTable(Seq((java.lang.Long.valueOf(5000L), "x"))
      .toDF("k", "v").withColumn("k",
        org.apache.spark.sql.functions.when(col("v") === "never", col("k"))).coalesce(1),
      "d", "hd")
    eng.deleteHudiWhere("d", "hd", col("k") >= 0L)
    val left = eng.tableDF("d", "hd").collect()
    assert(left.length == 1 && left.head.isNullAt(0),
      "NULL-key row must survive a k >= 0 delete")
  }

  test("re-adding a renamed column's old name binds additively, not byPhys onto its ghost") {
    import spark.implicits._
    val loc = TestSpark.scratch("hudi_readd")
    val eng = new graft.engine.GlueTableEngine(spark, new graft.catalog.FixtureCatalog())
    eng.writeHudiTable((0L until 10L).map(i => (s"a$i", i)).toDF("a", "x").coalesce(1),
      "d", "hrd", loc)
    eng.renameHudiColumn("d", "hrd", "a", "b") // b's physical name stays 'a'
    // additive evolve append re-introducing 'a': the byPhys fallback
    // must NOT bind it onto field b (duplicate field / duplicate-
    // column write, ADVICE r13 medium) — b is already claimed byName
    eng.appendHudiTable(Seq(("b10", 10L, "fresh")).toDF("b", "x", "a").coalesce(1),
      "d", "hrd", evolve = true)
    val out = eng.tableDF("d", "hrd")
    assert(out.columns.sorted.toSeq == Seq("a", "b", "x"), s"got ${out.columns.toSeq}")
    val newRow = out.filter(col("x") === 10L).head()
    assert(newRow.getAs[String]("b") == "b10")
    assert(newRow.getAs[String]("a") == "fresh")
    val oldRow = out.filter(col("x") === 7L).head()
    assert(oldRow.getAs[String]("b") == "a7")
    assert(oldRow.isNullAt(oldRow.fieldIndex("a")),
      s"pre-append rows must not resurrect physical-'a' bytes: $oldRow")
  }
}
