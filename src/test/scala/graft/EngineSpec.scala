package graft

import graft.catalog.FixtureCatalog
import graft.engine.GlueTableEngine
import graft.fixtures.TestFixtures
import graft.model.{CacheConfig, ColumnDef, GlueTable}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PreListedFileIndex
import org.scalatest.funsuite.AnyFunSuite

/** Engine end-to-end layer — the Spark analog of the reference's
  * transformer + setup-SQL tests (reference:
  * test/sql-transformer.test.ts, test/glue-table-cache.test.ts):
  * resolution, pruning, views, identifier semantics, error surfaces.
  */
class EngineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val engine = TestFixtures.engineFor(spark, TestSpark.sfDir)

  test("hive pruning reads only matching partition files") {
    val total = engine.files("default", "lineitem_part").size
    val pruned = engine.prunedFiles("default", "lineitem_part",
      Seq(col("l_returnflag") === "A"))
    assert(pruned.nonEmpty && pruned.size < total)
    assert(pruned.forall(_.contains("l_returnflag=A")))
  }

  test("query result matches direct read (pruned)") {
    val got = engine.query(
      "SELECT count(*) AS n FROM glue.default.lineitem_part WHERE l_returnflag = 'A'")
      .collect().head.getLong(0)
    val want = spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
      .filter(col("l_returnflag") === "A").count()
    assert(got == want)
  }

  test("OR predicates prune soundly (reference's OR->AND bug fixed)") {
    val got = engine.query(
      "SELECT count(*) AS n FROM glue.default.lineitem_part " +
        "WHERE l_returnflag = 'A' OR l_returnflag = 'R'").collect().head.getLong(0)
    val want = spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
      .filter(col("l_returnflag").isin("A", "R")).count()
    assert(got == want) // reference would emit A AND R -> zero files
  }

  test("glue refs inside CTEs resolve and prune (reference test corpus: multiple CTEs)") {
    val got = engine.query(
      """WITH a AS (SELECT l_orderkey FROM glue.default.lineitem_part WHERE l_returnflag = 'A'),
        |     r AS (SELECT l_orderkey FROM glue.default.lineitem_part WHERE l_returnflag = 'R')
        |SELECT (SELECT count(*) FROM a) AS na, (SELECT count(*) FROM r) AS nr""".stripMargin)
      .collect().head
    val li = spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
    assert(got.getLong(0) == li.filter(col("l_returnflag") === "A").count())
    assert(got.getLong(1) == li.filter(col("l_returnflag") === "R").count())
  }

  test("glue ref inside a derived-table subquery resolves") {
    val n = engine.query(
      """SELECT count(*) AS n FROM (
        |  SELECT * FROM glue.default.orders_flat WHERE o_orderstatus = 'F') t""".stripMargin)
      .collect().head.getLong(0)
    val want = spark.read.parquet(s"${TestSpark.sfDir}/orders.parquet")
      .filter(col("o_orderstatus") === "F").count()
    assert(n == want)
  }

  test("case-insensitive GLUE catalog (reference src/sql-transformer.ts:71)") {
    val n = engine.query("SELECT count(*) AS n FROM GLUE.default.orders_flat")
      .collect().head.getLong(0)
    assert(n > 0)
  }

  test("2-part name defaults db (reference src/sql-transformer.ts:165-167)") {
    val n = engine.query("SELECT count(*) AS n FROM glue.orders_flat")
      .collect().head.getLong(0)
    assert(n > 0)
  }

  test("4-part name throws (reference test/sql-transformer.test.ts:150-181)") {
    val e = intercept[IllegalArgumentException](
      engine.query("SELECT * FROM glue.a.b.c"))
    assert(e.getMessage.contains("Invalid Glue table reference"))
  }

  test("missing table error surface (reference src/util/glue.ts:30)") {
    val e = intercept[NoSuchElementException](
      engine.query("SELECT * FROM glue.default.nope"))
    assert(e.getMessage == "Table default.nope not found")
  }

  test("missing location error surface (reference 'No storage location found')") {
    val cat = new FixtureCatalog().register(GlueTable("d", "noloc", None))
    val eng = new GlueTableEngine(spark, cat)
    val e = intercept[IllegalStateException](eng.files("d", "noloc"))
    assert(e.getMessage.contains("No storage location found"))
  }

  test("hyphenated names mangled in view (reference test/sql-transformer.test.ts:780-787)") {
    val cat = new FixtureCatalog().register(
      GlueTable("my-db", "my-tbl", Some(TestFixtures.flatOrders(spark, TestSpark.sfDir))))
    val eng = new GlueTableEngine(spark, cat)
    val names = eng.setupFor("SELECT * FROM glue.`my-db`.`my-tbl`")
    assert(names == Seq("GLUE__mydb_mytbl"))
    assert(spark.sql("SELECT count(*) FROM GLUE__mydb_mytbl").collect().head.getLong(0) > 0)
  }

  test("empty table behaves like the reference's SELECT NULL LIMIT 0 view") {
    assert(engine.tableDF("default", "empty_tbl").count() == 0)
  }

  test("projected (non key=value) layouts prune via listing filter") {
    val listing = engine.listingDF("default", "docs_by_lang")
    assert(listing.columns.toSeq == Seq("path", "lang"))
    val langs = listing.select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(langs.contains("fr") && langs.contains("en"))
    val pruned = engine.prunedFiles("default", "docs_by_lang", Seq(col("lang") === "fr"))
    assert(pruned.nonEmpty && pruned.forall(_.contains("/fr/")))
  }

  test("iceberg latest vs time travel file sets") {
    val latest = engine.files("default", "iceberg_lineitem").map(_.path)
    val prev = engine.files("default", "iceberg_lineitem", versionOffset = 1).map(_.path)
    assert(prev.size == 1 && latest.size == 2)
    assert(prev.toSet.subsetOf(latest.toSet))
    assert(latest.forall(p => p.endsWith(".parquet") && !p.contains("metadata")))
  }

  test("iceberg incremental read scans only the files added between snapshots") {
    val inc = engine.tableDFIncremental("default", "iceberg_lineitem", fromOffset = 1)
    // exactly the snapshot-2 delta: the odd-orderkey file
    val scanned = inc.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head.metrics("numFiles")
    inc.collect()
    assert(scanned.value == 1, s"delta scan must plan 1 added file, planned ${scanned.value}")
    val full = engine.tableDF("default", "iceberg_lineitem")
    assert(inc.count() == full.count() - engine.tableDF("default", "iceberg_lineitem", 1).count())
    assert(inc.filter(org.apache.spark.sql.functions.expr("l_orderkey % 2 = 0")).count() == 0)
    // same-snapshot diff is empty, and offsets must be ordered
    intercept[IllegalArgumentException] {
      engine.tableDFIncremental("default", "iceberg_lineitem", fromOffset = 0)
    }
  }

  test("iceberg identity partitions prune from manifest partition records") {
    val infos = engine.files("default", "iceberg_events")
    assert(infos.size == 5) // one data file per event_type
    assert(infos.forall(_.partitionValues.keySet == Set("event_type")))
    // listing-level pruning sees the manifest values
    val pruned = engine.prunedFiles("default", "iceberg_events",
      Seq(col("event_type") === "click"))
    assert(pruned.size == 1 && pruned.head.contains("data_click"))
    // the planner prunes natively through the pre-listed index too
    val df = engine.query(
      "SELECT count(*) AS n FROM glue.default.iceberg_events WHERE event_type = 'click'")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*event_type[^\\]]* = click.*"), plan.take(1500))
    val want = TestFixtures.events(spark, TestSpark.sfDir)
      .filter(col("event_type") === "click").count()
    assert(df.collect().head.getLong(0) == want)
  }

  test("avro source reads via the FileFormat with writer-schema inference") {
    val n = engine.query("SELECT count(*) AS n FROM glue.default.orders_avro")
      .collect().head.getLong(0)
    val want = spark.read.parquet(s"${TestSpark.sfDir}/orders.parquet").count()
    assert(n == want)
    // typed columns survive the avro→row conversion
    val schema = engine.tableDF("default", "orders_avro").schema
    assert(schema("o_orderkey").dataType == org.apache.spark.sql.types.LongType)
    assert(schema("o_totalprice").dataType == org.apache.spark.sql.types.DoubleType)
    // the scan plans over the pre-listed index like every other format
    assert(engine.tableDF("default", "orders_avro")
      .queryExecution.executedPlan.toString.contains("PreListedFileIndex"))
  }

  test("partitioned avro reads typed partition columns and prunes to the matching files") {
    val cat = new FixtureCatalog()
    cat.register(GlueTable("default", "avro_part",
      Some(TestFixtures.ordersAvroPartitioned(spark, TestSpark.sfDir)),
      partitionKeys = Seq(ColumnDef("st")),
      parameters = Map("classification" -> "avro")))
    val eng = new GlueTableEngine(spark, cat)
    val oracle = spark.read.parquet(s"${TestSpark.sfDir}/orders.parquet")
      .groupBy("o_orderstatus").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = eng.query(
      "SELECT st, count(*) AS n FROM glue.default.avro_part GROUP BY st")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == oracle)
    // a partition-key filter prunes the scan to that partition's file
    // (plan-shape assert on the pre-AQE sparkPlan, like the DPP test)
    val filtered = eng.query(
      "SELECT o_orderkey FROM glue.default.avro_part WHERE st = 'O'")
    val scan = filtered.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "st")))
    val survivors = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters)
      .flatMap(_.files.map(_.getPath.toString))
    assert(survivors.size == 1 && survivors.head.contains("st=O"), survivors)
    assert(filtered.count() == oracle("O"))
    // an EMPTY partitioned avro table is an empty frame, not an error
    val emptyDir = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(TestSpark.scratch("avroempty"))).toString
    cat.register(GlueTable("default", "avro_part_empty", Some(emptyDir),
      partitionKeys = Seq(ColumnDef("k")),
      parameters = Map("classification" -> "avro")))
    assert(eng.tableDF("default", "avro_part_empty").count() == 0)
  }

  test("avro: catalog column absent from the writer schema reads as null, not a throw") {
    val cat = new FixtureCatalog()
    cat.register(GlueTable("default", "avro_evolved",
      Some(TestFixtures.ordersAvro(spark, TestSpark.sfDir)),
      parameters = Map("classification" -> "avro"),
      columns = Seq(ColumnDef("o_orderkey", "bigint"), ColumnDef("o_totalprice", "double"),
        ColumnDef("o_comment", "string")))) // declared, never written
    val eng = new GlueTableEngine(spark, cat)
    val df = eng.tableDF("default", "avro_evolved")
    val rows = df.filter(col("o_comment").isNull).count()
    assert(rows == df.count() && rows > 0)
    // early-abort read path (LIMIT): the task-completion listener owns
    // the reader close, so this must neither throw nor hang
    assert(eng.query("SELECT o_orderkey FROM glue.default.avro_evolved LIMIT 1")
      .collect().length == 1)
  }

  test("a CTE literally named 'glue' is not treated as a glue ref") {
    val n = engine.query("WITH glue AS (SELECT 1 AS x) SELECT count(*) AS n FROM glue")
      .collect().head.getLong(0)
    assert(n == 1)
  }

  test("outer-qualified predicates do not prune a correlated glue scan") {
    // l2.l_returnflag refers to the OUTER relation; the inner scan of
    // lineitem_part must NOT be pruned by it
    val rows = engine.query(
      """SELECT l2.l_returnflag,
        |  (SELECT count(*) FROM glue.default.lineitem_part WHERE l2.l_returnflag = 'A') AS cnt
        |FROM (SELECT DISTINCT l_returnflag FROM glue.default.lineitem_part) l2
        |ORDER BY l2.l_returnflag""".stripMargin).collect()
    val total = spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet").count()
    rows.foreach { r =>
      val expected = if (r.getString(0) == "A") total else 0L
      assert(r.getLong(1) == expected, s"flag=${r.getString(0)}")
    }
  }

  test("nondeterministic predicates never prune the file listing") {
    // rand() is unresolved at rewrite time (reports deterministic);
    // the structural whitelist must reject it, so the scan keeps all
    // files and the retained row filter decides
    val df = engine.query(
      "SELECT count(*) AS n FROM glue.default.lineitem_part " +
        "WHERE l_returnflag = CASE WHEN rand() < 2 THEN 'A' ELSE 'R' END")
    assert(df.collect().head.getLong(0) ==
      spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
        .filter(col("l_returnflag") === "A").count())
  }

  test("projection extractors ignore numeric segments in the location prefix") {
    import graft.model._
    val meta = CachedTableMetadata(0L, TableType.GlueProjected,
      GlueTable("d", "t", Some("/data/2024/events_by_month/"),
        Seq(ColumnDef("m")), Map("projection.enabled" -> "true", "projection.m.type" -> "integer")),
      projectionPatterns = Some(Map("m" -> ProjectionPattern("integer"))))
    import spark.implicits._
    val got = Seq("/data/2024/events_by_month/3/part-0.parquet")
      .toDF("path")
      .select(graft.prune.Extractors.forKey(meta, "m")(col("path")).as("m"))
      .collect().head.getInt(0)
    assert(got == 3) // not 2024
  }

  test("underscore table names get distinct listing cache entries") {
    val cat = new FixtureCatalog()
      .register(GlueTable("a", "b_c", Some(TestFixtures.flatOrders(spark, TestSpark.sfDir))))
      .register(GlueTable("a_b", "c", Some(TestFixtures.hiveLineitem(spark, TestSpark.sfDir))))
    val eng = new GlueTableEngine(spark, cat)
    val f1 = eng.files("a", "b_c").map(_.path).toSet
    val f2 = eng.files("a_b", "c").map(_.path).toSet
    assert(f1 != f2 && f1.nonEmpty && f2.nonEmpty)
  }

  test("lister skips folder markers and metadata files (reference src/util/s3.ts:51-53)") {
    val dir = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(TestSpark.scratch("listertest"))).toFile
    def touch(name: String, content: String = "x"): Unit = {
      val f = new java.io.File(dir, name)
      java.nio.file.Files.write(f.toPath, content.getBytes)
    }
    touch("data1.parquet"); touch("data2.parquet")
    touch("marker_$folder$"); touch("_SUCCESS", ""); touch(".hidden")
    touch("empty.parquet", "") // zero-length: skipped (documented divergence)
    val lister = new graft.listing.HadoopFileLister(
      org.apache.spark.sql.graft.Shim.classic(spark).sparkContext.hadoopConfiguration)
    val files = lister.list(dir.getAbsolutePath, Nil).map(f => new java.io.File(f.path).getName)
    assert(files.sorted == Seq("data1.parquet", "data2.parquet"))
  }

  test("lister captures real file sizes and mtimes at listing time") {
    val dir = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(TestSpark.scratch("listersize"))).toFile
    val f = new java.io.File(dir, "sized.parquet")
    java.nio.file.Files.write(f.toPath, ("x" * 1234).getBytes)
    val lister = new graft.listing.HadoopFileLister(
      org.apache.spark.sql.graft.Shim.classic(spark).sparkContext.hadoopConfiguration)
    val listed = lister.list(dir.getAbsolutePath, Nil)
    assert(listed.size == 1)
    assert(listed.head.size == 1234L)
    assert(listed.head.modTime == f.lastModified())
  }

  test("iceberg manifest sizes flow into the listing (file_size_in_bytes)") {
    val infos = engine.files("default", "iceberg_lineitem")
    assert(infos.nonEmpty)
    infos.foreach { f =>
      val onDisk = new java.io.File(f.path).length()
      assert(f.size == onDisk && f.size > 0, s"${f.path}: listed ${f.size}, on disk $onDisk")
    }
  }

  test("manifest without file_size_in_bytes falls back to a filesystem stat") {
    import org.apache.avro.{Schema, SchemaBuilder}
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val root = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(TestSpark.scratch("iceoldmanifest"))).toFile
    new java.io.File(root, "metadata").mkdirs()
    val data = new java.io.File(root, "part-0.parquet")
    java.nio.file.Files.write(data.toPath, ("y" * 777).getBytes)

    def writeAvro(path: String, schema: Schema, rows: Seq[GenericRecord]): Unit = {
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, new java.io.File(path)); try rows.foreach(w.append) finally w.close()
    }
    // pre-size manifest schema: data_file carries file_path only
    val dfSchema = SchemaBuilder.record("r2").fields().requiredString("file_path").endRecord()
    val entrySchema = SchemaBuilder.record("manifest_entry").fields()
      .name("data_file").`type`(dfSchema).noDefault().endRecord()
    val mlSchema = SchemaBuilder.record("manifest_file").fields()
      .requiredString("manifest_path").endRecord()
    val df = new GenericData.Record(dfSchema); df.put("file_path", data.getAbsolutePath)
    val entry = new GenericData.Record(entrySchema); entry.put("data_file", df)
    writeAvro(s"$root/metadata/manifest.avro", entrySchema, Seq(entry))
    val ml = new GenericData.Record(mlSchema); ml.put("manifest_path", s"$root/metadata/manifest.avro")
    writeAvro(s"$root/metadata/ml.avro", mlSchema, Seq(ml))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/metadata/v1.metadata.json"),
      s"""{"last-sequence-number": 1, "snapshots": [{"snapshot-id": 1, "manifest-list": "$root/metadata/ml.avro"}]}"""
        .getBytes)

    val resolver = new graft.listing.IcebergSnapshotResolver(
      org.apache.spark.sql.graft.Shim.classic(spark).sparkContext.hadoopConfiguration)
    val files = resolver.dataFilesWithSize(root.getAbsolutePath)
    assert(files == Seq((data.getAbsolutePath, 777L)))
  }

  test("DELETED manifest entries (status=2) do not resurrect removed files") {
    import org.apache.avro.SchemaBuilder
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val root = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(TestSpark.scratch("icedeleted"))).toFile
    new java.io.File(root, "metadata").mkdirs()
    val kept = new java.io.File(root, "kept.parquet")
    val gone = new java.io.File(root, "gone.parquet")
    java.nio.file.Files.write(kept.toPath, "k".getBytes)
    java.nio.file.Files.write(gone.toPath, "g".getBytes)
    def writeAvro(path: String, schema: org.apache.avro.Schema, rows: Seq[GenericRecord]): Unit = {
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, new java.io.File(path)); try rows.foreach(w.append) finally w.close()
    }
    val dfSchema = SchemaBuilder.record("r2").fields()
      .requiredString("file_path").requiredLong("file_size_in_bytes").endRecord()
    val entrySchema = SchemaBuilder.record("manifest_entry").fields()
      .requiredInt("status")
      .name("data_file").`type`(dfSchema).noDefault().endRecord()
    val mlSchema = SchemaBuilder.record("manifest_file").fields()
      .requiredString("manifest_path").endRecord()
    def entry(f: java.io.File, status: Int): GenericRecord = {
      val df = new GenericData.Record(dfSchema)
      df.put("file_path", f.getAbsolutePath); df.put("file_size_in_bytes", f.length())
      val e = new GenericData.Record(entrySchema)
      e.put("status", status); e.put("data_file", df)
      e
    }
    // a rewrite snapshot: keeps one file (EXISTING), deletes the other
    writeAvro(s"$root/metadata/manifest.avro", entrySchema,
      Seq(entry(kept, 0), entry(gone, 2)))
    val ml = new GenericData.Record(mlSchema)
    ml.put("manifest_path", s"$root/metadata/manifest.avro")
    writeAvro(s"$root/metadata/ml.avro", mlSchema, Seq(ml))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/metadata/v1.metadata.json"),
      s"""{"last-sequence-number": 1, "snapshots": [{"snapshot-id": 1, "manifest-list": "$root/metadata/ml.avro"}]}"""
        .getBytes)
    val resolver = new graft.listing.IcebergSnapshotResolver(
      org.apache.spark.sql.graft.Shim.classic(spark).sparkContext.hadoopConfiguration)
    assert(resolver.dataFiles(root.getAbsolutePath) == Seq(kept.getAbsolutePath),
      "status=2 entry must be excluded, status=0 kept")
  }

  test("incremental read over a range containing a DELETE snapshot never resurfaces deleted files") {
    import org.apache.avro.SchemaBuilder
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import spark.implicits._
    val root = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(TestSpark.scratch("iceincdel"))).toFile
    new java.io.File(root, "metadata").mkdirs()
    // three REAL one-row parquet data files (the incremental scan plans them)
    def dataFile(sub: String, v: Long): String = {
      Seq(v).toDF("x").coalesce(1).write.mode("overwrite").parquet(s"$root/$sub")
      new java.io.File(s"$root/$sub").listFiles()
        .find(_.getName.endsWith(".parquet")).get.getAbsolutePath
    }
    val f1 = dataFile("d1", 1L)
    val f2 = dataFile("d2", 2L)
    val f3 = dataFile("d3", 3L)
    def writeAvro(path: String, schema: org.apache.avro.Schema, rows: Seq[GenericRecord]): Unit = {
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, new java.io.File(path)); try rows.foreach(w.append) finally w.close()
    }
    val dfSchema = SchemaBuilder.record("r2").fields()
      .requiredString("file_path").requiredLong("file_size_in_bytes").endRecord()
    val entrySchema = SchemaBuilder.record("manifest_entry").fields()
      .requiredInt("status")
      .name("data_file").`type`(dfSchema).noDefault().endRecord()
    val mlSchema = SchemaBuilder.record("manifest_file").fields()
      .requiredString("manifest_path").endRecord()
    def entry(path: String, status: Int): GenericRecord = {
      val df = new GenericData.Record(dfSchema)
      df.put("file_path", path); df.put("file_size_in_bytes", new java.io.File(path).length())
      val e = new GenericData.Record(entrySchema)
      e.put("status", status); e.put("data_file", df)
      e
    }
    // S1 appends f1+f2; S2 is a DELETE snapshot removing f1; S3 appends f3
    writeAvro(s"$root/metadata/m1.avro", entrySchema, Seq(entry(f1, 1), entry(f2, 1)))
    writeAvro(s"$root/metadata/m2.avro", entrySchema, Seq(entry(f1, 2), entry(f2, 0)))
    writeAvro(s"$root/metadata/m3.avro", entrySchema, Seq(entry(f2, 0), entry(f3, 1)))
    def ml(n: Int): String = {
      val r = new GenericData.Record(mlSchema)
      r.put("manifest_path", s"$root/metadata/m$n.avro")
      writeAvro(s"$root/metadata/ml$n.avro", mlSchema, Seq(r))
      s"$root/metadata/ml$n.avro"
    }
    // one metadata JSON per version (the engine time-travels across
    // metadata files ordered by last-sequence-number, reading each
    // file's LAST snapshot)
    val mls = (1 to 3).map(ml)
    (1 to 3).foreach { v =>
      val snaps = (1 to v).map(n => s"""{"snapshot-id": $n, "manifest-list": "${mls(n - 1)}"}""")
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/metadata/v$v.metadata.json"),
        s"""{"last-sequence-number": $v, "snapshots": [${snaps.mkString(", ")}]}""".getBytes)
    }

    val cat = new FixtureCatalog().register(GlueTable("default", "ice_del",
      Some(root.getAbsolutePath), parameters = Map("table_type" -> "ICEBERG")))
    val eng = new GlueTableEngine(spark, cat)
    // whole range S1 -> S3: delta must be exactly f3 — f1 was deleted
    // mid-range and must NOT resurface even though it is "new relative
    // to S1's live set minus itself" under a buggy diff
    val inc = eng.tableDFIncremental("default", "ice_del", fromOffset = 2, toOffset = 0)
    assert(inc.collect().map(_.getLong(0)).toSeq == Seq(3L),
      "S1->S3 delta must contain only f3's rows")
    // delete-only window S1 -> S2 adds nothing
    assert(eng.tableDFIncremental("default", "ice_del", 2, 1).count() == 0)
    // S2 -> S3 is the plain append delta
    assert(eng.tableDFIncremental("default", "ice_del", 1, 0)
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("iceberg v2 merge-on-read subtracts position and equality deletes at scan time") {
    import org.apache.spark.sql.expressions.Window
    val li = spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
    val expected = li
      .withColumn("pos", row_number().over(
        Window.orderBy("l_orderkey", "l_linenumber")) - 1)
      .filter(col("pos") >= 10 && col("l_returnflag") =!= "A")
      .count()
    val mor = engine.tableDF("default", "iceberg_lineitem_mor")
    assert(mor.count() == expected,
      s"MOR scan must drop the 10 position-deleted rows and every 'A' row")
    assert(mor.filter(col("l_returnflag") === "A").count() == 0)
    // none of the first 10 rows of the sort order (the
    // position-deleted set) survives, whatever its return flag
    val firstTen = li.orderBy("l_orderkey", "l_linenumber").limit(10)
      .select("l_orderkey", "l_linenumber").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val survivors = mor.select("l_orderkey", "l_linenumber").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(firstTen.intersect(survivors).isEmpty,
      s"position-deleted rows resurfaced: ${firstTen.intersect(survivors)}")
  }

  test("manifest with a mistyped file_size_in_bytes fails fast") {
    import org.apache.avro.SchemaBuilder
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val root = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(TestSpark.scratch("icebadmanifest"))).toFile
    new java.io.File(root, "metadata").mkdirs()
    // size field present but string-typed: a malformed manifest
    val dfSchema = SchemaBuilder.record("r2").fields()
      .requiredString("file_path").requiredString("file_size_in_bytes").endRecord()
    val entrySchema = SchemaBuilder.record("manifest_entry").fields()
      .name("data_file").`type`(dfSchema).noDefault().endRecord()
    val mlSchema = SchemaBuilder.record("manifest_file").fields()
      .requiredString("manifest_path").endRecord()
    val df = new GenericData.Record(dfSchema)
    df.put("file_path", "/nope.parquet"); df.put("file_size_in_bytes", "big")
    val entry = new GenericData.Record(entrySchema); entry.put("data_file", df)
    def writeAvro(path: String, schema: org.apache.avro.Schema, rows: Seq[GenericRecord]): Unit = {
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, new java.io.File(path)); try rows.foreach(w.append) finally w.close()
    }
    writeAvro(s"$root/metadata/manifest.avro", entrySchema, Seq(entry))
    val ml = new GenericData.Record(mlSchema); ml.put("manifest_path", s"$root/metadata/manifest.avro")
    writeAvro(s"$root/metadata/ml.avro", mlSchema, Seq(ml))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/metadata/v1.metadata.json"),
      s"""{"last-sequence-number": 1, "snapshots": [{"snapshot-id": 1, "manifest-list": "$root/metadata/ml.avro"}]}"""
        .getBytes)
    val resolver = new graft.listing.IcebergSnapshotResolver(
      org.apache.spark.sql.graft.Shim.classic(spark).sparkContext.hadoopConfiguration)
    val e = intercept[IllegalStateException](resolver.dataFilesWithSize(root.getAbsolutePath))
    assert(e.getMessage.contains("file_size_in_bytes"))
  }

  test("iceberg date-identity partitions decode per logical type and prune correctly") {
    // manifest stores d as Avro int days-since-epoch (logical `date`);
    // the listing must carry ISO strings, not "19723"
    val infos = engine.files("default", "iceberg_orders_m")
    assert(infos.size == 3)
    infos.foreach { f =>
      val d = f.partitionValues("d")
      assert(d.matches("\\d{4}-\\d{2}-\\d{2}"), s"undecoded partition value: $d")
    }
    val first = infos.map(_.partitionValues("d")).min
    val df = engine.query(
      s"SELECT count(*) AS n FROM glue.default.iceberg_orders_m WHERE d = DATE '$first'")
    val want = spark.read.parquet(s"${TestSpark.sfDir}/orders.parquet")
      .filter(date_trunc("month", col("o_orderdate")).cast("date") === lit(first)).count()
    assert(want > 0 && df.collect().head.getLong(0) == want)
  }

  test("manifest partition logical types decode; undecodable types fail fast") {
    import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    def writeAvro(path: String, schema: Schema, rows: Seq[GenericRecord]): Unit = {
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, new java.io.File(path)); try rows.foreach(w.append) finally w.close()
    }
    val mlSchema = SchemaBuilder.record("manifest_file").fields()
      .requiredString("manifest_path").endRecord()
    def layout(partSchema: Schema, fill: GenericData.Record => Unit): String = {
      val root = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(TestSpark.scratch("icelogical"))).toFile
      new java.io.File(root, "metadata").mkdirs()
      val dfSchema = SchemaBuilder.record("r2").fields()
        .requiredString("file_path").requiredLong("file_size_in_bytes")
        .name("partition").`type`(partSchema).noDefault().endRecord()
      val entrySchema = SchemaBuilder.record("manifest_entry").fields()
        .name("data_file").`type`(dfSchema).noDefault().endRecord()
      val p = new GenericData.Record(partSchema); fill(p)
      val df = new GenericData.Record(dfSchema)
      df.put("file_path", "/x.parquet"); df.put("file_size_in_bytes", 1L); df.put("partition", p)
      val entry = new GenericData.Record(entrySchema); entry.put("data_file", df)
      writeAvro(s"$root/metadata/manifest.avro", entrySchema, Seq(entry))
      val ml = new GenericData.Record(mlSchema)
      ml.put("manifest_path", s"$root/metadata/manifest.avro")
      writeAvro(s"$root/metadata/ml.avro", mlSchema, Seq(ml))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/metadata/v1.metadata.json"),
        s"""{"last-sequence-number": 1, "snapshots": [{"snapshot-id": 1, "manifest-list": "$root/metadata/ml.avro"}]}"""
          .getBytes)
      root.getAbsolutePath
    }
    val resolver = new graft.listing.IcebergSnapshotResolver(
      org.apache.spark.sql.graft.Shim.classic(spark).sparkContext.hadoopConfiguration)
    // date + timestamp-micros + decimal, all in their spec physical forms
    val okPart = SchemaBuilder.record("partition").fields()
      .name("d").`type`(LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))).noDefault()
      .name("ts").`type`(LogicalTypes.timestampMicros().addToSchema(Schema.create(Schema.Type.LONG))).noDefault()
      .name("price").`type`(LogicalTypes.decimal(10, 2).addToSchema(Schema.create(Schema.Type.BYTES))).noDefault()
      .endRecord()
    val ok = layout(okPart, { p =>
      p.put("d", java.lang.Integer.valueOf(19723)) // 2024-01-01
      p.put("ts", java.lang.Long.valueOf(1704067200123456L))
      p.put("price", java.nio.ByteBuffer.wrap(java.math.BigDecimal.valueOf(1234, 2).unscaledValue().toByteArray))
    })
    val pv = resolver.dataFilesDetailed(ok).head.partition
    assert(pv("d") == "2024-01-01", pv)
    assert(pv("ts") == "2024-01-01 00:00:00.123456", pv)
    assert(pv("price") == "12.34", pv)
    // a partition field the engine cannot render castably fails loudly
    val badPart = SchemaBuilder.record("partition").fields()
      .name("blob").`type`(Schema.create(Schema.Type.BYTES)).noDefault().endRecord()
    val bad = layout(badPart, _.put("blob", java.nio.ByteBuffer.wrap(Array[Byte](1, 2))))
    val e = intercept[IllegalStateException](resolver.dataFilesDetailed(bad))
    assert(e.getMessage.contains("blob"), e.getMessage)
  }

  test("compactTable collapses small files, preserves rows and pruning") {
    // fragment first: 8 shuffle partitions × partition dirs ≈ dozens
    // of small files, the streaming-ingest pathology compaction fixes
    val li = spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    engine.writeTable(li.repartition(8), "default", "li_frag",
      TestSpark.scratch("li_frag"), Seq("l_returnflag"))
    val before = engine.files("default", "li_frag")
    val compacted = engine.compactTable("default", "li_frag",
      "li_frag_compacted", TestSpark.scratch("li_frag_compacted"),
      targetFileBytes = 1L << 30) // one fat target → minimal file count
    assert(compacted.partitionKeys.map(_.name) == Seq("l_returnflag"))
    val after = engine.files("default", "li_frag_compacted")
    assert(after.size < before.size, s"${after.size} !< ${before.size}")
    // same rows, and the compacted table prunes like the original
    val a = engine.query(
      "SELECT count(*) AS n FROM glue.default.li_frag_compacted WHERE l_returnflag = 'A'")
      .collect().head.getLong(0)
    assert(a == li.filter(col("l_returnflag") === "A").count())
    assert(engine.tableDF("default", "li_frag_compacted").count() == li.count())
  }

  test("_metadata columns serve size/path from the listing (no re-stat)") {
    val meta = engine.tableDF("default", "orders_flat")
      .select(col("_metadata.file_path").as("p"), col("_metadata.file_size").as("sz"))
      .distinct().collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val listed = engine.files("default", "orders_flat")
    assert(listed.nonEmpty && meta.size == listed.size)
    listed.foreach { f =>
      val key = meta.keys.find(_.endsWith(new java.io.File(f.path).getName))
      assert(key.isDefined, s"missing _metadata row for ${f.path}")
      assert(meta(key.get) == f.size)
    }
  }

  test("query plans scan through PreListedFileIndex with native partition filters") {
    val df = engine.query(
      "SELECT count(*) AS n FROM glue.default.lineitem_part WHERE l_returnflag = 'A'")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PreListedFileIndex"))
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*l_returnflag[^\\]]* = A.*"))
    assert(df.collect().head.getLong(0) > 0)
  }

  test("integer-projection extractor yields typed partition column") {
    val listing = engine.listingDF("default", "events_by_month")
    assert(listing.schema("m").dataType == org.apache.spark.sql.types.IntegerType)
    val months = listing.select("m").distinct().collect().map(_.getInt(0)).toSet
    assert(months.forall(m => m >= 1 && m <= 12))
  }

  test("writeTable sink: written table is immediately queryable and pruned") {
    import org.apache.spark.sql.functions._
    val agg = spark.read.parquet(s"${TestSpark.sfDir}/orders.parquet")
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    val loc = TestSpark.scratch("orders_agg_sink")
    engine.writeTable(agg, "default", "orders_agg", loc, partitionBy = Seq("o_orderstatus"))
    val got = engine.query(
      "SELECT n FROM glue.default.orders_agg WHERE o_orderstatus = 'F'")
      .collect().head.getLong(0)
    val want = spark.read.parquet(s"${TestSpark.sfDir}/orders.parquet")
      .filter(col("o_orderstatus") === "F").count()
    assert(got == want)
    val pruned = engine.prunedFiles("default", "orders_agg",
      Seq(col("o_orderstatus") === "F"))
    assert(pruned.nonEmpty && pruned.forall(_.contains("o_orderstatus=F")))
  }

  test("declared catalog schema reconciles heterogeneous parquet files (schema evolution)") {
    import spark.implicits._
    // ingest evolves: old files lack column c, new files carry it; the
    // catalog declares the superset — reads must reconcile per file
    // (old rows read c as null) instead of failing or silently picking
    // one footer's shape
    val loc = TestSpark.scratch("evolve_tbl")
    Seq((1L, "old")).toDF("a", "b")
      .write.mode("overwrite").parquet(s"$loc/batch1")
    Seq((2L, "new", 2.5)).toDF("a", "b", "c")
      .write.mode("overwrite").parquet(s"$loc/batch2")
    val cat = new FixtureCatalog()
    cat.register(GlueTable("default", "evolve", Some(loc),
      columns = Seq(ColumnDef("a", "bigint"), ColumnDef("b", "string"),
        ColumnDef("c", "double"))))
    val eng = new GlueTableEngine(spark, cat)
    val rows = eng.tableDF("default", "evolve")
      .orderBy("a").collect()
    assert(rows.length == 2)
    assert(rows(0).getLong(0) == 1L && rows(0).isNullAt(2)) // pre-evolution file: c absent → null
    assert(rows(1).getLong(0) == 2L && rows(1).getDouble(2) == 2.5)
  }

  test("out-of-root catalog partition locations are listed, tagged, and pruned") {
    import spark.implicits._
    // Glue allows a partition's location to live outside the table
    // root; the reference lists only the root and silently misses such
    // partitions (reference: src/util/s3.ts:34-58).
    val rootLoc = TestSpark.scratch("oor_root")
    val extLoc = TestSpark.scratch("oor_external")
    Seq((1, "x")).toDF("v", "w").withColumn("k", lit("a"))
      .write.mode("overwrite").partitionBy("k").parquet(rootLoc)
    // external partition: bare parquet files, no key=value path segment
    Seq((10, "y"), (11, "z")).toDF("v", "w")
      .write.mode("overwrite").parquet(extLoc)
    val cat = new FixtureCatalog()
    cat.register(
      GlueTable("default", "oor", Some(rootLoc), partitionKeys = Seq(ColumnDef("k"))),
      parts = Seq(
        graft.model.PartitionInfo(Seq("a"), Some(s"$rootLoc/k=a")),
        graft.model.PartitionInfo(Seq("b"), Some(extLoc))))
    val eng = new GlueTableEngine(spark, cat)

    // listing sees the external partition, values tagged from the catalog
    val listing = eng.listingDF("default", "oor")
    assert(listing.filter(col("k") === "b").count() > 0)

    // pruning to the external partition keeps only its files
    val pb = eng.prunedFiles("default", "oor", Seq(col("k") === "b"))
    assert(pb.nonEmpty && pb.forall(_.contains("oor_external")))

    // end-to-end: external rows appear (pruned and unpruned), root-only
    // pruning still takes the plain basePath path
    assert(eng.query("SELECT sum(v) AS s FROM glue.default.oor WHERE k = 'b'")
      .collect().head.getLong(0) == 21)
    assert(eng.query("SELECT sum(v) AS s FROM glue.default.oor")
      .collect().head.getLong(0) == 22)
    assert(eng.query("SELECT sum(v) AS s FROM glue.default.oor WHERE k = 'a'")
      .collect().head.getLong(0) == 1)
  }

  test("escaped and null partition values prune correctly (Hive %XX dirs)") {
    import spark.implicits._
    // Spark escapes '=', ':', '%', … when writing key=value dirs and
    // writes nulls as __HIVE_DEFAULT_PARTITION__; the listing must
    // unescape before comparing with user literals.
    val df = Seq(
      ("a=b", 1), ("a=b", 2), ("c:d", 3), ("plain", 4), (null: String, 5)
    ).toDF("k", "v")
    val loc = TestSpark.scratch("escaped_parts")
    engine.writeTable(df, "default", "escaped_parts", loc, partitionBy = Seq("k"))

    val listing = engine.listingDF("default", "escaped_parts")
    val vals = listing.select("k").distinct().collect().map(_.getString(0)).toSet
    assert(vals == Set("a=b", "c:d", "plain", null))

    // single escaped value
    val p1 = engine.prunedFiles("default", "escaped_parts", Seq(col("k") === "a=b"))
    assert(p1.nonEmpty && p1.forall(_.contains("k=a%3Db")))
    // disjunction mixing an escaped and an unescaped value must keep BOTH
    val p2 = engine.prunedFiles("default", "escaped_parts",
      Seq(col("k") === "a=b" || col("k") === "plain"))
    assert(p2.exists(_.contains("k=a%3Db")) && p2.exists(_.contains("k=plain")))
    // IS NULL OR value: default-partition dir must survive the prune
    val p3 = engine.prunedFiles("default", "escaped_parts",
      Seq(col("k").isNull || col("k") === "c:d"))
    assert(p3.exists(_.contains("__HIVE_DEFAULT_PARTITION__")) &&
      p3.exists(_.contains("k=c%3Ad")))

    // end-to-end through the SQL path: rows behind escaped dirs survive
    val got = engine.query(
      "SELECT sum(v) AS s FROM glue.default.escaped_parts " +
        "WHERE k = 'a=b' OR k = 'plain'").collect().head.getLong(0)
    assert(got == 1 + 2 + 4)
    val gotNull = engine.query(
      "SELECT sum(v) AS s FROM glue.default.escaped_parts " +
        "WHERE k IS NULL OR k = 'c:d'").collect().head.getLong(0)
    assert(gotNull == 3 + 5)
  }

  test("table-qualified columns resolve after rewrite (unaliased relation)") {
    val rows = engine.query(
      """SELECT lineitem_part.l_quantity FROM glue.default.lineitem_part
        |WHERE lineitem_part.l_returnflag = 'A'
        |ORDER BY lineitem_part.l_quantity LIMIT 3""".stripMargin).collect()
    assert(rows.length == 3)
    val qualified = engine.query(
      "SELECT count(*) AS n FROM glue.default.lineitem_part " +
        "WHERE glue.default.lineitem_part.l_returnflag = 'A'")
      .collect().head.getLong(0)
    assert(qualified ==
      spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
        .filter(col("l_returnflag") === "A").count())
  }

  test("CSV declared schema is validated against file headers; partitioned CSV works") {
    import spark.implicits._
    // partitioned CSV with declared data columns: partition column is
    // appended by discovery, not part of the declared schema
    val loc = TestSpark.scratch("csv_part")
    Seq((1L, "x", "F"), (2L, "y", "O"), (3L, "z", "F"))
      .toDF("k", "name", "st")
      .write.mode("overwrite").partitionBy("st").option("header", "true").csv(loc)
    val cat = new FixtureCatalog()
    cat.register(GlueTable("default", "csv_part", Some(loc),
      partitionKeys = Seq(ColumnDef("st")),
      parameters = Map("classification" -> "csv"),
      columns = Seq(ColumnDef("k", "bigint"), ColumnDef("name", "string"))))
    // declared columns in the WRONG order: must fail loudly, not
    // silently bind by position
    cat.register(GlueTable("default", "csv_bad", Some(loc),
      parameters = Map("classification" -> "csv"),
      columns = Seq(ColumnDef("name", "string"), ColumnDef("k", "bigint"))))
    val eng = new GlueTableEngine(spark, cat)

    val got = eng.query("SELECT sum(k) AS s FROM glue.default.csv_part WHERE st = 'F'")
      .collect().head.getLong(0)
    assert(got == 4)

    val e = intercept[Exception] {
      eng.query("SELECT * FROM glue.default.csv_bad").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(m => m.contains("CSV header does not conform") || m.contains("header")),
      s"unexpected error: $e")
  }

  test("rewrittenSql replaces glue refs with view names (reference textual surface)") {
    val sql = """SELECT l.l_returnflag, count(*) AS n
                |FROM glue.default.lineitem_part l
                |JOIN glue.orders_flat o ON l.l_orderkey = o.o_orderkey
                |WHERE o.o_orderstatus = 'F'
                |GROUP BY l.l_returnflag""".stripMargin
    val rewritten = engine.rewrittenSql(sql)
    assert(rewritten ==
      """SELECT l.l_returnflag, count(*) AS n
        |FROM GLUE__default_lineitem_part l
        |JOIN GLUE__default_orders_flat o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderstatus = 'F'
        |GROUP BY l.l_returnflag""".stripMargin)
    // executable: setupFor registers the views, the rewritten text runs
    engine.setupFor(sql)
    val viaText = spark.sql(rewritten).collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val viaPlan = engine.query(sql).collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(viaText == viaPlan)
    // glue x glue through the plan equals the join of direct reads
    val li = spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
    val o = spark.read.parquet(s"${TestSpark.sfDir}/orders.parquet")
    val direct = li.join(o.filter(col("o_orderstatus") === "F"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(viaPlan.nonEmpty && viaPlan == direct)
    // the one-call combined artifact (reference convertGlueTableQuery)
    val converted = engine.convertGlueTableQuery(sql)
    assert(converted.sql == rewritten)
    assert(converted.setupViews.toSet ==
      Set("GLUE__default_lineitem_part", "GLUE__default_orders_flat"))
    assert(converted.toString.startsWith("-- registered temp view: GLUE__default_"))
    val viaConverted = spark.sql(converted.sql)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(viaConverted == viaPlan)
  }

  test("rewrittenSql is identifier-bounded: a prefix table name never clobbers a longer one") {
    val sql = "SELECT * FROM `glue`.`default`.`orders_flat` o " +
      "JOIN glue.default.orders x ON o.o_orderkey = x.o_orderkey"
    val rw = engine.rewrittenSql(sql)
    assert(rw == "SELECT * FROM GLUE__default_orders_flat o " +
      "JOIN GLUE__default_orders x ON o.o_orderkey = x.o_orderkey", rw)
  }

  test("files variable survives quotes in paths in every literal mode") {
    val dir = new java.io.File(TestSpark.scratch("quote'dir"))
    dir.mkdirs()
    import spark.implicits._
    Seq((1, "x")).toDF("id", "s").write.mode("overwrite").parquet(dir.getAbsolutePath)
    val cat = new FixtureCatalog().register(
      GlueTable("d", "qt", Some(dir.getAbsolutePath)))
    val eng = new GlueTableEngine(spark, cat)
    for (mode <- Seq("false", "true")) {
      spark.conf.set("spark.sql.parser.escapedStringLiterals", mode)
      try {
        val v = eng.setFilesVariable("d", "qt")
        val n = spark.sql(s"SELECT size($v) AS n").collect().head.getInt(0)
        assert(n >= 1, s"mode=$mode")
      } finally spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")
    }
  }

  test("proxy address rewrites s3 paths (reference src/glue-table-cache.ts:54-65)") {
    val cat = new FixtureCatalog().register(
      GlueTable("d", "t", Some("s3://bucket/prefix/"),
        partitionKeys = Seq(ColumnDef("k")), columns = Seq(ColumnDef("x", "bigint"))))
    // Planning only: no s3 filesystem exists here, so touching any
    // listed file would fail the query.
    val lister = new graft.listing.FileLister {
      override def list(location: String, keys: Seq[String]): Seq[graft.model.S3FileInfo] =
        Seq("a", "b").map(v => graft.model.S3FileInfo(s"s3://bucket/prefix/k=$v/part-0.parquet",
          Map("k" -> v), size = 100L, modTime = 1L, bounds = Map.empty, rowCount = None))
    }
    val eng = new GlueTableEngine(spark, cat,
      CacheConfig(proxyAddress = Some("http://proxy:8080/"), footerStatsMaxFiles = 0),
      listerOverride = Some(lister))
    // every query read goes through the proxy, filtered or not
    for ((where, n) <- Seq("" -> 2, " WHERE k = 'a'" -> 1)) {
      val files = eng.query(s"SELECT sum(x) FROM glue.d.t$where").inputFiles
      assert(files.length == n && files.forall(_.startsWith("http://proxy:8080/bucket/prefix/")),
        s"query '$where': ${files.mkString(", ")}")
    }
  }

  test("a partition slice plans with the slice's statistics, so it can be a broadcast side") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val all = engine.files("default", "lineitem_part")
    val slice = all.filter(_.partitionValues.get("l_returnflag").contains("A"))
    val sliceBytes = slice.map(_.size).sum
    assert(slice.nonEmpty && 2 * sliceBytes < all.map(_.size).sum)
    // planning narrows the relation itself: its size and input files
    // are the slice's, not the whole listing's
    val one = engine.query(
      "SELECT count(*) AS n FROM glue.default.lineitem_part WHERE l_returnflag = 'A'")
    val rels = one.queryExecution.optimizedPlan.collect { case r: LogicalRelation => r }
    assert(rels.map(_.stats.sizeInBytes) == Seq(BigInt(sliceBytes)))
    assert(one.inputFiles.toSeq.sorted ==
      slice.map(f => new org.apache.hadoop.fs.Path(f.path).toString).sorted)
    // joined with the whole table, the slice is the far smaller side
    // and broadcasts under a threshold the whole table exceeds
    val sql =
      """SELECT count(*) AS n FROM glue.default.lineitem_part a
        |JOIN glue.default.lineitem_part b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = b.l_linenumber
        |WHERE a.l_returnflag = 'A'""".stripMargin
    val Seq(join) = engine.query(sql).queryExecution.optimizedPlan.collect { case j: Join => j }
    val sides = Seq(join.left, join.right).map(_.stats.sizeInBytes).sorted
    assert(2 * sides(0) < sides(1), s"join side sizes $sides")
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", ((sides(0) + sides(1)) / 2).toString)
    try {
      val df = engine.query(sql)
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case b: BroadcastHashJoinExec => b }.nonEmpty, plan.toString)
      val li = spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
      val want = li.filter(col("l_returnflag") === "A").as("a")
        .join(li.as("b"), Seq("l_orderkey", "l_linenumber")).count()
      assert(df.collect().head.getLong(0) == want)
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("warm planning runs no Spark action, and the scan still prunes to the listing's files") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
    import org.apache.spark.sql.util.QueryExecutionListener
    // QueryExecutionListener events that `body` fires. The listener
    // queue is asynchronous; a marker action after `body` drains it,
    // since its event is delivered after every earlier one.
    def actionsDuring(body: => Unit): Int = {
      val seen = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
      val listener = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
      }
      spark.listenerManager.register(listener)
      try {
        body
        val marker = spark.range(1)
        marker.collect()
        Iterator.continually(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
          .takeWhile { qe =>
            assert(qe != null, "the marker action's event never arrived")
            qe ne marker.queryExecution
          }.size
      } finally spark.listenerManager.unregister(listener)
    }
    val cases = Seq(
      ("lineitem_part", "l_returnflag", "A"), // Hive
      ("docs_by_lang", "lang", "fr"),         // enum projection
      ("iceberg_events", "event_type", "click"), // Iceberg identity spec
      ("delta_events", "event_type", "click"))   // Delta partitioned
    for ((tbl, key, v) <- cases) {
      val sql = s"SELECT count(*) AS n FROM glue.default.$tbl WHERE $key = '$v'"
      engine.query(sql).queryExecution.executedPlan // warm the caches
      val actions = actionsDuring(engine.query(sql).queryExecution.executedPlan)
      assert(actions == 0, s"$tbl: warm planning ran $actions Spark action(s)")
      val kept = engine.prunedFiles("default", tbl, Seq(col(key) === v))
      assert(kept.nonEmpty && kept.size < engine.files("default", tbl).size, tbl)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val df = engine.query(sql)
        df.collect()
        val scanned = df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
          .head.metrics("numFiles").value
        assert(scanned == kept.size, s"$tbl: scan read $scanned files, listing keeps ${kept.size}")
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  // -------- the two caches: metadata per table, snapshot per table version

  test("a repeated tableMetadata does not refetch; invalidateTable refetches once") {
    val cat = new FixtureCatalog().register(
      GlueTable("d", "o", Some(TestFixtures.flatOrders(spark, TestSpark.sfDir))))
    val eng = new GlueTableEngine(spark, cat)
    eng.tableMetadata("d", "o")
    val f0 = cat.fetchCount.get()
    eng.tableMetadata("d", "o"); eng.tableMetadata("d", "o")
    assert(cat.fetchCount.get() == f0)
    eng.invalidateTable("d", "o")
    eng.tableMetadata("d", "o"); eng.tableMetadata("d", "o")
    assert(cat.fetchCount.get() == f0 + 1)
  }

  test("clearCache drops every cached product: metadata, listing, and derived reads") {
    import spark.implicits._
    val loc = TestSpark.scratch("clear_cache")
    (0 until 10).toDF("x").coalesce(1).write.parquet(loc)
    val cat = new FixtureCatalog().register(GlueTable("d", "t", Some(loc)))
    val eng = new GlueTableEngine(spark, cat)
    assert(eng.tableDF("d", "t").count() == 10 && eng.countRows("d", "t") == 10)
    val f0 = cat.fetchCount.get()
    // a file added behind the engine's back stays invisible until the caches drop
    (10 until 15).toDF("x").coalesce(1).write.mode("append").parquet(loc)
    assert(eng.files("d", "t").size == 1 && eng.tableDF("d", "t").count() == 10)
    eng.clearCache()
    assert(eng.files("d", "t").size == 2)
    assert(cat.fetchCount.get() == f0 + 1)
    assert(eng.tableDF("d", "t").count() == 15 && eng.countRows("d", "t") == 15)
  }

  test("clearCache drops deletion vectors: another writer's MOR delete reads after it") {
    import spark.implicits._
    val cat = new FixtureCatalog()
    val writer = new GlueTableEngine(spark, cat)
    val reader = new GlueTableEngine(spark, cat)
    writer.writeDeltaTable((0L until 50L).toDF("x").coalesce(1), "d", "dv",
      TestSpark.scratch("clear_dv"))
    assert(reader.tableDF("d", "dv").count() == 50)
    writer.deleteDeltaWhereMor("d", "dv", col("x") >= 40)
    reader.clearCache()
    assert(reader.tableDF("d", "dv").count() == 40)
  }

  test("vacuum keeps another writer's live deletion-vector sidecar") {
    import spark.implicits._
    val cat = new FixtureCatalog()
    val writer = new GlueTableEngine(spark, cat)
    val reader = new GlueTableEngine(spark, cat)
    writer.writeDeltaTable((0L until 50L).toDF("x").coalesce(1), "d", "vac",
      TestSpark.scratch("vacuum_dv"))
    assert(reader.tableDF("d", "vac").count() == 50)
    writer.deleteDeltaWhereMor("d", "vac", col("x") >= 40)
    val deleted = reader.vacuumDeltaTable("d", "vac")
    assert(deleted.isEmpty, s"vacuum deleted live files: $deleted")
    assert(writer.tableDF("d", "vac").count() == 40)
  }

  test("an evicted listing never pairs with derived state of an older version") {
    import spark.implicits._
    val base = TestSpark.scratch("evict")
    val cat = new FixtureCatalog()
    val writer = new GlueTableEngine(spark, cat)
    val reader = new GlueTableEngine(spark, cat, CacheConfig(maxEntries = 2))
    writer.writeDeltaTable((0L until 50L).toDF("x").coalesce(1), "d", "lake", s"$base/lake")
    Seq("a", "b").foreach(t =>
      writer.writeTable((0L until 5L).toDF("x").coalesce(1), "d", t, s"$base/$t"))
    assert(reader.tableDF("d", "lake").count() == 50)
    // two other tables' listings push the Delta table out of the 2-entry cache
    Seq("a", "b").foreach(t => assert(reader.files("d", t).size == 1))
    writer.appendDeltaTable((50L until 60L).toDF("x").coalesce(1), "d", "lake")
    val listed = reader.files("d", "lake").size
    val read = reader.tableDF("d", "lake").count()
    assert(listed == 2 && read == 60, s"listed $listed files, read $read rows")
  }

  // -------- the cold read path: typed partitions and skipping stats

  /** Every file `tableDF` plans over, with its typed partition values
    * as the index holds them, against the same files' `listingDF`
    * values cast to the index's partition schema.
    */
  private def readVsListing(eng: GlueTableEngine, db: String, tbl: String)
      : (Set[(String, Row)], Set[(String, Row)]) = {
    val index = eng.tableDF(db, tbl).queryExecution.analyzed.collectFirst {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        lr.relation.asInstanceOf[HadoopFsRelation].location.asInstanceOf[PreListedFileIndex]
    }.get
    val pSchema = index.partitionSchema
    val toScala = CatalystTypeConverters.createToScalaConverter(pSchema)
    val read = index.listFiles(Nil, Nil).flatMap { d =>
      d.files.map(f => f.getPath.toString -> toScala(d.values).asInstanceOf[Row])
    }.toSet
    val listed = eng.listingDF(db, tbl)
      .select(col("path") +: pSchema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)
      .collect().map(r => new Path(r.getString(0)).toString -> Row.fromSeq(r.toSeq.tail)).toSet
    (read, listed)
  }

  test("the typed listing the read path plans over matches listingDF on every layout") {
    import spark.implicits._
    val base = TestSpark.scratch("typed_listing")
    // Hive: an escaped '=', a literal '%' (dir k=50%25), a null
    // (__HIVE_DEFAULT_PARTITION__), a typed int key, and a partition
    // whose catalog location lies outside the table root
    Seq(("a=b", 1, 1L), ("50%", 2, 2L), (null: String, 3, 3L), ("plain", 4, 4L))
      .toDF("k", "n", "v").write.partitionBy("k", "n").parquet(s"$base/hive")
    Seq(10L).toDF("v").write.parquet(s"$base/ext")
    val cat = new FixtureCatalog()
    cat.register(GlueTable("d", "hive", Some(s"$base/hive"),
        partitionKeys = Seq(ColumnDef("k"), ColumnDef("n", "int"))),
      parts = Seq(graft.model.PartitionInfo(Seq("ext", "7"), Some(s"$base/ext"))))
    val eng = new GlueTableEngine(spark, cat)
    eng.writeHudiTable(Seq((1L, "a"), (2L, "b")).toDF("x", "part").coalesce(1),
      "d", "hudi", s"$base/hudi", partitionBy = Seq("part"))
    val (hiveRead, hiveListed) = readVsListing(eng, "d", "hive")
    assert(hiveRead == hiveListed)
    assert(hiveRead.map(_._2) == Set(Row("a=b", 1), Row("50%", 2), Row(null, 3),
      Row("plain", 4), Row("ext", 7)))
    val (hudiRead, hudiListed) = readVsListing(eng, "d", "hudi")
    assert(hudiRead == hudiListed && hudiRead.map(_._2) == Set(Row("a"), Row("b")))
    val fixtures = Seq(
      "lineitem_part",    // Hive, two keys
      "events_by_day",    // date projection
      "events_by_month",  // integer projection
      "docs_by_lang",     // enum projection
      "iceberg_events",   // Iceberg identity spec
      "iceberg_orders_m", // Iceberg, date-typed key
      "delta_events")     // Delta partitionValues
    for (tbl <- fixtures) {
      val (read, listed) = readVsListing(engine, "default", tbl)
      assert(read.size == engine.files("default", tbl).size, tbl)
      assert(read == listed, tbl)
      assert(read.exists(!_._2.anyNull), s"$tbl: no partition values")
    }
  }

  test("footer reads follow the query: only a data filter's partition, once per snapshot") {
    import spark.implicits._
    val loc = TestSpark.scratch("footer_reads")
    // three files per partition, with disjoint id ranges
    (0L until 300L).map(i => (i, Seq("a", "b", "c")((i % 3).toInt))).toDF("id", "k")
      .repartitionByRange(3, col("id")).write.partitionBy("k").parquet(loc)
    val cat = new FixtureCatalog().register(
      GlueTable("d", "t", Some(loc), partitionKeys = Seq(ColumnDef("k"))))
    val eng = new GlueTableEngine(spark, cat)
    val bFiles = eng.files("d", "t").count(_.path.contains("/k=b/"))
    assert(bFiles == 3)
    // footer reads made while `sql` runs; its count must be `want`
    def footerReads(sql: String, want: Long): Long = {
      val before = graft.listing.FooterStats.statsReads.get()
      assert(eng.query(sql).collect().head.getLong(0) == want)
      graft.listing.FooterStats.statsReads.get() - before
    }
    assert(footerReads("SELECT count(*) FROM glue.d.t WHERE k = 'a'", 100L) == 0,
      "a partition-only read needs no stats")
    val filtered = "SELECT count(*) FROM glue.d.t WHERE k = 'b' AND id >= 290"
    assert(footerReads(filtered, 3L) == bFiles,
      "a data filter reads the kept partition's footers only")
    assert(footerReads(filtered, 3L) == 0, "footers are read once per snapshot")
    eng.invalidateTable("d", "t")
    assert(footerReads(filtered, 3L) == bFiles, "a new snapshot reads them again")
  }

  test("one cold table planned from four threads at once gets one file selection") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val loc = TestSpark.scratch("cold_threads")
    (0L until 300L).map(i => (i, Seq("a", "b", "c")((i % 3).toInt))).toDF("id", "k")
      .repartitionByRange(3, col("id")).write.partitionBy("k").parquet(loc)
    val cat = new FixtureCatalog().register(
      GlueTable("d", "t", Some(loc), partitionKeys = Seq(ColumnDef("k"))))
    val eng = new GlueTableEngine(spark, cat)
    val sql = "SELECT id FROM glue.d.t WHERE k = 'b' AND id >= 290"
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val selections = try {
      val runs = (1 to 4).map(_ => pool.submit(new java.util.concurrent.Callable[Set[String]] {
        override def call(): Set[String] = {
          start.await()
          val scan = eng.query(sql).queryExecution.sparkPlan
            .collectFirst { case s: FileSourceScanExec => s }.get
          scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters)
            .flatMap(_.files.map(_.getPath.toString)).toSet
        }
      }))
      start.countDown()
      runs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    // the files whose footer range reaches id 290, read directly
    val want = eng.files("d", "t").map(_.path).filter(p => p.contains("/k=b/") &&
      graft.listing.FooterStats.read(spark.sparkContext.hadoopConfiguration, p)("id")
        .max.asInstanceOf[Long] >= 290L).map(p => new Path(p).toString).toSet
    assert(want.nonEmpty && want.size < 3)
    assert(selections.forall(_ == want), s"selections: $selections, want $want")
    assert(eng.query(sql).collect().map(_.getLong(0)).sorted.toSeq == Seq(292L, 295L, 298L))
  }

  test("invalidating or appending to a table re-lists it alone, not a table whose name extends it") {
    import spark.implicits._
    val base = TestSpark.scratch("inval_prefix")
    Seq(1L, 2L).toDF("x").coalesce(1).write.parquet(s"$base/ev")
    Seq(3L).toDF("x").coalesce(1).write.parquet(s"$base/ev_2")
    val cat = new FixtureCatalog()
      .register(GlueTable("d", "ev", Some(s"$base/ev")))
      .register(GlueTable("d", "ev_2", Some(s"$base/ev_2")))
    val listed = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val inner = new graft.listing.HadoopFileLister(spark.sparkContext.hadoopConfiguration)
    val lister = new graft.listing.FileLister {
      override def list(location: String, keys: Seq[String]): Seq[graft.model.S3FileInfo] = {
        listed.merge(new Path(location).getName, 1, _ + _)
        inner.list(location, keys)
      }
    }
    val eng = new GlueTableEngine(spark, cat, listerOverride = Some(lister))
    def rows(t: String): Long = eng.tableDF("d", t).count()
    assert(rows("ev") == 2L && rows("ev_2") == 1L)
    eng.invalidateTable("d", "ev")
    assert(rows("ev") == 2L && rows("ev_2") == 1L)
    assert(listed.get("ev") == 2 && listed.get("ev_2") == 1, listed)
    // an append: `ev` becomes a Delta table (its log, not the lister,
    // is re-read after the commit); the sibling keeps its listing
    eng.writeDeltaTable(Seq(1L, 2L).toDF("x"), "d", "ev", s"$base/ev_delta")
    eng.appendDeltaTable(Seq(4L).toDF("x"), "d", "ev")
    assert(rows("ev") == 3L && rows("ev_2") == 1L)
    assert(listed.get("ev_2") == 1, listed)
  }
}
