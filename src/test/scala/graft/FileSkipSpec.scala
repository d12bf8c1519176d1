package graft

import graft.catalog.FixtureCatalog
import graft.engine.GlueTableEngine
import graft.listing.{ColRange, FooterStats, StatsPruning}
import graft.model.GlueTable
import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** File-level data skipping: parquet footer min/max ranges prune
  * whole files at planning time (the Delta/Iceberg data-skipping
  * design applied to the pre-listed index).
  */
class FileSkipSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def u(s: String) = UTF8String.fromString(s)
  private val id = AttributeReference("id", org.apache.spark.sql.types.LongType)()
  private val name = AttributeReference("name", org.apache.spark.sql.types.StringType)()
  private val resolver: (String, String) => Boolean = (a, b) => a.equalsIgnoreCase(b)
  private val stats = Map(
    "id" -> ColRange(10L, 20L, allNulls = false),
    "name" -> ColRange(u("bob"), u("eve"), allNulls = false))

  private def prove(e: Expression) = StatsPruning.proveFalse(e, stats, resolver)

  test("prover: equality and range shapes") {
    assert(prove(EqualTo(id, Literal(5L))))            // below range
    assert(prove(EqualTo(Literal(25L), id)))           // above range
    assert(!prove(EqualTo(id, Literal(15L))))          // inside
    assert(prove(GreaterThan(id, Literal(20L))))       // max <= v
    assert(!prove(GreaterThan(id, Literal(19L))))
    assert(prove(GreaterThanOrEqual(id, Literal(21L))))
    assert(prove(LessThan(id, Literal(10L))))
    assert(!prove(LessThan(id, Literal(11L))))
    assert(prove(LessThanOrEqual(id, Literal(9L))))
    assert(prove(LessThan(Literal(20L), id)))          // 20 < id, max=20
    assert(!prove(LessThan(Literal(19L), id)))
  }

  test("prover: IN, AND/OR, strings, unknown shapes keep the file") {
    assert(prove(In(id, Seq(Literal(1L), Literal(5L)))))
    assert(!prove(In(id, Seq(Literal(1L), Literal(12L)))))
    // AND: one false conjunct suffices; OR needs both
    assert(prove(And(EqualTo(id, Literal(5L)), EqualTo(name, Literal(u("carol"))))))
    assert(!prove(Or(EqualTo(id, Literal(5L)), EqualTo(name, Literal(u("carol"))))))
    assert(prove(Or(EqualTo(id, Literal(5L)), EqualTo(name, Literal(u("zed"))))))
    assert(prove(EqualTo(name, Literal(u("adam")))))
    assert(prove(StartsWith(name, Literal(u("z")))))
    assert(!prove(StartsWith(name, Literal(u("d")))))
    // type mismatch (int literal vs long stats) must NOT prove
    assert(!prove(EqualTo(id, Literal(5))))
    // unknown column / shapes
    assert(!prove(EqualTo(AttributeReference("other", org.apache.spark.sql.types.LongType)(), Literal(5L))))
    assert(!prove(IsNull(id)))
  }

  test("prover: an Iceberg bucket fact rejects literals of other buckets") {
    import graft.listing.IcebergBucket
    val b = IcebergBucket.of(421L, 8)
    val Seq(other, other2) = (0L until 100L).filter(IcebergBucket.of(_, 8) != b).take(2)
    val buckets = Map("id" -> ColRange(null, null, allNulls = false, bucket = Some((8, b))))
    def p(e: Expression) = StatsPruning.proveFalse(e, buckets, resolver)
    assert(!p(EqualTo(id, Literal(421L))))
    assert(p(EqualTo(id, Literal(other))))
    assert(p(EqualTo(Literal(other), id)))
    assert(p(In(id, Seq(Literal(other), Literal(other2)))))
    assert(!p(In(id, Seq(Literal(other), Literal(421L)))))
    assert(p(InSet(id, Set(other))))
    // a literal of another type than the column's never hashes
    assert(!p(EqualTo(id, Literal(other.toInt))))
    assert(!p(EqualTo(id, Literal(u(other.toString)))))
    // OR: the unproven side keeps the file
    assert(!p(Or(EqualTo(id, Literal(other)), EqualTo(name, Literal(u("zed"))))))
    // string columns hash their UTF-8 bytes
    val sb = IcebergBucket.of(u("eve"), 4)
    val sBuckets = Map("name" -> ColRange(u("bob"), u("eve"), allNulls = false, bucket = Some((4, sb))))
    val otherName = Seq("bob", "carl", "dan", "dora").find(n => IcebergBucket.of(u(n), 4) != sb).get
    assert(StatsPruning.proveFalse(EqualTo(name, Literal(u(otherName))), sBuckets, resolver))
    assert(!StatsPruning.proveFalse(EqualTo(name, Literal(u("eve"))), sBuckets, resolver))
  }

  test("prover: null semantics") {
    val nullStats = Map("id" -> ColRange(null, null, allNulls = true))
    assert(StatsPruning.proveFalse(IsNotNull(id), nullStats, resolver))
    assert(StatsPruning.proveFalse(EqualTo(id, Literal(15L)), nullStats, resolver))
    assert(!prove(IsNotNull(id))) // has values -> keep
    // IS NULL prunes only with a proven zero null count
    assert(!prove(IsNull(id)))
    val noNullStats = Map("id" -> ColRange(10L, 20L, allNulls = false, noNulls = true))
    assert(StatsPruning.proveFalse(IsNull(id), noNullStats, resolver))
  }

  test("prover: mayHideNaN ranges allow min-side/equality, refuse max-side") {
    val d = AttributeReference("d", org.apache.spark.sql.types.DoubleType)()
    val hide = Map("d" -> ColRange(1.0, 10.0, allNulls = false, mayHideNaN = true))
    def p(e: Expression) = StatsPruning.proveFalse(e, hide, resolver)
    assert(p(EqualTo(d, Literal(42.0))))           // equality: NaN-immune
    assert(p(In(d, Seq(Literal(0.25), Literal(42.0)))))
    assert(p(LessThan(d, Literal(0.5))))           // min-side: NaN >= min always
    assert(p(GreaterThan(Literal(0.5), d)))        // 0.5 > d, min-side
    assert(!p(GreaterThan(d, Literal(42.0))))      // max-side: hidden NaN would match
    assert(!p(GreaterThanOrEqual(d, Literal(42.0))))
    assert(!p(LessThan(Literal(42.0), d)))         // 42 < d: hidden NaN would match
    assert(!p(LessThanOrEqual(Literal(42.0), d)))
    assert(!p(EqualTo(d, Literal(Double.NaN))))    // NaN literal never proves
    // NaN-free source (Iceberg nan_value_counts == 0): both sides prune
    val clean = Map("d" -> ColRange(1.0, 10.0, allNulls = false))
    assert(StatsPruning.proveFalse(GreaterThan(d, Literal(42.0)), clean, resolver))
  }

  test("footer stats: ranges read from real parquet files") {
    val dir = TestSpark.scratch("fskip_footer")
    import spark.implicits._
    (0L until 100L).map(i => (i, s"n$i")).toDF("id", "name")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val file = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
    val st = FooterStats.read(spark.sparkContext.hadoopConfiguration, file.getAbsolutePath)
    assert(st("id") == ColRange(0L, 99L, allNulls = false, noNulls = true))
    assert(st("name").min == u("n0") && st("name").max == u("n99"))
  }

  test("selective scan reads only the files whose range matches") {
    val dir = TestSpark.scratch("fskip_tbl")
    import spark.implicits._
    // 4 files with disjoint id ranges
    (0L until 1000L).map(i => (i, i % 7)).toDF("id", "v")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(dir)
    val cat = new FixtureCatalog().register(GlueTable("d", "skiptbl", Some(dir)))
    val eng = new GlueTableEngine(spark, cat)
    // AQE off so executedPlan exposes the scan node's metrics directly
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = eng.query("SELECT id, v FROM glue.d.skiptbl WHERE id = 42")
      assert(df.collect().map(_.getLong(0)).toSeq == Seq(42L))
      val scans = df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty)
      assert(scans.head.metrics("numFiles").value == 1,
        s"expected 1 file scanned, got ${scans.head.metrics("numFiles").value}")
      // a non-selective query still sees everything
      assert(eng.query("SELECT count(*) AS n FROM glue.d.skiptbl").collect().head.getLong(0) == 1000L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("Iceberg manifest bounds skip files with footer reads disabled") {
    import graft.fixtures.TestFixtures
    import graft.model.CacheConfig
    val dir = TestFixtures.icebergLineitem(spark, TestSpark.sfDir)
    val cat = new FixtureCatalog().register(
      GlueTable("d", "ice", Some(dir), parameters = Map("table_type" -> "ICEBERG")))
    // footerStatsMaxFiles = 0: any skipping MUST come from the
    // manifests' lower/upper_bounds, not parquet footers
    val eng = new GlueTableEngine(spark, cat, CacheConfig(footerStatsMaxFiles = 0))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the even/odd files' key ranges overlap except at the extremes;
      // the global max key lives in exactly one file, and the other
      // file's manifest upper bound excludes it
      val maxKey = spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
        .agg(org.apache.spark.sql.functions.max("l_orderkey")).head.getLong(0)
      val df = eng.query(s"SELECT l_orderkey FROM glue.d.ice WHERE l_orderkey = $maxKey")
      val rows = df.collect()
      assert(rows.nonEmpty && rows.forall(_.getLong(0) == maxKey))
      val scans = df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty)
      assert(scans.head.metrics("numFiles").value == 1,
        s"expected manifest bounds to prune to 1 file, got ${scans.head.metrics("numFiles").value}")
      // full scan unaffected
      val total = spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet").count()
      assert(eng.query("SELECT count(*) AS n FROM glue.d.ice").collect().head.getLong(0) == total)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("clustered compaction turns overlapping-range scans into 1-file scans") {
    import graft.model.CacheConfig
    val dir = TestSpark.scratch("fskip_messy")
    import spark.implicits._
    // hash-distributed: every file spans the whole id range, so
    // min/max skipping can't drop anything
    (0L until 1000L).map(i => (i, i % 7)).toDF("id", "v")
      .repartition(4, col("id")).write.mode("overwrite").parquet(dir)
    val cat = new FixtureCatalog().register(GlueTable("d", "messy", Some(dir)))
    val eng = new GlueTableEngine(spark, cat, CacheConfig())
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def numFiles(sql: String): Long = {
        val df = eng.query(sql)
        df.collect()
        df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
          .head.metrics("numFiles").value
      }
      assert(numFiles("SELECT * FROM glue.d.messy WHERE id = 42") == 4)
      eng.compactTable("d", "messy", "tidy", TestSpark.scratch("fskip_tidy"),
        targetFileBytes = 4096, clusterBy = Seq("id"))
      assert(eng.files("d", "tidy").size > 1, "compaction should write multiple files")
      assert(numFiles("SELECT * FROM glue.d.tidy WHERE id = 42") == 1)
      assert(eng.query("SELECT * FROM glue.d.tidy WHERE id = 42")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((42L, 0L)))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("ORC tables skip files from ORC footer statistics") {
    val dir = TestSpark.scratch("fskip_orc")
    import spark.implicits._
    (0L until 1000L).map(i => (i, s"v${i % 3}")).toDF("id", "tag")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").orc(dir)
    val cat = new FixtureCatalog().register(
      GlueTable("d", "orcskip", Some(dir), parameters = Map("classification" -> "orc")))
    val eng = new GlueTableEngine(spark, cat)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = eng.query("SELECT id, tag FROM glue.d.orcskip WHERE id = 777")
      assert(df.collect().map(_.getLong(0)).toSeq == Seq(777L))
      val scans = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.nonEmpty)
      assert(scans.head.metrics("numFiles").value == 1,
        s"expected ORC stats to prune to 1 file, got ${scans.head.metrics("numFiles").value}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("float/double stats: NaN-immune shapes prune, max-side proofs refuse") {
    val dir = TestSpark.scratch("fskip_float")
    import spark.implicits._
    (0L until 400L).map(i => (i, i.toDouble)).toDF("id", "d")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(dir)
    val cat = new FixtureCatalog().register(GlueTable("d", "fl", Some(dir)))
    val eng = new GlueTableEngine(spark, cat)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // Footers carry no NaN counts, so finite double bounds may hide
      // NaN rows. NaN satisfies no equality/< against a finite
      // literal (NaN-immune shapes -> prune), but DOES satisfy `>`
      // under Spark's NaN-is-largest comparisons (max-side -> keep).
      def files(pred: String): Long = {
        val df = eng.query(s"SELECT id FROM glue.d.fl WHERE $pred")
        df.collect()
        df.queryExecution.executedPlan.collect {
          case s: FileSourceScanExec => s
        }.head.metrics("numFiles").value
      }
      assert(files("id = 42") == 1)
      assert(files("d = 42.0") == 1, "equality is NaN-immune: must prune")
      assert(files("d < 100.0") == 1, "min-side proof is NaN-safe: must prune")
      assert(files("d > 300.0") == 4, "max-side proof must refuse: bounds may hide NaN")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("a hidden NaN row survives max-side predicates (why the refusal exists)") {
    val dir = TestSpark.scratch("fskip_float_nan")
    import spark.implicits._
    // file A: clean [0..10]; file B: [500..600] plus one NaN row.
    Seq.tabulate(11)(i => (i.toLong, i.toDouble)).toDF("id", "d")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/a")
    (Seq.tabulate(5)(i => (100L + i, 500.0 + i)) :+ ((999L, Double.NaN)))
      .toDF("id", "d").coalesce(1).write.mode("overwrite").parquet(s"$dir/b")
    val merged = TestSpark.scratch("fskip_float_nan_tbl")
    val md = new java.io.File(merged); md.mkdirs()
    md.listFiles().foreach(_.delete())
    Seq("a", "b").foreach { sub =>
      val f = new java.io.File(s"$dir/$sub").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(f.toPath, new java.io.File(md, s"$sub.parquet").toPath)
    }
    val cat = new FixtureCatalog().register(GlueTable("d", "flnan", Some(merged)))
    val eng = new GlueTableEngine(spark, cat)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // NaN > 5000 is TRUE in Spark (NaN is largest): the NaN row
      // must come back even though every finite value is far below —
      // pruning file A on its max would be wrong-in-kind, and file
      // B's NaN max already voids its stats.
      val df = eng.query("SELECT id FROM glue.d.flnan WHERE d > 5000.0")
      assert(df.collect().map(_.getLong(0)).toSeq == Seq(999L))
      val scans = df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.head.metrics("numFiles").value == 2, "no file may be skipped for a max-side proof")
      // the NaN-immune shapes still prune file A out of an equality probe
      val eq = eng.query("SELECT id FROM glue.d.flnan WHERE d = 502.0")
      assert(eq.collect().map(_.getLong(0)).toSeq == Seq(102L))
      assert(eq.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
        .head.metrics("numFiles").value == 1, "clean file A's range excludes 502.0")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("skipping is sound under adversarial values (nulls, NaN, ±0.0)") {
    val dir = TestSpark.scratch("fskip_adversarial")
    import spark.implicits._
    val rows = Seq[(java.lang.Long, String, java.lang.Double)](
      (1L, "aa", 1.5), (2L, null, Double.NaN), (3L, "ab", -0.0), (4L, "b", 0.0),
      (10L, "ba", null), (11L, "bb", 2.5), (null, "bz", Double.NaN), (13L, "c", -1.0))
    rows.toDF("id", "k", "d")
      .repartitionByRange(3, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(dir)
    val cat = new FixtureCatalog().register(GlueTable("d", "adv", Some(dir)))
    val eng = new GlueTableEngine(spark, cat)
    spark.read.parquet(dir).createOrReplaceTempView("adv_direct")
    val predicates = Seq(
      "id = 2", "id = 99", "id < 3", "id >= 10", "id IN (1, 13, 99)",
      "id IS NOT NULL", "id IS NULL",
      "k = 'aa'", "k = 'zz'", "k LIKE 'b%'", "k LIKE 'a%' OR id = 13",
      "d = 0.0", "d = -0.0", "d < 0.0", "d >= 2.5", "d != d", // d != d is the NaN probe
      "isnan(d)", "id > 1 AND k < 'c'", "id = 1 OR d = 2.5")
    predicates.foreach { p =>
      val got = eng.query(s"SELECT * FROM glue.d.adv WHERE $p")
        .collect().map(_.toString).sorted.toSeq
      val want = spark.sql(s"SELECT * FROM adv_direct WHERE $p")
        .collect().map(_.toString).sorted.toSeq
      assert(got == want, s"predicate [$p]: skipped=$got expected=$want")
    }
  }

  test("skipping never changes results (range + IN + string predicates)") {
    val dir = TestSpark.scratch("fskip_tbl2")
    import spark.implicits._
    (0L until 500L).map(i => (i, f"k$i%03d")).toDF("id", "k")
      .repartitionByRange(5, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(dir)
    val cat = new FixtureCatalog().register(GlueTable("d", "skiptbl2", Some(dir)))
    val eng = new GlueTableEngine(spark, cat)
    def q(sql: String) = eng.query(sql).collect().map(_.toString).sorted.toSeq
    val direct = spark.read.parquet(dir)
    direct.createOrReplaceTempView("direct_tbl")
    def o(sql: String) = spark.sql(sql).collect().map(_.toString).sorted.toSeq
    assert(q("SELECT * FROM glue.d.skiptbl2 WHERE id BETWEEN 90 AND 110") ==
      o("SELECT * FROM direct_tbl WHERE id BETWEEN 90 AND 110"))
    assert(q("SELECT * FROM glue.d.skiptbl2 WHERE id IN (1, 250, 499)") ==
      o("SELECT * FROM direct_tbl WHERE id IN (1, 250, 499)"))
    assert(q("SELECT * FROM glue.d.skiptbl2 WHERE k = 'k123'") ==
      o("SELECT * FROM direct_tbl WHERE k = 'k123'"))
    assert(q("SELECT * FROM glue.d.skiptbl2 WHERE k LIKE 'k49%'") ==
      o("SELECT * FROM direct_tbl WHERE k LIKE 'k49%'"))
  }
}
