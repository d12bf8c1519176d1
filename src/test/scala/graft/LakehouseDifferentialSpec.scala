package graft

import graft.catalog.FixtureCatalog
import graft.engine.GlueTableEngine
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, In, InSet, Literal}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** DIFFERENTIAL check across the three lakehouse write paths: the
  * same logical mutations applied through the Delta, Iceberg, and
  * Hudi writers must leave all engine read paths agreeing
  * row-for-row at every stage — initial write, append, row-level
  * upsert, and (where the format supports a delete) row-level
  * delete. Each writer is spec-proven in isolation elsewhere; this
  * is the cross-format property those specs can't see: a bug that
  * bends one format's semantics (a lost append, an upsert that
  * duplicates instead of replacing, a delete that leaks back) breaks
  * the three-way equality even if that format's own spec still
  * passes.
  */
class LakehouseDifferentialSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rows(df: DataFrame): Set[(Long, String)] =
    df.select(col("k"), col("v")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  private def expect(keys: Seq[Long], upserted: Set[Long],
      deleted: Set[Long]): Set[(Long, String)] =
    keys.filterNot(deleted)
      .map(k => k -> (if (upserted(k)) s"u$k" else s"r$k")).toSet

  test("same mutations through Delta, Iceberg, and Hudi read back identically") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)

    def base = (0L until 100L).map(k => (k, s"r$k")).toDF("k", "v").coalesce(2)
    def appendBatch = (100L until 150L).map(k => (k, s"r$k")).toDF("k", "v").coalesce(1)
    def upsertBatch = (0L until 10L).map(k => (k, s"u$k")).toDF("k", "v").coalesce(1)

    // stage 0: initial write
    eng.writeDeltaTable(base, "d", "diff_d", TestSpark.scratch("lhdiff_d"))
    eng.writeIcebergTable(base, "d", "diff_i", TestSpark.scratch("lhdiff_i"))
    eng.writeHudiTable(base, "d", "diff_h", TestSpark.scratch("lhdiff_h"))
    def all = Seq("diff_d", "diff_i", "diff_h").map(t => t -> rows(eng.tableDF("d", t)))
    val want0 = expect(0L until 100L, Set.empty, Set.empty)
    all.foreach { case (t, got) => assert(got == want0, s"$t diverges after write") }

    // stage 1: append
    eng.appendDeltaTable(appendBatch, "d", "diff_d")
    eng.appendIcebergTable(appendBatch, "d", "diff_i")
    eng.appendHudiTable(appendBatch, "d", "diff_h")
    val want1 = expect(0L until 150L, Set.empty, Set.empty)
    all.foreach { case (t, got) => assert(got == want1, s"$t diverges after append") }

    // stage 2: row-level upsert of keys 0..9 — Delta via MERGE, Hudi
    // via its native upsert, Iceberg via the ONE-SNAPSHOT MOR merge
    // (data files + equality delete at the same sequence number)
    eng.mergeDelta("d", "diff_d", upsertBatch, "k")
    eng.upsertHudi("d", "diff_h", upsertBatch, "k")
    eng.mergeIceberg("d", "diff_i", upsertBatch, "k")
    val want2 = expect(0L until 150L, (0L until 10L).toSet, Set.empty)
    all.foreach { case (t, got) => assert(got == want2, s"$t diverges after upsert") }

    // stage 3: row-level delete of k >= 140 — Delta rewrites only
    // stats-intersecting files, Iceberg takes the MOR position-delete
    // path, Hudi the CoW replacecommit — full three-way equality
    eng.deleteDeltaWhere("d", "diff_d", col("k") >= 140L)
    eng.deleteIcebergWhere("d", "diff_i", col("k") >= 140L)
    eng.deleteHudiWhere("d", "diff_h", col("k") >= 140L)
    val want3 = expect(0L until 150L, (0L until 10L).toSet, (140L until 150L).toSet)
    all.foreach { case (t, got) => assert(got == want3, s"$t diverges after delete") }

    // metadata COUNT(*) agrees with the scan on every format/stage
    assert(eng.countRows("d", "diff_d") == want3.size.toLong)
    assert(eng.countRows("d", "diff_i") == want3.size.toLong)
    assert(eng.countRows("d", "diff_h") == want3.size.toLong)
  }

  test("merge-on-read deletes agree across Delta DVs and Iceberg position deletes") {
    // the MOR twin of the CoW delete stage above: the same row-level
    // delete through Delta's deletion vectors and Iceberg's position
    // deletes — neither may rewrite a data file, and both reads (and
    // their exact metadata counts) must agree row-for-row. A second
    // delete hits rows of files already deleted from (on Delta a DV
    // merge that supersedes the first sidecar), and the two
    // changelogs must agree at every offset, through the restore
    val sp = Shim.classic(spark)
    import sp.implicits._
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)
    def base = (0L until 100L).map(k => (k, s"r$k")).toDF("k", "v").coalesce(2)
    eng.writeDeltaTable(base, "d", "mor_d", TestSpark.scratch("lhmor_d"))
    eng.writeIcebergTable(base, "d", "mor_i", TestSpark.scratch("lhmor_i"))
    val filesD = eng.files("d", "mor_d").map(_.path).toSet
    val filesI = eng.files("d", "mor_i").map(_.path).toSet
    def changes(df: DataFrame): Seq[(Long, String, String)] =
      df.select(col("k"), col("v"), col("_change_type")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
    def changelogsAgree(versions: Int): Unit = (1 until versions).foreach { k =>
      val d = changes(eng.deltaChanges("d", "mor_d", k, 0))
      val i = changes(eng.icebergChanges("d", "mor_i", k, 0))
      assert(d == i, s"changelogs diverge from offset $k: Delta $d vs Iceberg $i")
    }
    val del1 = (0L until 100L).filter(_ % 7L == 3L).toSet
    eng.deleteDeltaWhereMor("d", "mor_d", col("k") % 7L === 3L)
    eng.deleteIcebergWhere("d", "mor_i", col("k") % 7L === 3L)
    assert(eng.files("d", "mor_d").map(_.path).toSet == filesD,
      "Delta DV delete must not rewrite data files")
    assert(eng.files("d", "mor_i").map(_.path).toSet == filesI,
      "Iceberg position delete must not rewrite data files")
    val want = expect(0L until 100L, Set.empty, del1)
    assert(rows(eng.tableDF("d", "mor_d")) == want, "Delta MOR read diverges")
    assert(rows(eng.tableDF("d", "mor_i")) == want, "Iceberg MOR read diverges")
    assert(eng.countRows("d", "mor_d") == want.size.toLong)
    assert(eng.countRows("d", "mor_i") == want.size.toLong)
    changelogsAgree(2)
    assert(changes(eng.deltaChanges("d", "mor_d", 1, 0)) ==
      del1.toSeq.sorted.map(k => (k, s"r$k", "delete")))
    // the second delete re-deletes files the first one hit
    val del2 = (0L until 50L).filter(_ % 5L == 1L).toSet
    eng.deleteDeltaWhereMor("d", "mor_d", col("k") < 50L && col("k") % 5L === 1L)
    eng.deleteIcebergWhere("d", "mor_i", col("k") < 50L && col("k") % 5L === 1L)
    val want2 = expect(0L until 100L, Set.empty, del1 ++ del2)
    assert(rows(eng.tableDF("d", "mor_d")) == want2, "Delta DV merge read diverges")
    assert(rows(eng.tableDF("d", "mor_i")) == want2, "Iceberg second delete read diverges")
    changelogsAgree(3)
    assert(changes(eng.deltaChanges("d", "mor_d", 1, 0)) ==
      (del2 -- del1).toSeq.sorted.map(k => (k, s"r$k", "delete")),
      "a re-deleted file emits only its newly deleted rows")
    // both roll back with one logical restore
    eng.restoreDeltaTable("d", "mor_d", 2)
    eng.rollbackIcebergTable("d", "mor_i", 2)
    assert(rows(eng.tableDF("d", "mor_d")) == rows(eng.tableDF("d", "mor_i")))
    assert(eng.tableDF("d", "mor_d").count() == 100)
    changelogsAgree(4)
    assert(changes(eng.deltaChanges("d", "mor_d", 1, 0)) ==
      (del1 ++ del2).toSeq.sorted.map(k => (k, s"r$k", "insert")),
      "the restore revives every deleted row once")
    assert(changes(eng.deltaChanges("d", "mor_d", 3, 0)).isEmpty)
  }

  /** The sidecar scans of a read's physical plan (scans reading
    * `(file_path, pos)`) with the data-file paths their filters name,
    * and the plan's broadcast left-anti joins.
    */
  private def morPlan(df: DataFrame, dataPaths: Set[String])
      : (Seq[(FileSourceScanExec, Set[String])], Seq[BroadcastHashJoinExec]) = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    def named(filters: Seq[Expression]): Set[String] = filters.flatMap(_.collect {
      case Literal(v: UTF8String, _) => Seq(v.toString)
      case InSet(_, hset) => hset.toSeq.map(_.toString)
    }.flatten).toSet.intersect(dataPaths)
    val scans = plan.collect {
      case s: FileSourceScanExec if Set("file_path", "pos").subsetOf(s.output.map(_.name).toSet) =>
        s -> named(s.dataFilters)
    }
    (scans, plan.collect { case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j })
  }

  test("merge-on-read reads plan one sidecar scan per scope and one anti-join per delete kind") {
    // pins the plan pipeline_heavy's g29 runs (perfbench's table shape:
    // one sorted data file, a position delete of its first rows and an
    // equality delete of one flag) against a unification that adds a
    // file filter or a join; and a Delta file re-deleted through a
    // second deletion vector reads its positions from the new sidecar
    // alone, the superseded one keeping only the files still on it
    val sp = Shim.classic(spark)
    import sp.implicits._
    val eng = new GlueTableEngine(spark, new FixtureCatalog())
    val li = (0 until 60).map(i => (i.toLong / 3, i % 3 + 1, Seq("A", "N", "R")(i % 3), i.toDouble))
      .toDF("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    eng.writeIcebergTable(li.repartition(1).sortWithinPartitions("l_orderkey", "l_linenumber"),
      "d", "mor_plan_i", TestSpark.scratch("lhplan_i"))
    eng.deleteIcebergWhere("d", "mor_plan_i", col("l_orderkey") < 3L)
    eng.deleteIcebergMatching("d", "mor_plan_i", Seq("A").toDF("l_returnflag"), Seq("l_returnflag"))
    val ice = eng.tableDF("d", "mor_plan_i")
    assert(ice.groupBy("l_returnflag").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("N" -> 17L, "R" -> 17L))
    val iceData = eng.files("d", "mor_plan_i").map(f => eng.canonPath(f.path)).toSet
    val (iceScans, iceAnti) = morPlan(ice, iceData)
    assert(iceScans.size == 1, s"one position-sidecar scan, got ${iceScans.size}")
    assert(iceScans.head._2.isEmpty && !iceScans.head._1.dataFilters.exists(_.exists {
      case _: In | _: InSet => true
      case _ => false
    }), s"the position sidecars are read with no file filter: ${iceScans.head._1.dataFilters}")
    assert(iceAnti.size == 2, s"one anti-join for the positions and one per equality file, got ${iceAnti.size}")
    assert(iceAnti.count(_.right.exists(p => iceScans.exists(_._1 eq p))) == 1)

    def batch(ks: Range) = ks.map(k => (k.toLong, s"r$k")).toDF("k", "v").coalesce(1)
    eng.writeDeltaTable(batch(0 until 50), "d", "mor_plan_d", TestSpark.scratch("lhplan_d"))
    eng.appendDeltaTable(batch(50 until 100), "d", "mor_plan_d")
    val dataD = eng.files("d", "mor_plan_d").map(f => eng.canonPath(f.path)).toSet
    eng.deleteDeltaWhereMor("d", "mor_plan_d", col("k") % 7L === 3L)
    eng.deleteDeltaWhereMor("d", "mor_plan_d", col("k") < 20L && col("k") % 2L === 0L)
    val dl = eng.tableDF("d", "mor_plan_d")
    assert(rows(dl) == expect(0L until 100L, Set.empty,
      (0L until 100L).filter(k => k % 7L == 3L || (k < 20L && k % 2L == 0L)).toSet))
    val (dScans, dAnti) = morPlan(dl, dataD)
    assert(dScans.size == 2, s"one scan per live sidecar, got ${dScans.size}")
    assert(dScans.map(_._2.size) == Seq(1, 1) && dScans.flatMap(_._2).toSet == dataD,
      s"each data file reads its positions from the one sidecar it references: ${dScans.map(_._2)}")
    assert(dAnti.size == 1)
  }

  test("rolling back the same mutation returns all three formats to the identical state") {
    // The cross-format leg the per-format rollback specs (g37/g38/g39
    // in isolation) can't see: same rows, same logical mutation, one
    // logical rollback each — the three readers must agree
    // row-for-row again, and Delta's re-added files must keep their
    // stats so file skipping survives the restore
    // (DeltaLog.restore's skipping-survives claim, asserted
    // behaviorally below via the scan's numFiles metric).
    val sp = Shim.classic(spark)
    import sp.implicits._
    val cat = new FixtureCatalog()
    val eng = new GlueTableEngine(spark, cat)

    def base = (0L until 100L).map(k => (k, s"r$k")).toDF("k", "v").coalesce(2)
    def appendBatch = (100L until 150L).map(k => (k, s"r$k")).toDF("k", "v").coalesce(1)
    def upsertBatch = (0L until 10L).map(k => (k, s"u$k")).toDF("k", "v").coalesce(1)
    val deltaLoc = TestSpark.scratch("lhroll_d")

    eng.writeDeltaTable(base, "d", "roll_d", deltaLoc)
    eng.writeIcebergTable(base, "d", "roll_i", TestSpark.scratch("lhroll_i"))
    eng.writeHudiTable(base, "d", "roll_h", TestSpark.scratch("lhroll_h"))
    eng.appendDeltaTable(appendBatch, "d", "roll_d")
    eng.appendIcebergTable(appendBatch, "d", "roll_i")
    eng.appendHudiTable(appendBatch, "d", "roll_h")
    val preMutation = expect(0L until 150L, Set.empty, Set.empty)

    // the mutation being rolled back: row-level upsert of keys 0..9,
    // expressed in each format's native shape (Delta MERGE rewrites
    // the stats-intersecting files; Hudi native upsert; Iceberg the
    // one-snapshot MOR merge)
    eng.mergeDelta("d", "roll_d", upsertBatch, "k")
    eng.upsertHudi("d", "roll_h", upsertBatch, "k")
    eng.mergeIceberg("d", "roll_i", upsertBatch, "k")
    val mutated = expect(0L until 150L, (0L until 10L).toSet, Set.empty)
    Seq("roll_d", "roll_i", "roll_h").foreach { t =>
      assert(rows(eng.tableDF("d", t)) == mutated, s"$t diverges after upsert") }

    // one LOGICAL rollback each — and since every format's upsert is
    // now one commit, one PHYSICAL version each too
    eng.restoreDeltaTable("d", "roll_d", 1)
    eng.rollbackIcebergTable("d", "roll_i", 1)
    eng.rollbackHudiTable("d", "roll_h", 1)
    Seq("roll_d", "roll_i", "roll_h").foreach { t =>
      assert(rows(eng.tableDF("d", t)) == preMutation, s"$t diverges after rollback") }
    Seq("roll_d", "roll_i", "roll_h").foreach { t =>
      assert(eng.countRows("d", t) == preMutation.size.toLong, s"$t countRows after rollback") }

    // Delta's restore re-added the MERGE-removed files: the restore
    // commit itself (latest log JSON) must carry stats on every add
    // action it publishes
    val logDir = new java.io.File(s"$deltaLoc/_delta_log")
    val lastCommit = logDir.listFiles().filter(_.getName.matches("\\d{20}\\.json"))
      .maxBy(_.getName)
    val addLines = scala.io.Source.fromFile(lastCommit).getLines()
      .filter(_.contains("\"add\"")).toSeq
    assert(addLines.nonEmpty, "restore commit re-added no files")
    assert(addLines.forall(_.contains("\"stats\"")),
      "restore dropped stats from re-added files")
    // ...and skipping still prunes: k >= 100 lives in exactly the one
    // appended file (of 3 live files)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = eng.query("SELECT k, v FROM glue.d.roll_d WHERE k >= 100")
      assert(df.collect().length == 50)
      val scans = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      assert(scans.head.metrics("numFiles").value == 1,
        s"stats skipping broke after restore: scanned ${scans.head.metrics("numFiles").value} files")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("an upsert whose source keys are all NULL inserts its rows in all three formats") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val eng = new GlueTableEngine(spark, new FixtureCatalog())
    def base = (0L until 10L).map(k => (Option(k), s"r$k")).toDF("k", "v").coalesce(1)
    eng.writeDeltaTable(base, "d", "nk_d", TestSpark.scratch("lhnull_d"))
    eng.writeIcebergTable(base, "d", "nk_i", TestSpark.scratch("lhnull_i"))
    eng.writeHudiTable(base, "d", "nk_h", TestSpark.scratch("lhnull_h"))
    val source = Seq((Option.empty[Long], "n1"), (Option.empty[Long], "n2")).toDF("k", "v")
    eng.mergeDelta("d", "nk_d", source, "k")
    eng.mergeIceberg("d", "nk_i", source, "k")
    eng.upsertHudi("d", "nk_h", source, "k")
    val want = (0L until 10L).map(k => (Option(k), s"r$k")).toSet ++
      Set((Option.empty[Long], "n1"), (Option.empty[Long], "n2"))
    Seq("nk_d", "nk_i", "nk_h").foreach { t =>
      val got = eng.tableDF("d", t).select(col("k"), col("v")).collect()
        .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getString(1))).toSet
      assert(got == want, s"$t: $got")
    }
    // an EMPTY source still commits nothing
    val v = eng.mergeDelta("d", "nk_d", source.limit(0), "k")
    assert(eng.mergeDelta("d", "nk_d", source.limit(0), "k") == v)
  }
}
