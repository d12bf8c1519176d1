package graft

import graft.functions.ZOrder
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ZOrderSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def z(vals: Seq[Long], bits: Int): Long =
    Seq((1)).toDF("x")
      .select(ZOrder.zvalue(vals.map(v => lit(v)), bits).as("z"))
      .head().getLong(0)

  test("zvalue interleaves bits: col j bit i lands at i*n + j") {
    // x=0b11, y=0b01 at 2 bits: positions x0->0, y0->1, x1->2, y1->3
    assert(z(Seq(3L, 1L), 2) == 7L) // 0b0111
    assert(z(Seq(0L, 0L), 2) == 0L)
    assert(z(Seq(3L, 3L), 2) == 15L)
    // the top bit of every dimension outranks lower bits of any other
    assert(z(Seq(2L, 0L), 2) > z(Seq(1L, 1L), 2))
  }

  test("zvalue is monotone within each dimension (other held fixed)") {
    val bits = 8
    for (other <- Seq(0L, 100L, 255L)) {
      val zs = (0L to 255L by 17).map(v => z(Seq(v, other), bits))
      assert(zs == zs.sorted, s"non-monotone at other=$other")
    }
  }

  test("normalize maps the span onto the grid and clamps degenerates") {
    val vals = Seq(0.0, 50.0, 100.0).toDF("v")
      .select(ZOrder.normalize(col("v"), 0.0, 100.0, 8).as("g"))
      .collect().map(_.getLong(0)).toSeq
    assert(vals.head == 0L && vals.last == 255L)
    assert(vals(1) == 128L || vals(1) == 127L)
    // constant column -> 0, never a crash
    val const = Seq(5.0).toDF("v")
      .select(ZOrder.normalize(col("v"), 5.0, 5.0, 8).as("g")).head().getLong(0)
    assert(const == 0L)
  }

  test("null inputs clamp to grid cell 0 (co-located, never a crash) and survive a z-order write") {
    val df = Seq[(java.lang.Long, java.lang.Double)]((1L, 10.0), (null, 20.0), (3L, null))
      .toDF("a", "b")
    val z = df.select(
        ZOrder.normalize(col("a"), 0.0, 100.0, 8).as("na"),
        ZOrder.normalize(col("b"), 0.0, 100.0, 8).as("nb"))
      .collect()
    // the documented contract: a null dimension lands at cell 0
    assert(!z(1).isNullAt(0) && z(1).getLong(0) == 0L, "null a must clamp to 0")
    assert(!z(2).isNullAt(1) && z(2).getLong(1) == 0L, "null b must clamp to 0")
    // and the write path tolerates them: range partitioning groups
    // nulls, rows are neither dropped nor duplicated
    val out = TestSpark.scratch("zorder_nulls")
    df.withColumn("__z", ZOrder.zvalue(Seq(
        ZOrder.normalize(col("a"), 0.0, 100.0, 8),
        ZOrder.normalize(col("b"), 0.0, 100.0, 8)), 8))
      .repartitionByRange(2, col("__z")).sortWithinPartitions("__z").drop("__z")
      .write.parquet(out)
    assert(spark.read.parquet(out).count() == 3)
  }

  test("z-ordered compaction guards degenerate stats and non-numeric columns") {
    import spark.implicits._
    val src = TestSpark.scratch("zorder_guard_src")
    // an all-null dimension and a normal one
    Seq((1L, Option.empty[Double], "x"), (2L, Option.empty[Double], "y"))
      .toDF("k", "allnull", "s").write.parquet(src)
    val cat = new graft.catalog.FixtureCatalog()
      .register(graft.model.GlueTable("default", "zguard", Some(src)))
    val eng = new graft.engine.GlueTableEngine(spark, cat)
    // all-null min/max used to NPE in stats.getDouble; now the
    // dimension degrades to grid cell 0 and the compaction succeeds
    val out = TestSpark.scratch("zorder_guard_out")
    eng.compactTableZOrder("default", "zguard", "zguard_out", out,
      zorderBy = Seq("k", "allnull"))
    assert(spark.read.parquet(out).count() == 2)
    // a non-numeric zorderBy column errors by name up front
    val e = intercept[IllegalArgumentException] {
      eng.compactTableZOrder("default", "zguard", "zguard_out2",
        s"$out-2", zorderBy = Seq("k", "s"))
    }
    assert(e.getMessage.contains("s") && e.getMessage.contains("numeric"), e.getMessage)
    // a missing column too
    val m = intercept[IllegalArgumentException] {
      eng.compactTableZOrder("default", "zguard", "zguard_out3",
        s"$out-3", zorderBy = Seq("k", "nope"))
    }
    assert(m.getMessage.contains("nope"), m.getMessage)
  }

  test("z-ordered compaction yields tight per-file ranges in BOTH dimensions") {
    val sf = TestSpark.sfDir
    val cat = graft.fixtures.TestFixtures.catalogFor(spark, sf)
    val eng = new graft.engine.GlueTableEngine(spark, cat)
    val out = TestSpark.scratch("zorder_spec")
    // ~20 output files: each then pins ~4 leading z-bits (two per
    // dimension), giving quartile-scale spans — 5 files would leave
    // boundary-straddling middle files with near-full spans
    eng.compactTableZOrder("default", "orders_flat", "zorder_spec_out", out,
      zorderBy = Seq("o_custkey", "o_totalprice"), targetFileBytes = 2L * 1024)
    val byFile = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg((max("o_custkey") - min("o_custkey")).cast("double").as("ck_span"),
        (max("o_totalprice") - min("o_totalprice")).as("tp_span"))
      .collect()
    assert(byFile.length > 2, s"fixture degenerate: ${byFile.length} files")
    val full = spark.read.parquet(out)
      .agg((max("o_custkey") - min("o_custkey")).cast("double"),
        (max("o_totalprice") - min("o_totalprice"))).head()
    val (ckFull, tpFull) = (full.getDouble(0), full.getDouble(1))
    // median per-file span must be well under the full span in BOTH
    // dims — a single-column sort would leave the other dim's file
    // spans at ~the full range
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val ckMed = median(byFile.map(_.getDouble(1)).toSeq)
    val tpMed = median(byFile.map(_.getDouble(2)).toSeq)
    assert(ckMed <= ckFull * 0.6, s"custkey spans not clustered: median $ckMed of $ckFull")
    assert(tpMed <= tpFull * 0.6, s"totalprice spans not clustered: median $tpMed of $tpFull")
  }
}
