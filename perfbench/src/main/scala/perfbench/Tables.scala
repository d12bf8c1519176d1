package perfbench

import graft.catalog.FixtureCatalog
import graft.engine.GlueTableEngine
import graft.model.{ColumnDef, GlueTable, PartitionInfo}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File

/** The benchmark's own tables: built once per corpus with the engine's
  * public writers, under a directory the benchmark owns.
  */
object Tables {
  val Db = "default"

  final case class Def(table: GlueTable, parts: Seq[PartitionInfo] = Nil)

  def corpus(spark: SparkSession, corpusDir: String, name: String): DataFrame =
    spark.read.parquet(s"$corpusDir/$name.parquet")

  private def stripKeyPrefix(dir: String, key: String): Unit =
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(s"$key="))
      .foreach(f => f.renameTo(new File(f.getParentFile, f.getName.stripPrefix(s"$key="))))

  /** Write every glue_interactive table and the g29 merge-on-read table. */
  def build(spark: SparkSession, corpusDir: String, fx: String): Unit = {
    val eng = new GlueTableEngine(spark, new FixtureCatalog())
    val li = corpus(spark, corpusDir, "lineitem")
    val ord = corpus(spark, corpusDir, "orders")
    val ev = corpus(spark, corpusDir, "events")
    val docs = corpus(spark, corpusDir, "documents")

    eng.writeTable(li, Db, "lineitem_part", s"$fx/lineitem_part", Seq("l_returnflag", "l_linestatus"))
    eng.writeTable(ev.withColumn("dt", date_format(col("ts"), "yyyy-MM-dd")),
      Db, "events_by_day", s"$fx/events_by_day", Seq("dt"))
    stripKeyPrefix(s"$fx/events_by_day", "dt")
    eng.writeTable(ev.withColumn("m", month(col("ts"))), Db, "events_by_month", s"$fx/events_by_month", Seq("m"))
    stripKeyPrefix(s"$fx/events_by_month", "m")
    eng.writeTable(docs, Db, "docs_by_lang", s"$fx/docs_by_lang", Seq("lang"))
    stripKeyPrefix(s"$fx/docs_by_lang", "lang")
    eng.writeIcebergTable(ev, Db, "iceberg_events", s"$fx/iceberg_events", Seq("event_type"))
    eng.writeIcebergTable(ord.withColumn("d", date_format(col("o_orderdate"), "yyyy-MM")),
      Db, "iceberg_orders_m", s"$fx/iceberg_orders_m", Seq("d"))
    eng.writeDeltaTable(ev, Db, "delta_events", s"$fx/delta_events", Seq("event_type"))
    eng.writeDeltaTable(li.repartitionByRange(8, col("l_orderkey")).sortWithinPartitions("l_orderkey"),
      Db, "delta_lineitem", s"$fx/delta_lineitem")
    eng.writeHudiTable(li, Db, "hudi_lineitem", s"$fx/hudi_lineitem", Seq("l_returnflag"))
    eng.writeTable(ord.repartition(2), Db, "orders_flat", s"$fx/orders_flat")
    val ordBytes = eng.files(Db, "orders_flat").map(_.size).sum
    eng.compactTable(Db, "orders_flat", "orders_clustered_skip", s"$fx/orders_clustered_skip",
      targetFileBytes = math.max(32L * 1024, ordBytes / 8), clusterBy = Seq("o_orderkey"))
    eng.writeTable(ev.withColumn("bucket", col("user_id") % 10).withColumn("shard", col("event_id") % 10)
      .repartition(col("bucket"), col("shard")), Db, "events_wide", s"$fx/events_wide", Seq("bucket", "shard"))

    // g29's layout: one sorted data file, a position delete of its
    // first ten rows, and an equality delete of every 'A' row.
    eng.writeIcebergTable(li.repartition(1).sortWithinPartitions("l_orderkey", "l_linenumber"),
      Db, "iceberg_lineitem_mor", s"$fx/iceberg_lineitem_mor")
    val first = li.orderBy("l_orderkey", "l_linenumber").limit(10).collect()
      .map(r => col("l_orderkey") === r.getLong(0) && col("l_linenumber") === r.getInt(3))
    eng.deleteIcebergWhere(Db, "iceberg_lineitem_mor", first.reduce(_ || _))
    val sp = org.apache.spark.sql.graft.Shim.classic(spark)
    import sp.implicits._
    eng.deleteIcebergMatching(Db, "iceberg_lineitem_mor", Seq("A").toDF("l_returnflag"), Seq("l_returnflag"))
  }

  /** Catalog definitions for the tables [[build]] wrote. */
  def definitions(fx: String): Seq[Def] = {
    def t(name: String, keys: Seq[ColumnDef] = Nil, params: Map[String, String] = Map.empty) =
      GlueTable(Db, name, Some(s"$fx/$name"), keys, params)
    val wide = new File(s"$fx/events_wide")
    val wideParts = for {
      b <- Option(wide.listFiles()).getOrElse(Array.empty).filter(_.getName.startsWith("bucket=")).sortBy(_.getName)
      s <- Option(b.listFiles()).getOrElse(Array.empty).filter(_.getName.startsWith("shard=")).sortBy(_.getName)
    } yield PartitionInfo(Seq(b.getName.stripPrefix("bucket="), s.getName.stripPrefix("shard=")),
      Some(s.getAbsolutePath))
    Seq(
      Def(t("lineitem_part", Seq(ColumnDef("l_returnflag"), ColumnDef("l_linestatus")))),
      Def(t("events_by_day", Seq(ColumnDef("dt")), Map(
        "projection.enabled" -> "true", "projection.dt.type" -> "date",
        "projection.dt.format" -> "yyyy-MM-dd", "projection.dt.range" -> "[\"2024-01-01\",\"2024-03-31\"]"))),
      Def(t("events_by_month", Seq(ColumnDef("m")), Map(
        "projection.enabled" -> "true", "projection.m.type" -> "integer", "projection.m.range" -> "[1,12]"))),
      Def(t("docs_by_lang", Seq(ColumnDef("lang")), Map(
        "projection.enabled" -> "true", "projection.lang.type" -> "enum",
        "projection.lang.values" -> "de,en,es,fr,zh"))),
      Def(t("iceberg_events", Seq(ColumnDef("event_type")), Map("table_type" -> "ICEBERG"))),
      Def(t("iceberg_orders_m", Seq(ColumnDef("d")), Map("table_type" -> "ICEBERG"))),
      Def(t("delta_events", Seq(ColumnDef("event_type")), Map("table_type" -> "DELTA"))),
      Def(t("delta_lineitem", params = Map("table_type" -> "DELTA"))),
      Def(t("hudi_lineitem", Seq(ColumnDef("l_returnflag")), Map("table_type" -> "HUDI"))),
      Def(t("orders_clustered_skip")),
      Def(t("events_wide", Seq(ColumnDef("bucket", "int"), ColumnDef("shard", "int"))), wideParts.toSeq),
      Def(t("iceberg_lineitem_mor", params = Map("table_type" -> "ICEBERG"))))
  }
}
