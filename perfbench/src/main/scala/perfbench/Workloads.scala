package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.catalog.FixtureCatalog
import graft.engine.GlueTableEngine
import graft.listing.HadoopFileLister
import graft.model.TableType
import org.apache.spark.sql.execution.FileSourceScanLike
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.io.File
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One timed client call. `kind` is the class its latency is reported
  * under (cold, warm, append); a failed or wrong op carries no timing.
  */
final case class OpResult(kind: String, ms: Double, ok: Boolean, traced: Boolean)

/** What every workload shares: the session, the probes, the schedule. */
final class Ctx(val spark: SparkSession, val schedule: JsonNode, val corpusDir: String,
    val fixtures: String, val work: String, val cores: Int, val counters: Counters, val tracer: Tracer)
    extends AdaptiveSparkPlanHelper {
  val errors = scala.collection.mutable.ArrayBuffer.empty[String]

  def fail(what: String): Unit = synchronized { if (errors.size < 5) errors += what }

  /** Attribute the Spark jobs `f` starts to `layer`. */
  def inLayer[T](layer: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(ExecListener.LayerKey)
    sc.setLocalProperty(ExecListener.LayerKey, layer)
    try f finally sc.setLocalProperty(ExecListener.LayerKey, prev)
  }

  /** A fresh engine over `catalog`, listing through the counting lister. */
  def engine(catalog: CountingCatalog): GlueTableEngine =
    new GlueTableEngine(spark, catalog, listerOverride = Some(
      new CountingLister(new HadoopFileLister(spark.sparkContext.hadoopConfiguration), counters)))

  def catalog(): CountingCatalog = new CountingCatalog(new FixtureCatalog(), counters)

  /** Files read by the executed plan's scans. */
  def filesRead(df: DataFrame): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) { case s: FileSourceScanLike => s }
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum

  def recordPhases(df: DataFrame): Unit =
    df.queryExecution.tracker.phases.foreach { case (phase, s) =>
      counters.add(s"catalyst.$phase.ms", s.durationMs.toDouble)
    }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

trait Workload {
  /** Untimed state the window starts from, built once after set-up. */
  def fill(): Unit = ()
  /** Untimed warm-up before the window, in seconds (0: none). */
  def warmupSeconds: Double
  /** In a traced run, trace every op (the traced path makes the same
    * calls as the untraced one) rather than every other op.
    */
  def traceEveryOp: Boolean = false
  /** Run op `i` of the schedule, or None once the schedule is used up. */
  def op(i: Int, traced: Boolean): Option[OpResult]
  /** Figures taken once, after the window. */
  def finish(): Map[String, Double] = Map.empty
}

object Workload {
  /** Canonical form of a result: one `a|b|...` string per row, sorted. */
  def canon(rows: Array[Row]): Seq[String] =
    rows.map(_.toSeq.map(v => if (v == null) "null" else v.toString).mkString("|")).toSeq.sorted

  def expected(op: JsonNode): Seq[String] = op.get("expect").elements().asScala.map(_.asText).toSeq.sorted

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum else f.length()
}

/** The paper's traffic: short pruned aggregates over `glue.default.*`
  * aliases drawn with Zipf skew (the catalog holds more names than the
  * engine's caches), beside a writer appending to a Delta and an
  * Iceberg table that setup writes afresh. Every read is checked
  * against an answer the schedule carries.
  */
final class GlueInteractive(c: Ctx) extends Workload {
  private val cat = c.catalog()
  private val aliases = c.schedule.get("aliases").asInt
  Tables.definitions(c.fixtures).foreach { d =>
    (0 until aliases).foreach { a =>
      cat.inner.register(d.table.copy(name = f"${d.table.name}__a$a%02d"), d.parts)
    }
  }
  private val engine = c.engine(cat)
  private val ops = c.schedule.get("ops")
  private val events = Tables.corpus(c.spark, c.corpusDir, "events")
    .filter(col("event_id") % c.schedule.get("lake_every").asLong === 0)
  private val lake = s"${c.work}/lake"
  private val locs = Map("lake_delta" -> s"$lake/lake_delta", "lake_iceberg" -> s"$lake/lake_iceberg")
  private var appends = 0

  locally {
    val f = new File(lake)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
    c.inLayer("write") {
      engine.writeDeltaTable(events, Tables.Db, "lake_delta", locs("lake_delta"), Seq("event_type"))
      engine.writeIcebergTable(events, Tables.Db, "lake_iceberg", locs("lake_iceberg"), Seq("event_type"))
    }
    locs.foreach { case (t, l) =>
      cat.written.add(t)
      cat.inner.register(graft.model.GlueTable(Tables.Db, t, Some(l), Seq(graft.model.ColumnDef("event_type")),
        Map("table_type" -> (if (t == "lake_delta") "DELTA" else "ICEBERG"))))
    }
  }
  private val startBytes = locs.values.map(l => Workload.dirBytes(new File(l))).sum

  /** Plan one read of every name, least popular first, on `cores`
    * threads: the engine's caches start the window full and holding the
    * hot names, so reads of the tail evict.
    */
  override def fill(): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(c.cores)
    try c.schedule.get("fill").elements().asScala.toList.map { f =>
      pool.submit(new Runnable {
        def run(): Unit =
          try engine.query(f.get("sql").asText).queryExecution.executedPlan
          catch { case NonFatal(e) => c.fail(s"fill ${f.get("table").asText}: $e") }
      })
    }.foreach(_.get())
    finally pool.shutdown()
  }

  def warmupSeconds: Double = c.schedule.get("warmup_s").asDouble

  def op(i: Int, traced: Boolean): Option[OpResult] = {
    if (i >= ops.size) return None
    val o = ops.get(i)
    val fetch0 = cat.inner.fetchCount.get
    val t0 = System.nanoTime()
    if (o.get("kind").asText == "append") {
      val ok = append(i, o)
      return Some(OpResult("append", c.ms(t0), ok, traced))
    }
    val sql = o.get("sql").asText
    val lists0 = c.counters.get("listing.list.calls")
    val ok = try {
      val rows = c.tracer.span("op") {
        if (traced) o.get("refs").elements().asScala.foreach { ref =>
          val (db, tbl) = (ref.get("db").asText, ref.get("table").asText)
          val meta = c.tracer.span("tableMetadata")(engine.tableMetadata(db, tbl))
          val listed = c.tracer.span("files") {
            meta.tableType match {
              case TableType.Iceberg | TableType.Delta | TableType.Hudi =>
                c.counters.time("listing.replay")(engine.files(db, tbl))
              case _ => engine.files(db, tbl)
            }
          }
          if (locs.contains(tbl)) logShape(tbl)
          val preds = ref.get("prune").elements().asScala.map(p => expr(p.asText)).toSeq
          val kept = c.tracer.span("prunedFiles") {
            c.counters.time("prune")(c.inLayer("prune")(engine.prunedFiles(db, tbl, preds)))
          }
          c.counters.add("prune.files_listed", listed.size.toDouble)
          c.counters.add("prune.files_kept", kept.size.toDouble)
        }
        val df = c.tracer.span("query")(c.counters.time("resolve.rewrite")(engine.query(sql)))
        if (traced) {
          c.tracer.span("optimization")(df.queryExecution.optimizedPlan)
          c.tracer.span("planning")(df.queryExecution.executedPlan)
        }
        val rows = c.tracer.span("collect")(c.counters.time("exec")(df.collect()))
        c.recordPhases(df)
        val read = c.filesRead(df).toDouble
        c.counters.add("exec.files_read", read)
        if (traced) c.counters.add("skip.files_read", read)
        rows
      }
      val good = Workload.canon(rows) == Workload.expected(o)
      if (!good) c.fail(s"op $i wrong: ${Workload.canon(rows)} for $sql")
      good
    } catch { case NonFatal(e) => c.fail(s"op $i: $e"); false }
    val ms = c.ms(t0)
    val cold = cat.inner.fetchCount.get != fetch0
    c.counters.add("cache.meta_hits", if (cold) 0 else 1)
    if (o.get("listed").asBoolean) {
      c.counters.add("cache.listed_ops", 1)
      c.counters.add("cache.listing_hits", if (c.counters.get("listing.list.calls") == lists0) 1 else 0)
    }
    Some(OpResult(if (cold) "cold" else "warm", ms, ok, traced))
  }

  /** One seeded batch of corpus events, ids shifted past every earlier
    * batch; a Delta append is followed by the streaming sink's
    * checkpoint policy.
    */
  private def append(i: Int, o: JsonNode): Boolean = try {
    val table = o.get("table").asText
    val batch = events.filter(col("event_id") >= o.get("from").asLong && col("event_id") < o.get("until").asLong)
      .withColumn("event_id", col("event_id") + o.get("shift").asLong)
    c.tracer.span("op") {
      c.inLayer("write") {
        c.tracer.span("commit")(c.counters.time("write.commit") {
          if (table == "lake_delta") engine.appendDeltaTable(batch, Tables.Db, table)
          else engine.appendIcebergTable(batch, Tables.Db, table)
        })
        if (table == "lake_delta") c.tracer.span("checkpoint") {
          val cp = c.counters.time("write.checkpoint")(
            graft.listing.DeltaLogWriter.maybeCheckpoint(c.spark, locs(table), every = 10))
          c.counters.add("write.checkpoints", cp.size.toDouble)
        }
      }
    }
    appends += 1
    true
  } catch { case NonFatal(e) => c.fail(s"op $i: $e"); false }

  /** How much log a read of `table` must replay: Delta commits after
    * the newest checkpoint, or Iceberg manifest files.
    */
  private def logShape(table: String): Unit = {
    val names = (d: String) => Option(new File(d).list()).getOrElse(Array.empty[String]).toSeq
    if (table == "lake_delta") {
      val log = names(s"${locs(table)}/_delta_log")
      val version = (n: String) => n.takeWhile(_.isDigit).toLong
      val cp = log.filter(_.endsWith(".checkpoint.parquet")).map(version).maxOption.getOrElse(-1L)
      c.counters.add("lake.delta_tail_commits", log.count(n => n.endsWith(".json") && version(n) > cp).toDouble)
      c.counters.add("lake.delta_reads", 1)
    } else {
      c.counters.add("lake.iceberg_manifests",
        names(s"${locs(table)}/metadata").count(n => n.startsWith("manifest_") && n.endsWith(".avro")).toDouble)
      c.counters.add("lake.iceberg_reads", 1)
    }
  }

  override def finish(): Map[String, Double] = {
    val total = locs.values.map(l => Workload.dirBytes(new File(l))).sum
    val live = locs.keys.toSeq.map(t => engine.files(Tables.Db, t).map(_.size).sum).sum
    Map("write.storage_amp" -> total.toDouble / live, "write.storage_amp.base" -> live.toDouble,
      "write.bytes_per_append" -> (if (appends == 0) 0.0 else (total - startBytes).toDouble / appends))
  }
}

/** Repeated passes over heavy registered queries; one op is one pass.
  * The first pass in the JVM is the cold op.
  */
final class PipelineHeavy(c: Ctx) extends Workload {
  private val cat = c.catalog()
  Tables.definitions(c.fixtures).filter(_.table.name == "iceberg_lineitem_mor")
    .foreach(d => cat.inner.register(d.table))
  private val engine = c.engine(cat)
  private val passes = c.schedule.get("passes")
  private val digests = scala.collection.mutable.Map.empty[String, (Long, Int)]
  private val dumpDir = s"${c.work}/pipeline_out"

  /** g29_iceberg_mor's statement, over this benchmark's copy of its table. */
  private val G29Sql =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS q
      |FROM glue.default.iceberg_lineitem_mor
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  private def run(q: String): DataFrame =
    if (q == "g29_iceberg_mor") engine.query(G29Sql) else graft.SparkEntry.queries(q)(c.spark, c.corpusDir)

  def warmupSeconds: Double = 0

  override def traceEveryOp: Boolean = true

  def op(i: Int, traced: Boolean): Option[OpResult] = {
    if (i >= passes.size) return None
    val t0 = System.nanoTime()
    var ok = true
    val dumps = scala.collection.mutable.ArrayBuffer.empty[(String, StructType, Array[Row])]
    c.tracer.span("op") {
      passes.get(i).elements().asScala.map(_.asText).foreach { q =>
        val q0 = System.nanoTime()
        try {
          val (schema, rows) = c.inLayer(s"op.$q")(c.tracer.span(q) {
            val df = run(q)
            (df.schema, df.collect())
          })
          c.counters.add(s"op.$q.s", c.ms(q0) / 1000)
          val digest = (rows.map(r => scala.util.hashing.MurmurHash3.stringHash(r.toString).toLong).sum, rows.length)
          digests.get(q) match {
            case None =>
              digests(q) = digest
              dumps += ((q, schema, rows))
            case Some(d) if d != digest =>
              ok = false
              c.fail(s"pass $i: $q digest $digest differs from the first pass's $d")
            case _ =>
          }
        } catch { case NonFatal(e) => ok = false; c.fail(s"pass $i: $q: $e") }
      }
    }
    val ms = c.ms(t0)
    // The first pass also writes its answers for the oracle check; that
    // write is not part of the op.
    dumps.foreach { case (q, schema, rows) =>
      Shim.classic(c.spark).createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dumpDir/$q")
    }
    Some(OpResult(if (i == 0) "cold" else "warm", ms, ok, traced))
  }
}
