package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchAccess
import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer

/** The benchmark's JVM side. `run.py` generates every input and calls:
  *
  *  - `prepare --corpus D --fixtures D --work D --cores N --oracles F`:
  *    write the benchmark's tables and the pipeline queries' oracle SQL;
  *  - `run --workload W --schedule F --corpus D --fixtures D --work D
  *    --cores N --seconds S --trace 0|1 --out F`: set up, run the
  *    closed loop for S seconds, write raw samples and counters to F.
  */
object Main {
  /** Setup is repeated in every run and its median reported. */
  val SetupReps = 3
  /** The heavy registered queries of pipeline_heavy. */
  val PipelineQueries = Seq("d7_ngram_jaccard", "d8_dup_clusters", "g29_iceberg_mor")

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val a = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args(0) match {
      case "prepare" => prepare(a)
      case "run" => run(a)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  private def prepare(a: Map[String, String]): Unit = {
    val spark = session(a("cores").toInt, a("work"))
    try {
      Tables.build(spark, a("corpus"), a("fixtures"))
      val sql = PipelineQueries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap
      Files.write(new File(a("oracles")).toPath, json.writeValueAsBytes(sql))
    } finally spark.stop()
  }

  private def run(a: Map[String, String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val schedule = json.readTree(new File(a("schedule")))
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val counters = new Counters
    val tracer = new Tracer
    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var ctx: Ctx = null
    var wl: Workload = null
    // Each rep: fresh SparkContext, catalog, engine and workload state.
    (0 until SetupReps).foreach { _ =>
      val t0 = System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      counters.reset()
      spark = session(a("cores").toInt, a("work"))
      spark.sparkContext.addSparkListener(new ExecListener(counters))
      ctx = new Ctx(spark, schedule, a("corpus"), a("fixtures"), a("work"), a("cores").toInt, counters, tracer)
      wl = a("workload") match {
        case "glue_interactive" => new GlueInteractive(ctx)
        case "pipeline_heavy" => new PipelineHeavy(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val f0 = System.nanoTime()
    wl.fill()
    val fillS = (System.nanoTime() - f0) / 1e9

    var i = 0
    var attempted = 0
    var failed = 0
    def step(traced: Boolean): Option[OpResult] = {
      tracer.active = traced
      tracer.op = i
      tracer.ownNs = 0L
      val r = wl.op(i, traced)
      r.foreach { res =>
        i += 1
        attempted += 1
        if (!res.ok) failed += 1
      }
      r
    }
    val firstOpS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val warmEnd = System.nanoTime() + (wl.warmupSeconds * 1e9).toLong
    while (System.nanoTime() < warmEnd && step(traced = false).isDefined) {}
    PerfbenchAccess.drain(spark.sparkContext)
    counters.reset()
    tracer.spans.clear()

    // The timed window: closed loop, one client. In a traced run every
    // other op is traced, so traced and untraced ops share caches and
    // time and their difference is the tracing overhead; a workload
    // whose traced ops make the same calls traces every op and reports
    // the tracer's own time instead.
    val minOps = Option(schedule.get("min_ops")).map(_.asInt).getOrElse(1)
    val ops = ArrayBuffer.empty[(OpResult, Double)]
    var persisted = 0
    val w0 = System.nanoTime()
    var more = true
    while (more && ((System.nanoTime() - w0) / 1e9 < seconds || ops.size < minOps)) {
      step(traced = trace && (wl.traceEveryOp || i % 2 == 1)) match {
        case Some(r) =>
          ops += r -> tracer.ownNs / 1e6
          persisted = spark.sparkContext.getPersistentRDDs.size
        case None => more = false
      }
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    // The window's counters, before the figures taken after it add to them.
    PerfbenchAccess.drain(spark.sparkContext)
    val windowCounters = counters.snapshot
    val finish = wl.finish()
    // Spark's ContextCleaner frees shuffle and broadcast state only after
    // a GC has cleared their references, so collect until the live heap
    // stops shrinking.
    val memory = java.lang.management.ManagementFactory.getMemoryMXBean
    var heap = Long.MaxValue
    var shrinking = true
    while (shrinking) {
      System.gc()
      Thread.sleep(300)
      val used = memory.getHeapMemoryUsage.getUsed
      shrinking = used < heap * 0.99
      heap = math.min(heap, used)
    }

    val out = Map(
      "workload" -> a("workload"),
      "setup_s" -> setupS.toSeq,
      "fill_s" -> fillS,
      "jvm_start_to_first_op_s" -> firstOpS,
      "window_s" -> windowS,
      "schedule_exhausted" -> !more,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> ctx.errors.toSeq,
      "ops" -> ops.map { case (o, tracerMs) =>
        Map("kind" -> o.kind, "ms" -> o.ms, "ok" -> o.ok, "traced" -> o.traced, "tracer_ms" -> tracerMs)
      }.toSeq,
      "counters" -> (windowCounters ++ finish),
      "persisted_rdds" -> persisted,
      "heap_live_mb" -> heap / 1048576.0,
      "self_ms" -> tracer.selfMs,
      "spans" -> tracer.spans.map(s =>
        Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs)).toSeq)
    Files.write(new File(a("out")).toPath, json.writeValueAsString(out).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
