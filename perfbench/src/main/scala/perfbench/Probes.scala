package perfbench

import graft.catalog.{CatalogProvider, FixtureCatalog}
import graft.listing.FileLister
import graft.model.{GlueTable, PartitionInfo, S3FileInfo}
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Named totals shared by the probes. Every layer reports through
  * `add`/`time`, so a counter name is the same string the report prints.
  */
final class Counters {
  private val m = mutable.LinkedHashMap.empty[String, Double]

  def add(name: String, v: Double): Unit = synchronized { m(name) = m.getOrElse(name, 0.0) + v }
  def get(name: String): Double = synchronized { m.getOrElse(name, 0.0) }
  def snapshot: Map[String, Double] = synchronized { m.toMap }
  def reset(): Unit = synchronized { m.clear() }

  /** Run `f`, adding one call to `<name>.calls` and its wall time to `<name>.ms`. */
  def time[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally {
      add(s"$name.calls", 1)
      add(s"$name.ms", (System.nanoTime() - t0) / 1e6)
    }
  }
}

/** Delegating catalog: counts and times every `getTable` and
  * `getPartitions` the engine makes. `inner.fetchCount` still advances,
  * which is how an op is classified cold.
  */
final class CountingCatalog(val inner: FixtureCatalog, c: Counters) extends CatalogProvider {
  private val fetched = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** Tables whose cache entries a write invalidates: their refetches are not evictions. */
  val written = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  override def getTable(database: String, table: String): GlueTable = {
    // The engine's TTLs are an hour, so a refetch is an eviction.
    if (!fetched.add(s"$database.$table") && !written.contains(table)) c.add("cache.meta_evictions", 1)
    c.time("catalog.get_table")(inner.getTable(database, table))
  }
  override def getPartitions(database: String, table: String): Seq[PartitionInfo] =
    c.time("catalog.get_partitions")(inner.getPartitions(database, table))
}

/** Delegating file lister, passed to the engine as `listerOverride`. */
final class CountingLister(inner: FileLister, c: Counters) extends FileLister {
  override def list(location: String, partitionKeys: Seq[String]): Seq[S3FileInfo] = {
    val out = c.time("listing.list")(inner.list(location, partitionKeys))
    c.add("listing.files_listed", out.size)
    out
  }
}

/** Job, stage and task totals, attributed to the layer named by the
  * `perfbench.layer` local property of the thread that started the job
  * (`exec` unless a caller sets another, e.g. `prune` or `write`).
  * Listener events arrive asynchronously: read totals only after
  * [[org.apache.spark.PerfbenchAccess.drain]].
  */
final class ExecListener(c: Counters) extends SparkListener {
  private val stageLayer = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private def layerOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(ExecListener.LayerKey))).getOrElse("")

  private def add(layer: String, name: String, v: Double): Unit = {
    c.add(s"exec.$name", v)
    if (layer.nonEmpty) c.add(s"$layer.$name", v)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val layer = layerOf(e.properties)
    e.stageIds.foreach(stageLayer.put(_, layer))
    add(layer, "jobs", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(stageLayer.getOrDefault(e.stageInfo.stageId, ""), "stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val layer = stageLayer.getOrDefault(e.stageId, "")
    add(layer, "tasks", 1)
    val tm = e.taskMetrics
    if (tm != null) {
      add(layer, "task_run_ms", tm.executorRunTime.toDouble)
      add(layer, "task_cpu_ms", tm.executorCpuTime / 1e6)
      add(layer, "gc_ms", tm.jvmGCTime.toDouble)
      add(layer, "shuffle_write_bytes", tm.shuffleWriteMetrics.bytesWritten.toDouble)
      add(layer, "shuffle_read_bytes",
        (tm.shuffleReadMetrics.remoteBytesRead + tm.shuffleReadMetrics.localBytesRead).toDouble)
      add(layer, "spill_bytes", (tm.memoryBytesSpilled + tm.diskBytesSpilled).toDouble)
      add(layer, "bytes_read", tm.inputMetrics.bytesRead.toDouble)
      // Spark UI's definition: the part of the task's life not spent
      // deserializing, running, serializing or fetching the result.
      val info = e.taskInfo
      val delay = info.duration - tm.executorRunTime - tm.executorDeserializeTime -
        tm.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
      add(layer, "sched_delay_ms", math.max(0L, delay).toDouble)
    }
  }
}

object ExecListener {
  val LayerKey = "perfbench.layer"
}

/** One traced call: `parent` is -1 at the top of an op. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

/** In-memory spans, written once at the end of a traced run. Spans are
  * recorded only while `active` (set per op).
  */
final class Tracer {
  var active = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op = 0

  /** The tracer's own time, outside the calls it wraps. */
  var ownNs = 0L

  def span[T](name: String)(f: => T): T =
    if (!active) f
    else {
      val b0 = System.nanoTime()
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, t1)
        ownNs += (t0 - b0) + (System.nanoTime() - t1)
      }
    }

  /** Self time per span name: each span's duration minus the time its
    * direct children cover.
    */
  def selfMs: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e6).sum
    }
  }
}
