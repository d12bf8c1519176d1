package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, AttributeSet, BoundReference, Expression, Predicate, SubqueryExpression}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{FileFormat, FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A [[FileIndex]] over files already listed (and stat'ed) by the
  * engine's cached lister — the Spark-native analog of the
  * reference's files-variable read path (reference:
  * src/glue-table-cache.ts:323-333 feeding
  * `parquet_scan(getvariable(...))`): DuckDB scans exactly the listed
  * paths; here Spark plans over exactly the listed `FileStatus`es.
  *
  * Why not hand Spark the paths and let `InMemoryFileIndex` re-list?
  * At 10M files that second pass is millions of S3 LIST/HEAD calls
  * per query, for metadata the engine's TTL cache already holds. This
  * index serves size/mtime from the listing (S3 LIST carries both;
  * Iceberg manifests carry size), so the scan plans its splits and
  * the optimizer gets real `sizeInBytes` statistics — broadcast
  * decisions are wrong in BOTH directions if sizes are fake: 0 bytes
  * broadcasts a 100 TB table (OOM), +∞ never broadcasts a 1 MB one.
  *
  * Partition semantics: each file belongs to a partition-value tuple
  * computed at listing time (Hive `key=value` extraction, projection
  * patterns, or catalog values for out-of-root partitions). Spark's
  * `FileSourceStrategy` splits query predicates on
  * [[partitionSchema]] and passes the partition conjuncts to
  * [[listFiles]], giving native planner-time partition pruning (and
  * runtime dynamic pruning) — per-relation and sound under OR/CTE,
  * unlike the reference's global top-level-WHERE rewrite
  * (reference: src/sql-transformer.ts:244-247).
  */
final class PreListedFileIndex(
    override val partitionSchema: StructType,
    partitions: Seq[(InternalRow, Seq[FileStatus])],
    roots: Seq[Path],
    stats: PreListedFileIndex.Stats = PreListedFileIndex.NoStats)
  extends FileIndex {

  override def rootPaths: Seq[Path] = roots

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    select(partitionFilters, dataFilters).map { case (values, fs) => PartitionDirectory(values, fs.toArray) }

  /** This index narrowed to the files the filters keep, or `this` when
    * they keep every file. [[PruneListedPartitions]] plans with it, so
    * `sizeInBytes` and `inputFiles` describe what the scan reads.
    */
  def narrowed(partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): PreListedFileIndex = {
    val kept = select(partitionFilters, dataFilters)
    if (kept.iterator.map(_._2.size).sum == partitions.iterator.map(_._2.size).sum) this
    else new PreListedFileIndex(partitionSchema, kept, roots, stats)
  }

  /** The one file selection: the partitions `partitionFilters` keep,
    * then, within them, the files no data filter is provably false on
    * (footer/manifest min-max and Iceberg hidden-partition facts —
    * the Delta/Iceberg data-skipping design). Stats are asked for only
    * when a usable data filter exists, and only for the files the
    * partition prune kept. A filter that can't be bound or proved
    * (subquery-bearing, non-deterministic, an unknown shape, a file
    * with no stats) keeps the files — a superset is always safe; the
    * filters still run above the scan.
    */
  private def select(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[(InternalRow, Seq[FileStatus])] = {
    val byPartition = partitionPredicate(partitionFilters).fold(partitions)(keep => partitions.filter(p => keep(p._1)))
    val usable = dataFilters.filter(f => f.deterministic && !SubqueryExpression.hasSubquery(f))
    if (usable.isEmpty || byPartition.isEmpty) return byPartition
    val paths = byPartition.flatMap(_._2.map(_.getPath.toString))
    val ranges = paths.zip(stats(paths)).toMap
    val resolver = SQLConf.get.resolver
    byPartition.map { case (values, fs) =>
      values -> fs.filter { f =>
        val st = ranges(f.getPath.toString)
        st.isEmpty || !usable.exists(e => graft.listing.StatsPruning.proveFalse(e, st, resolver))
      }
    }.filter(_._2.nonEmpty)
  }

  private def partitionPredicate(partitionFilters: Seq[Expression]): Option[InternalRow => Boolean] = {
    if (partitionSchema.isEmpty) return None
    val resolver = SQLConf.get.resolver
    val bindable = partitionFilters.filter { f =>
      f.deterministic && !SubqueryExpression.hasSubquery(f) &&
        f.references.forall(a => partitionSchema.exists(sf => resolver(sf.name, a.name)))
    }
    if (bindable.isEmpty) return None
    val bound = bindable.reduce(And).transform {
      case a: AttributeReference =>
        val idx = partitionSchema.indexWhere(sf => resolver(sf.name, a.name))
        BoundReference(idx, partitionSchema(idx).dataType, nullable = true)
    }
    val predicate = Predicate.createInterpreted(bound)
    predicate.initialize(0)
    Some(predicate.eval)
  }

  override def inputFiles: Array[String] =
    partitions.iterator.flatMap(_._2.map(_.getPath.toString)).toArray

  override def refresh(): Unit = () // engine TTL caches own freshness

  /** Real bytes on disk × the configured compression factor — the
    * statistic `JoinSelection` compares against the broadcast
    * threshold.
    */
  override val sizeInBytes: Long = {
    val raw = partitions.iterator.flatMap(_._2).map(_.getLen).sum
    (raw * SQLConf.get.fileCompressionFactor).toLong
  }
}

object PreListedFileIndex {

  /** Column ranges of the given files (Hadoop path strings), in their
    * order; an empty map means "cannot skip this file".
    */
  type Stats = Seq[String] => Seq[Map[String, graft.listing.ColRange]]

  val NoStats: Stats = _.map(_ => Map.empty)

  /** `FileFormat` for a Glue `classification` table parameter. */
  def formatFor(classification: String): FileFormat = classification match {
    case "csv"  => new org.apache.spark.sql.execution.datasources.csv.CSVFileFormat()
    case "json" => new org.apache.spark.sql.execution.datasources.json.JsonFileFormat()
    case "orc"  => new org.apache.spark.sql.execution.datasources.orc.OrcFileFormat()
    case "xml"  => new org.apache.spark.sql.execution.datasources.xml.XmlFileFormat()
    case "avro" => new GraftAvroFileFormat()
    case _      => new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
  }

  /** Plan a DataFrame over a pre-listed file set: `HadoopFsRelation`
    * over a [[PreListedFileIndex]], wrapped in a `LogicalRelation` —
    * exactly what `spark.read.parquet(paths)` builds, minus the
    * driver-side re-listing `InMemoryFileIndex` would do.
    */
  def dataFrame(
      spark: SparkSession,
      format: FileFormat,
      options: Map[String, String],
      dataSchema: StructType,
      partitionSchema: StructType,
      partitions: Seq[(InternalRow, Seq[FileStatus])],
      roots: Seq[Path],
      stats: Stats = NoStats): DataFrame = {
    Shim.addOptimizerRule(spark, PruneListedPartitions)
    val index = new PreListedFileIndex(partitionSchema, partitions, roots, stats)
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = partitionSchema,
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = format,
      options = options)(Shim.classic(spark))
    Shim.ofRows(spark, LogicalRelation(relation, isStreaming = false))
  }
}

/** Optimizer rule: narrow each [[PreListedFileIndex]] relation to the
  * files its filters keep — what Spark's `PruneFileSourcePartitions`
  * does for catalog tables' partitions, plus the index's stats skip.
  * The scan would select the same files when it lists them; doing it
  * before physical planning makes the relation's `sizeInBytes` the
  * selection's, so a slice of a large table can still be a join's
  * broadcast side (and keep dynamic partition pruning on the other
  * side), and `inputFiles` names the files the scan reads. It
  * evaluates the filters over the cached listing and stats: no Spark
  * action. [[PreListedFileIndex.dataFrame]] adds it to the session
  * that plans the relation.
  */
object PruneListedPartitions extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan transformDown {
    case op @ PhysicalOperation(_, filters, lr: LogicalRelation) if filters.nonEmpty =>
      lr.relation match {
        case fs @ HadoopFsRelation(index: PreListedFileIndex, _, _, _, _, _) =>
          val resolver = SQLConf.get.resolver
          val partitionCols = AttributeSet(lr.output.filter(a =>
            index.partitionSchema.exists(f => resolver(f.name, a.name))))
          val (onPartitions, rest) = filters.partition(f =>
            f.references.nonEmpty && f.references.subsetOf(partitionCols))
          val pruned = index.narrowed(onPartitions, rest.filter(_.references.intersect(partitionCols).isEmpty))
          if (pruned eq index) op
          else {
            val prunedRelation = lr.copy(relation = fs.copy(location = pruned)(fs.sparkSession))
            op transformUp { case l if l eq lr => prunedRelation }
          }
        case _ => op
      }
  }
}
