package graft.engine

import graft.cache.Retry
import graft.listing.{ColRange, FooterStats, IcebergSnapshotResolver}
import graft.model._
import graft.prune.Extractors
import org.apache.hadoop.fs.{FileStatus, Path => HadoopPath}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BindReferences, GenericInternalRow}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{PreListedFileIndex, Shim}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, MapType, StringType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, Row}

/** One position sidecar — parquet rows of `(file_path, pos)`: a Delta
  * deletion vector, scoped to the raw data-file paths that reference
  * it, or an Iceberg position delete (`scope` None: it applies to
  * every file it names).
  */
private[engine] final case class PositionDelete(sidecar: String, scope: Option[Set[String]])

/** A table version's merge-on-read deletes, built once per snapshot:
  * position sidecars, Iceberg equality deletes, and the raw data-file
  * path -> data sequence number map that scopes the equality deletes
  * (kept only when the version has delete files).
  */
private[engine] final case class DeleteSet(
    positions: Seq[PositionDelete],
    equality: Seq[IcebergSnapshotResolver#IcebergDeleteFile],
    dataSeq: Map[String, Long]) {

  def isEmpty: Boolean = positions.isEmpty && equality.isEmpty

  /** The position sidecars that apply to data file `path`. */
  def sidecarsOf(path: String): Set[String] =
    positions.filter(_.scope.forall(_(path))).map(_.sidecar).toSet
}

private[engine] object DeleteSet {
  val empty: DeleteSet = DeleteSet(Nil, Nil, Map.empty)

  /** Delta deletion vectors (data file -> sidecar) as position
    * deletes, each scoped to the files that CURRENTLY reference its
    * sidecar: a superseded sidecar's rows for a re-deleted file are a
    * subset of its replacement's, and a rewritten file has a new path
    * its old rows can never match.
    */
  def deletionVectors(dvs: Map[String, String]): Seq[PositionDelete] =
    dvs.groupBy(_._2).toSeq.sortBy(_._1).map { case (sidecar, m) =>
      PositionDelete(sidecar, Some(m.keySet))
    }
}

/** The engine's read half: a Glue table resolved to a snapshot of
  * files (listing, lake log or manifests) and read through one
  * [[PreListedFileIndex]], the snapshot's [[DeleteSet]] applied; plus
  * the incremental and changelog reads.
  *
  * Scale notes (100 TB design):
  *  - Listings are driver-side and cached per table version —
  *    O(#files) strings, never data. Local listings walk directories
  *    with plain `listStatus`; object stores answer one recursive
  *    paged LIST ([[graft.listing.HadoopFileLister]]).
  *  - The index's partition columns carry the listed values (Hive
  *    `key=value`, projection patterns, lake metadata), so it is the
  *    query path's one file prune: each relation's resolved, typed
  *    filters keep partitions, then skip files by stats — sound under
  *    OR/CTE/subquery predicates, fixing the reference's OR-to-AND
  *    over-pruning (reference: src/sql-transformer.ts:244-247,
  *    src/glue-table-cache.ts:329-331). Planning a warm query runs no
  *    Spark action.
  *  - File-skipping stats are fetched on demand, only for the files a
  *    query with data filters still reads after its partition prune.
  *    Iceberg hidden-transform values are stats too.
  *  - Merge-on-read deletes cost one broadcast anti-join per delete
  *    kind; changelogs scan only the files a change touches.
  */
trait TableReads { self: GlueTableEngine =>

  private def normalizeDir(l: String): String = if (l.endsWith("/")) l else l + "/"

  /** Scheme-insensitive canonical form for path comparison: listed
    * paths come back scheme-qualified (`file:/...`, `s3a://bucket/...`)
    * while catalog locations are free-form (`/...`, `s3://bucket/...`).
    * Authority+path is enough to match a file to its partition dir —
    * a table's partitions live on one filesystem.
    *
    * MUST produce the same string as [[canonPathCol]] for the same
    * URI: driver-side literals from this function are compared
    * against columns canonicalized by that one (sidecar `isin`
    * filters, changelog position legs). `s3://bucket/k` therefore
    * canonicalizes to `/bucket/k` (leading slash, authority kept) —
    * exactly the regexp's output — not `bucket/k`.
    * PathCanonSpec pins the agreement across schemes.
    */
  private[graft] def canonPath(p: String): String = {
    val uri = new org.apache.hadoop.fs.Path(p).toUri
    Option(uri.getAuthority).filter(_.nonEmpty).map("/" + _).getOrElse("") + uri.getPath
  }

  /** Hive partitions whose catalog-declared `location` lies OUTSIDE
    * the table root, paired with their catalog values. Glue allows a
    * partition to live anywhere; the reference lists only the table
    * location (reference: src/util/s3.ts:34-58) and silently misses
    * such partitions — here each external location is listed
    * separately and its values are tagged from the CATALOG, since an
    * out-of-root path carries no `key=value` segments to extract.
    */
  private def outOfRootPartitions(meta: CachedTableMetadata): Seq[(PartitionInfo, Map[String, String])] = {
    // compare canonicalized (scheme-insensitive) forms: catalog
    // locations are free-form, and a raw-string compare would call
    // 's3a://bucket/tbl/k=a' external to root 's3://bucket/tbl',
    // listing that partition twice (root listing + external listing)
    val rootPrefix = normalizeDir(canonPath(location(meta)))
    val keys = meta.partitionMetadata.map(_.keys).getOrElse(Nil)
    meta.partitionMetadata.map(_.values).getOrElse(Nil)
      .filter(_.location.exists(l => !normalizeDir(canonPath(l)).startsWith(rootPrefix)))
      .map(pi => pi -> keys.zip(pi.values).toMap)
  }

  // ---------------------------------------------------------------- listing

  /** Cached recursive file listing (≈ reference `__listS3FilesCached`
    * / `__listS3IcebergFilesCached`, src/glue-table-cache.ts:349-466).
    */
  def files(database: String, table: String, versionOffset: Int = 0): Seq[S3FileInfo] =
    snapshot(database, table, versionOffset).files

  /** One table version as the read path sees it: the file listing and
    * everything the SAME metadata pass yields — the [[DeleteSet]] and
    * schema (one metadata JSON, log replay or timeline walk). Typed partitions are derived lazily, skipping
    * stats per file on demand. One cache entry holds all of it, so a
    * listing never pairs with derived state of another version.
    */
  private[engine] final class TableSnapshot(meta: CachedTableMetadata,
      val files: Seq[S3FileInfo],
      /** Schema the format's own metadata records (None: Hive/plain). */
      val formatSchema: Option[StructType] = None,
      val deletes: DeleteSet = DeleteSet.empty) {

    /** The schema of [[partitions]]' values. */
    val partitionSchema: StructType = partitionSchemaOf(meta)

    /** The listing grouped by typed partition value, in a
      * deterministic order — the driver-side seed of the
      * [[PreListedFileIndex]]. Each file's values are [[keyColumns]],
      * the SAME expressions [[listingDF]] selects, evaluated on the
      * driver without a Spark job ([[partitionValuesOf]]).
      */
    lazy val partitions: Seq[(InternalRow, Seq[S3FileInfo])] = {
      val toScala = CatalystTypeConverters.createToScalaConverter(partitionSchema)
      files.groupBy(partitionValuesOf(meta)).toSeq.sortBy(p => toScala(p._1).toString)
    }

    /** Per-file column ranges for data skipping, in the order of
      * `paths` (Hadoop path strings of listed files; an empty map
      * means "cannot skip"). Iceberg manifest bounds and Delta
      * add-action stats are already in the listing (zero extra I/O,
      * the 10M-file path; Iceberg hidden partition values are folded in
    * as ranges and buckets); otherwise parquet/ORC footers of the asked
      * files are read on the driver in parallel and memoized for the
      * snapshot's life (none above footerStatsMaxFiles files).
      */
    def stats(paths: Seq[String]): Seq[Map[String, ColRange]] =
      if (listingBounds.nonEmpty) paths.map(listingBounds.getOrElse(_, Map.empty))
      else footerReader.fold(paths.map(_ => Map.empty[String, ColRange])) { read =>
        onDriverPool(paths.distinct.filterNot(footers.contains))(p => footers.putIfAbsent(p, read(p)))
        paths.map(footers)
      }

    private lazy val listingBounds: Map[String, Map[String, ColRange]] =
      files.iterator.filter(_.bounds.nonEmpty)
        .map(f => new HadoopPath(f.path).toString -> f.bounds).toMap

    private lazy val footerReader: Option[String => Map[String, ColRange]] =
      classification(meta) match {
        case fmt @ ("parquet" | "orc")
            if config.footerStatsMaxFiles > 0 && files.size <= config.footerStatsMaxFiles =>
          Some(if (fmt == "orc") FooterStats.readOrc(hadoopConf, _) else FooterStats.read(hadoopConf, _))
        case _ => None
      }

    private val footers = scala.collection.concurrent.TrieMap.empty[String, Map[String, ColRange]]
  }

  private[engine] def snapshot(database: String, table: String, versionOffset: Int): TableSnapshot = {
    val meta = tableMetadata(database, table)
    // '.'/'#' delimiters: unambiguous for names with underscores
    snapshots.get(s"$database.$table#v$versionOffset") {
      Retry.withRetry()(loadSnapshot(meta, versionOffset))
    }
  }

  private def loadSnapshot(meta: CachedTableMetadata, versionOffset: Int): TableSnapshot =
    meta.tableType match {
      case TableType.Iceberg =>
        // Sizes AND identity-partition values come from the manifests
        // themselves — zero extra metadata calls, and partitioned
        // Iceberg tables prune like Hive ones (the reference never
        // prunes Iceberg). Manifests carry no mtime; 0 = unknown.
        val v = iceberg.resolve(location(meta), versionOffset)
        new TableSnapshot(meta,
          v.files.map(f => S3FileInfo(f.path, f.partition, f.size, modTime = 0L,
            bounds = f.bounds, rowCount = f.rowCount)),
          formatSchema = v.schema,
          deletes = DeleteSet(
            v.deletes.filter(_.content == 1).map(d => PositionDelete(d.path, None)),
            v.deletes.filter(_.content == 2),
            if (v.deletes.isEmpty) Map.empty else v.files.map(f => f.path -> f.seq).toMap))
      case TableType.Delta =>
        // Same zero-extra-I/O contract: sizes, partition values, stats
        // ranges, deletion vectors and the schema all come from the
        // one log replay.
        val (dfs, dvs, schema) = delta.versionAt(location(meta), versionOffset)
        new TableSnapshot(meta,
          dfs.map(f => S3FileInfo(f.path, f.partition, f.size, modTime = 0L,
            bounds = f.bounds, rowCount = f.rowCount)),
          formatSchema = schema,
          deletes = DeleteSet(DeleteSet.deletionVectors(dvs), Nil, Map.empty))
      case TableType.Hudi =>
        // COW latest-file-slice resolution from the .hoodie timeline:
        // a directory listing would double-count every updated row
        // (stale slice versions stay until cleaning).
        val (hfs, schema) = hudi.filesAndSchema(location(meta), versionOffset)
        new TableSnapshot(meta, hfs.map { f =>
          // commit-stat partitionPaths use Hive k=v segments; surface
          // them as listing partition values (parity with Delta/Iceberg
          // listings — pruning itself works either way via the path
          // extractors)
          val pv = f.partitionPath.split('/').iterator
            .filter(_.contains('=')).map { seg =>
              val Array(k, v) = seg.split("=", 2)
              k -> java.net.URLDecoder.decode(v, "UTF-8")
            }.toMap
          S3FileInfo(f.path, pv, f.size, modTime = 0L, bounds = Map.empty,
            rowCount = None) // Hudi commit stats carry no row counts
        }, formatSchema = schema)
      case _ =>
        val root = lister.list(location(meta), meta.table.partitionKeys.map(_.name))
        val external = outOfRootPartitions(meta).flatMap { case (pi, vals) =>
          lister.list(pi.location.get, Nil).map(f => f.copy(partitionValues = vals))
        }
        new TableSnapshot(meta, root ++ external)
    }

  /** Run `f` over `xs` on a bounded driver-side thread pool — for
    * KB-scale per-file metadata GETs (footers), which are
    * latency-bound over object stores. One element runs inline.
    */
  private def onDriverPool[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.lengthCompare(1) <= 0) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(16, xs.size))
      try {
        import scala.jdk.CollectionConverters._
        val tasks = xs.map(x => new java.util.concurrent.Callable[B] { override def call() = f(x) })
        pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
      } finally pool.shutdown()
    }

  /** The listing DataFrame: `path` + one extracted partition-value
    * column per key — the in-engine analog of the reference's
    * `<db>_<tbl>_s3_listing` table (reference:
    * src/glue-table-cache.ts:298-306). The B-tree indexes the
    * reference adds (src/glue-table-cache.ts:308-312) are
    * intentionally dropped: the listing is a small in-memory
    * DataFrame, filtered with codegen'd predicates.
    */
  def listingDF(database: String, table: String): DataFrame = {
    val meta = tableMetadata(database, table)
    val sp = Shim.classic(spark)
    import sp.implicits._
    val base = files(database, table).map(f => (f.path, f.partitionValues)).toList.toDF("path", "pv")
    base.select(col("path") +: keyColumns(meta).zip(meta.table.partitionKeys)
      .map { case (c, k) => c.as(k.name) }: _*)
  }

  /** One extracted partition-value column per key, in key order, over
    * a listing with `path` and `pv` (the listing-time catalog values
    * map) columns. The one definition of a file's partition values:
    * [[listingDF]] selects it, and [[partitionValuesOf]] evaluates it
    * for the read path, so pruning and reading can never disagree.
    */
  private def keyColumns(meta: CachedTableMetadata): Seq[Column] =
    meta.table.partitionKeys.map { key =>
      val extracted = Extractors.forKey(meta, key.name)(col("path"))
      // Out-of-root Hive partition files have no key=value path
      // segment at all (raw regexp_extract yields ""); only then fall
      // back to the catalog map attached at listing time. Keying on
      // the RAW match keeps __HIVE_DEFAULT_PARTITION__ mapped to null
      // rather than resurrected from the raw listing values.
      meta.tableType match {
        case TableType.Hive =>
          val raw = regexp_extract(col("path"),
            java.util.regex.Pattern.quote(key.name) + "=([^/]+)", 1)
          when(length(raw) > 0, extracted).otherwise(element_at(col("pv"), key.name))
        // Iceberg/Delta: the manifest's partition record / the log's
        // partitionValues map is authoritative (paths need not encode
        // values); fall back to the path extractor only when the
        // metadata carries no partition data.
        case TableType.Iceberg | TableType.Delta =>
          coalesce(element_at(col("pv"), key.name), extracted)
        case _ => extracted
      }
    }

  /** A file's typed partition values: [[keyColumns]], cast to
    * [[partitionSchemaOf]], evaluated on the driver. The columns are
    * analysed once, as a projection over an empty relation of the
    * listing's shape; each file is then one interpreted evaluation of
    * the bound expressions — no Spark job, no per-file analysis.
    */
  private def partitionValuesOf(meta: CachedTableMetadata): S3FileInfo => InternalRow = {
    val pSchema = partitionSchemaOf(meta)
    if (pSchema.isEmpty) return _ => InternalRow.empty
    val input = Seq(
      AttributeReference("path", StringType)(),
      AttributeReference("pv", MapType(StringType, StringType))())
    val typed = keyColumns(meta).zip(pSchema.fields).map { case (c, f) => c.cast(f.dataType) }
    val project = Shim.analyzedPlan(Shim.ofRows(spark, LocalRelation(input)).select(typed: _*))
    val exprs = ReplaceExpressions(project).expressions.map(BindReferences.bindReference(_, input))
    val toInput = CatalystTypeConverters.createToCatalystConverter(StructType(
      input.map(a => StructField(a.name, a.dataType))))
    f => {
      val in = toInput(Row(f.path, f.partitionValues)).asInstanceOf[InternalRow]
      new GenericInternalRow(exprs.map(_.eval(in)).toArray)
    }
  }

  /** Pruned path list (≈ the reference's `SET VARIABLE db_tbl_files`
    * statement, src/glue-table-cache.ts:323-333), with the optional
    * proxy-address rewrite (src/glue-table-cache.ts:54-65, 235-239).
    */
  def prunedFiles(database: String, table: String, predicates: Seq[Column]): Seq[String] = {
    val pruned = predicates.foldLeft(listingDF(database, table))(_.filter(_))
    pruned.select("path").collect().map(r => proxyRewrite(r.getString(0))).toSeq
  }

  // ---------------------------------------------------------------- reading

  /** Full (unpruned) DataFrame for a table — the analog of the
    * reference's `GLUE__db_tbl` view body (reference:
    * src/sql-transformer.ts:295-328). Empty table → 1-null-column
    * empty relation, matching the reference's `SELECT NULL LIMIT 0`
    * (src/sql-transformer.ts:322).
    */
  def tableDF(database: String, table: String, versionOffset: Int = 0): DataFrame =
    readTable(database, table, versionOffset, keep = None, proxied = false)

  /** Exact `COUNT(*)` from METADATA alone, cheapest source first:
    * row counts the listing already carries (Delta `numRecords`,
    * Iceberg `record_count`) at zero per-file I/O, then parallel
    * KB-scale footer reads for the files it is silent about — no
    * Spark job. A distributed `count()` is the backstop when the
    * format isn't parquet, a footer is unreadable, or the snapshot
    * has merge-on-read deletes (per-file counts predate them).
    */
  def countRows(database: String, table: String, versionOffset: Int = 0): Long = {
    val meta = tableMetadata(database, table)
    val snap = snapshot(database, table, versionOffset)
    if (snap.files.isEmpty) return 0L
    if (classification(meta) != "parquet" || !snap.deletes.isEmpty)
      return tableDF(database, table, versionOffset).count()
    val (known, unknown) = snap.files.partition(_.rowCount.isDefined)
    val knownSum = known.flatMap(_.rowCount).sum
    if (unknown.isEmpty) return knownSum
    val counts = onDriverPool(unknown)(f => FooterStats.rowCount(hadoopConf, f.path))
    if (counts.forall(_.isDefined)) knownSum + counts.flatten.sum
    else tableDF(database, table, versionOffset).count()
  }

  /** Incremental snapshot read: the rows ADDED to an Iceberg table
    * between two snapshots — the primitive behind incremental
    * pipeline runs. `fromOffset` is the older snapshot (versions back
    * from latest), `toOffset` the newer; the scan plans exactly the
    * data files present in `to` but not in `from` (append-only
    * semantics: a file rewritten by compaction surfaces as "new", as
    * in Iceberg's own incremental scan), so its cost is proportional
    * to the delta, not the table.
    */
  def tableDFIncremental(database: String, table: String,
      fromOffset: Int, toOffset: Int = 0): DataFrame = {
    require(fromOffset > toOffset,
      s"fromOffset ($fromOffset) must be OLDER (greater) than toOffset ($toOffset)")
    val older = files(database, table, fromOffset).map(_.path).toSet
    readTable(database, table, toOffset,
      keep = Some(files(database, table, toOffset).map(_.path).toSet -- older),
      proxied = false)
  }

  /** Changelog partition-value attachment: `(raw, fpCol) => raw +
    * typed partition columns`, for CDC legs that read leaf data files
    * directly (a partitioned lake table's files don't hold their
    * partition columns). The values come from the log / manifest
    * partition records, as a tiny driver-built `(canonical path ->
    * values)` frame broadcast LEFT-joined on the canonical file path,
    * with a loud per-row guard: a scanned file missing from the map
    * means canonicalization drift, and an inner join would silently
    * drop its change rows.
    */
  private[graft] def partitionValuesAttach(database: String, table: String,
      meta: CachedTableMetadata, fromOffset: Int,
      toOffset: Int): (DataFrame, String) => DataFrame =
    if (meta.table.partitionKeys.isEmpty) (raw0, _) => raw0
    else {
      val pSchema = partitionSchemaOf(meta)
      val pvByPath = (files(database, table, toOffset) ++
          files(database, table, fromOffset))
        .map(f => canonPath(f.path) -> f.partitionValues).toMap
      (raw0, fpCol) => {
        import scala.jdk.CollectionConverters._
        val rows = pvByPath.toSeq.sortBy(_._1).map { case (p, pv) =>
          org.apache.spark.sql.Row.fromSeq(
            (p +: meta.table.partitionKeys.map(k => pv.get(k.name).orNull)) :+
              java.lang.Boolean.TRUE)
        }
        // attach under reserved __pv_ names: a MIXED-GENERATION table
        // (partition-spec evolution adopted a key some files predate)
        // can hand a raw frame that already CARRIES a partition column
        // as file bytes — joining same-named columns would be
        // ambiguous, and blind withColumn would overwrite real values
        val strSchema = StructType(
          (StructField(fpCol, StringType, nullable = false) +:
            meta.table.partitionKeys.map(k =>
              StructField(s"__pv_${k.name}", StringType, nullable = true))) :+
            StructField("__pv_hit", BooleanType, nullable = true))
        val pvDf0 = spark.createDataFrame(
          new java.util.ArrayList(rows.asJava), strSchema)
        val pvDf = meta.table.partitionKeys.foldLeft(pvDf0) { (d, k) =>
          d.withColumn(s"__pv_${k.name}",
            col(s"__pv_${k.name}").cast(pSchema(k.name).dataType))
        }
        val joined = raw0.join(broadcast(pvDf), Seq(fpCol), "left")
          // the miss guard is a FILTER, evaluated for every row whatever
          // the consumer projects. A file in the map whose record lacks
          // a key is not a miss: pre-spec-evolution files surface null
          // or their own file bytes below.
          .filter(when(col("__pv_hit").isNull,
            raise_error(concat(
              lit(s"changelog partition attach miss for $database.$table: "),
              col(fpCol)))).otherwise(lit(true)))
        val rawCols = raw0.columns.toSet
        val valued = meta.table.partitionKeys.foldLeft(joined) { (d, k) =>
          // metadata record first (authoritative for partitionBy-
          // written files, which hold no column bytes); fall back to
          // the file's own column for generations written before the
          // key joined the partition spec
          val v = if (rawCols(k.name))
            coalesce(col(s"__pv_${k.name}"), col(k.name))
          else col(s"__pv_${k.name}")
          d.withColumn(k.name, v)
        }
        valued.drop(
          meta.table.partitionKeys.map(k => s"__pv_${k.name}") :+ "__pv_hit": _*)
      }
    }

  // ---------------------------------------------------------------- changelogs

  /** NET row-level CHANGES of a Delta table between two versions —
    * the change-data-feed read an incremental consumer runs: every
    * emitted row carries `_change_type` 'insert' (present at `to`,
    * absent at `from`) or 'delete' (the reverse). Files added between
    * the versions surface whole as inserts, removed files as deletes,
    * and a changed deletion vector on a file live in both surfaces
    * exact row-level deltas (newly-deleted positions as deletes,
    * positions a restore un-deleted as inserts). A copy-on-write
    * rewrite therefore surfaces as delete+insert of the rewritten
    * file's rows (Iceberg changelog-scan semantics for replace
    * snapshots). See [[lakeLegs]].
    */
  def deltaChanges(database: String, table: String, fromOffset: Int,
      toOffset: Int = 0): DataFrame =
    changelog(database, table, TableType.Delta, fromOffset, toOffset)(
      lakeLegs(database, table, fromOffset, toOffset))

  /** [[deltaChanges]] for ICEBERG — the changelog scan between two
    * snapshots, with position deletes in the role of deletion vectors
    * and equality deletes evaluated (see [[lakeLegs]]).
    */
  def icebergChanges(database: String, table: String, fromOffset: Int,
      toOffset: Int = 0): DataFrame =
    changelog(database, table, TableType.Iceberg, fromOffset, toOffset)(
      lakeLegs(database, table, fromOffset, toOffset))

  /** [[deltaChanges]] for HUDI. Hudi COW rewrites whole file GROUPS,
    * so the net row-level diff is a content diff (`exceptAll`) over
    * the TOUCHED slices only: rows of added slices minus rows of
    * replaced ones are the inserts, the mirror diff the deletes. An
    * update surfaces as delete(old) + insert(new); carried-over rows
    * cancel exactly, and untouched file groups are never scanned.
    */
  def hudiChanges(database: String, table: String, fromOffset: Int,
      toOffset: Int = 0): DataFrame =
    changelog(database, table, TableType.Hudi, fromOffset, toOffset) {
      (_, _, removed, added) =>
        if (removed.isEmpty && added.isEmpty) Nil
        else {
          def rowsOf(paths: Seq[String], off: Int): DataFrame =
            if (paths.isEmpty) readTable(database, table, off, keep = None, proxied = false).limit(0)
            else readTable(database, table, off, keep = Some(paths.toSet), proxied = false)
          val fromRows = rowsOf(removed, fromOffset)
          val toRows = rowsOf(added, toOffset)
          Seq(toRows.exceptAll(fromRows) -> "insert", fromRows.exceptAll(toRows) -> "delete")
        }
    }

  /** The one changelog entry: checks the offsets and the format,
    * diffs the two versions' file sets on the driver, and unions the
    * `(rows, change type)` legs `legs` builds from `(from, to, removed
    * files, added files)`. No legs: an empty frame of the table's
    * shape.
    */
  private def changelog(database: String, table: String, format: TableType,
      fromOffset: Int, toOffset: Int)(
      legs: (TableSnapshot, TableSnapshot, Seq[String], Seq[String]) => Seq[(DataFrame, String)])
      : DataFrame = {
    require(fromOffset > toOffset && toOffset >= 0,
      s"need fromOffset > toOffset >= 0, got $fromOffset -> $toOffset")
    metadataOf(database, table, format)
    val from = snapshot(database, table, fromOffset)
    val to = snapshot(database, table, toOffset)
    val fromFiles = from.files.map(_.path).toSet
    val toFiles = to.files.map(_.path).toSet
    val ct = "_change_type"
    legs(from, to, (fromFiles -- toFiles).toSeq.sorted, (toFiles -- fromFiles).toSeq.sorted)
      .map { case (rows, kind) => rows.withColumn(ct, lit(kind)) }
      .reduceOption(_.unionByName(_))
      .getOrElse(readTable(database, table, toOffset, keep = None, proxied = false)
        .withColumn(ct, lit("")).limit(0))
  }

  /** Changelog legs of a merge-on-read lake table (Delta, Iceberg):
    * added files' rows at `to` as inserts, removed files' rows at
    * `from` as deletes, each version's deletes applied. Over files
    * live in both versions, a [[DeleteSet]] change surfaces exact
    * row-level deltas (newly-deleted rows as deletes, rows a restore
    * or rollback un-deleted as inserts) on one of two paths:
    *  - POSITION path (only position sidecars changed): the deleted
    *    positions of the files whose sidecars changed are read from
    *    each version's sidecars and diffed as SETS — a row re-deleted
    *    through a second sidecar is never double-emitted — and only
    *    the data files the difference names are scanned.
    *  - EQUALITY path (an equality delete changed, e.g. a MERGE): it
    *    names no positions, so liveness is EVALUATED — the candidate
    *    files are read once, each version's delete set applied with
    *    [[applyDeletes]], and the surviving positions diffed.
    *    Candidates: the files a changed position sidecar names, plus
    *    the files sequence-eligible for a changed equality delete
    *    (data sequence strictly smaller; 0 = unknown applies).
    * Raw leaf-file legs get their partition values from the log or
    * manifests ([[partitionValuesAttach]]) and logical column names
    * from [[columnMapping]]; deletes bind to the physical names the
    * files hold.
    */
  private def lakeLegs(database: String, table: String, fromOffset: Int, toOffset: Int)(
      from: TableSnapshot, to: TableSnapshot, removed: Seq[String],
      added: Seq[String]): Seq[(DataFrame, String)] = {
    def whole(paths: Seq[String], offset: Int, kind: String): Seq[(DataFrame, String)] =
      if (paths.isEmpty) Nil
      else Seq(readTable(database, table, offset, keep = Some(paths.toSet), proxied = false) -> kind)
    def rawRows(paths: Seq[String]): DataFrame = spark.read.parquet(paths: _*)
      .withColumn("__lfp", canonPathCol(col("_metadata").getField("file_path")))
      .withColumn("__lpos", col("_metadata").getField("row_index"))
    val keys = Seq("__fp", "__pos")
    val common = (from.files.map(_.path).toSet -- removed).toSeq.sorted
    val (f, t) = (from.deletes, to.deletes)
    val changedEq = (f.equality ++ t.equality)
      .filter(e => f.equality.exists(_.path == e.path) != t.equality.exists(_.path == e.path))
    // (raw candidate rows, newly-deleted and revived `(__fp, __pos)`)
    val rowDelta: Option[(DataFrame, DataFrame, DataFrame)] =
      if (changedEq.isEmpty) {
        val changed = common.filter(p => f.sidecarsOf(p) != t.sidecarsOf(p))
        if (changed.isEmpty) None
        else {
          def deleted(d: DeleteSet): DataFrame =
            positionRows(d.positions, Some(changed.toSet)).toDF(keys: _*)
          val (pFrom, pTo) = (deleted(f), deleted(t))
          val newlyDel = pTo.join(pFrom, keys, "left_anti")
          val revived = pFrom.join(pTo, keys, "left_anti")
          val touched = newlyDel.unionAll(revived).select("__fp").distinct()
            .collect().map(_.getString(0)).toSet
          val scanned = changed.filter(p => touched(canonPath(p)))
          if (scanned.isEmpty) None else Some((rawRows(scanned), newlyDel, revived))
        }
      } else {
        val (pf, pt) = (f.positions.toSet, t.positions.toSet)
        val changedPos = (pf ++ pt).filter(d => pf(d) != pt(d)).toSeq
        val named: Set[String] =
          if (changedPos.isEmpty) Set.empty
          else positionRows(changedPos, None).select("__del_fp").distinct()
            .collect().map(_.getString(0)).toSet
        // a common file's data sequence is the same in both versions,
        // and the version holding the changed delete keeps them
        val seq = f.dataSeq ++ t.dataSeq
        def eqEligible(p: String): Boolean = {
          val s = seq.getOrElse(p, 0L)
          changedEq.exists(e => e.seq == 0L || s == 0L || s < e.seq)
        }
        val cands = common.filter(p => named(canonPath(p)) || eqEligible(p))
        if (cands.isEmpty) None
        else {
          val raw = rawRows(cands)
          def live(d: DeleteSet): DataFrame = applyDeletes(raw, col("__lfp"), d)
            .select(col("__lfp").as("__fp"), col("__lpos").as("__pos"))
          val (pFrom, pTo) = (live(f), live(t))
          Some((raw, pFrom.join(pTo, keys, "left_anti"), pTo.join(pFrom, keys, "left_anti")))
        }
      }
    whole(added, toOffset, "insert") ++ whole(removed, fromOffset, "delete") ++
      rowDelta.toSeq.flatMap { case (raw, newlyDel, revived) =>
        val meta = tableMetadata(database, table)
        val attach = partitionValuesAttach(database, table, meta, fromOffset, toOffset)
        val mapping = columnMapping(meta, to.formatSchema.getOrElse(new StructType()))
        def leg(pos: DataFrame): DataFrame = toLogical(attach(raw.join(broadcast(pos),
            col("__lfp") === col("__fp") && col("__lpos") === col("__pos")), "__lfp"), mapping)
          .drop("__lfp", "__lpos", "__fp", "__pos")
        Seq(leg(newlyDel) -> "delete", leg(revived) -> "insert")
      }
  }

  // ---------------------------------------------------------------- schema resolution

  private def classification(meta: CachedTableMetadata): String =
    meta.table.parameters.getOrElse("classification", "parquet").toLowerCase

  /** XML record element name — Glue crawlers store it as the `rowTag`
    * table parameter.
    */
  private def xmlRowTag(meta: CachedTableMetadata): String =
    meta.table.parameters.getOrElse("rowTag", "row")

  /** Partition-column type in the read plan: pattern-implied for
    * projection keys (integer projection yields ints; date/enum
    * extract strings), catalog-declared otherwise.
    */
  private def partitionType(meta: CachedTableMetadata, key: String): DataType =
    meta.tableType match {
      case TableType.GlueProjected =>
        val ptype = meta.projectionPatterns.flatMap(_.get(key)).map(_.ptype)
        if (ptype.contains("integer")) IntegerType else StringType
      case _ =>
        meta.table.partitionKeys.find(_.name == key)
          .map(c => DataType.fromDDL(c.dataType)).getOrElse(StringType)
    }

  private def partitionSchemaOf(meta: CachedTableMetadata): StructType =
    StructType(meta.table.partitionKeys.map(k =>
      StructField(k.name, partitionType(meta, k.name), nullable = true)))

  /** Data (non-partition) schema. Catalog-declared columns (Glue
    * StorageDescriptor.Columns) make the read schema-first: no
    * inference scan, no footer merge. Without them, infer from a
    * SINGLE file, memoized by its path (data files are immutable).
    * `formatSchema` is the snapshot's format-recorded schema.
    */
  private val inferredSchemas = scala.collection.concurrent.TrieMap.empty[String, StructType]
  private def dataSchemaOf(meta: CachedTableMetadata, fmt: String, firstPath: String,
      formatSchema: Option[StructType]): StructType = {
    val declared = Option(meta.table.columns).filter(_.nonEmpty).map { cols =>
      StructType(cols.map(c => StructField(c.name, DataType.fromDDL(c.dataType))))
    }
    // DELTA: the log's metaData is the authoritative schema — under
    // additive evolution, single-file inference would read from a
    // pre-evolution file and silently drop the added columns.
    val fromLog: Option[StructType] =
      if (declared.isEmpty && meta.tableType == TableType.Delta) formatSchema else None
    val raw = declared.orElse(fromLog).getOrElse(inferredSchemas.getOrElseUpdate(firstPath, fmt match {
      case "csv"  => spark.read.option("header", "true").option("inferSchema", "true").csv(firstPath).schema
      case "json" => spark.read.json(firstPath).schema
      case "orc"  => spark.read.orc(firstPath).schema
      case "xml"  => spark.read.option("rowTag", xmlRowTag(meta)).xml(firstPath).schema
      case "avro" => graft.sources.AvroSource.inferSchema(hadoopConf, firstPath)
      case _      => spark.read.parquet(firstPath).schema
    }))
    // ICEBERG/HUDI: EXTEND the inferred schema with metadata-schema
    // columns no sampled file carries yet (additive evolution: they
    // read back as nulls); never SHRINK it.
    val extended =
      if (declared.isEmpty &&
          (meta.tableType == TableType.Iceberg || meta.tableType == TableType.Hudi)) {
        formatSchema.fold(raw) { ms =>
          // MAPPED mode (a rename/drop happened): the metadata schema is
          // AUTHORITATIVE — inference would resurrect dropped bytes and
          // surface physical names
          if (graft.listing.IcebergSnapshotResolver.isMapped(ms) ||
              graft.listing.HudiTimelineWriter.isMapped(ms)) ms
          else {
            val have = raw.fieldNames.map(_.toLowerCase).toSet
            StructType(raw.fields ++ ms.fields.filterNot(f => have(f.name.toLowerCase)))
          }
        }
      } else raw
    // Partition keys live in the partition schema, never the data
    // schema (a `partitionBy` writer never writes them into files).
    val keyNames = meta.table.partitionKeys.map(_.name.toLowerCase).toSet
    StructType(extended.filterNot(f => keyNames.contains(f.name.toLowerCase)))
  }

  /** COLUMN MAPPING (Delta name mode / Iceberg field-id and Hudi
    * renames): logical -> physical names of `schema`'s fields whose
    * files still carry the original PHYSICAL name; empty for unmapped
    * tables.
    */
  private def columnMapping(meta: CachedTableMetadata, schema: StructType): Map[String, String] =
    meta.tableType match {
      case TableType.Delta   => graft.listing.DeltaLogWriter.mappingOf(schema)
      case TableType.Iceberg => graft.listing.IcebergSnapshotResolver.mappingOf(schema)
      case TableType.Hudi    => graft.listing.HudiTimelineWriter.mappingOf(schema)
      case _                 => Map.empty
    }

  /** `df` with its physical column names projected to logical ones. */
  private def toLogical(df: DataFrame, mapping: Map[String, String]): DataFrame =
    if (mapping.isEmpty) df
    else {
      val logicalByPhys = mapping.map(_.swap)
      df.select(df.columns.toSeq.map(c => df.col("`" + c + "`").as(logicalByPhys.getOrElse(c, c))): _*)
    }

  // ---------------------------------------------------------------- the read

  /** Read a table (optionally a kept subset of its files) through a
    * [[PreListedFileIndex]]: the scan plans over the `FileStatus`es
    * captured at listing time — sizes for split planning and
    * broadcast statistics, partition values as REAL partition
    * columns that `FileSourceStrategy` prunes natively. The
    * snapshot's [[DeleteSet]] is applied to the scan. JSON/CSV/XML/
    * Avro/ORC tables, which the reference declares "not supported
    * yet" (reference README.md:22-23), read through the same index
    * with a different `FileFormat` leaf.
    */
  private[engine] def readTable(database: String, table: String, versionOffset: Int,
      keep: Option[Set[String]], proxied: Boolean): DataFrame = {
    val meta = tableMetadata(database, table)
    val snap = snapshot(database, table, versionOffset)
    val kept = keep.fold(snap.partitions)(k => snap.partitions.flatMap { case (values, fs) =>
      Some(fs.filter(f => k(f.path))).filter(_.nonEmpty).map(values -> _)
    })
    val fmt = classification(meta)
    if (kept.isEmpty)
      return spark.range(0).select(lit(null).cast("string").as("null"))
    // Query-path reads go through the optional HTTP cache proxy, like
    // the reference's files-variable scan (reference:
    // src/glue-table-cache.ts:54-65, 235-239); tableDF reads don't.
    val rewrite: String => String = if (proxied) proxyRewrite else identity
    val partitions = kept.map { case (values, fs) =>
      values -> fs.map(f => new FileStatus(f.size, false, 1,
        128L * 1024 * 1024, f.modTime, new HadoopPath(rewrite(f.path))))
    }
    // the first kept file in listing order infers an undeclared schema
    val firstPath = snap.files.iterator.map(_.path).find(p => keep.forall(_(p))).get
    val dataSchema = dataSchemaOf(meta, fmt, firstPath, snap.formatSchema)
    // A renamed table's files carry the PHYSICAL column names: scan
    // with them (so vectorized reads, pushed filters, and the
    // stats-skipping tier all bind to what the files hold), then
    // project physical->logical at the end.
    val colMapping = columnMapping(meta, dataSchema)
    val scanSchema = StructType(dataSchema.fields.map(f =>
      f.copy(name = colMapping.getOrElse(f.name, f.name))))
    // File-level data skipping (Delta/Iceberg-style): the index asks
    // the snapshot for the ranges of the files it still reads, by the
    // files' Hadoop path strings. Stats are keyed, and footers read,
    // by the listing's path, so a proxied scan's paths map back first.
    val stats: PreListedFileIndex.Stats =
      if (proxied) paths => snap.stats(paths.map(unproxied)) else snap.stats
    val options: Map[String, String] = fmt match {
      // With a declared schema Spark binds CSV columns BY POSITION
      // and ignores header names; enforceSchema=false makes every
      // file's header get checked against the declared names at scan
      // time (executor-side, so it scales), failing loudly instead
      // of silently misassigning data when the catalog's column
      // order drifts from the files'.
      case "csv" if meta.table.columns.nonEmpty =>
        Map("header" -> "true", "enforceSchema" -> "false")
      case "csv" => Map("header" -> "true")
      case "xml" => Map("rowTag" -> xmlRowTag(meta))
      case _     => Map.empty
    }
    val base = PreListedFileIndex.dataFrame(spark, PreListedFileIndex.formatFor(fmt), options,
      scanSchema, snap.partitionSchema, partitions, Seq(new HadoopPath(location(meta))), stats)
    val merged =
      if (snap.deletes.isEmpty) base
      else applyDeletes(base, scanPathCol(col("_metadata").getField("file_path"), proxied), snap.deletes)
    toLogical(merged, colMapping)
  }

  /** Fixed-point form for PERSISTING canonical paths in sidecar
    * files: escape every residual `%` as `%25` so that
    * [[canonPathCol]] applied to the STORED value decodes back to
    * exactly the canonical path (readers canonicalize every
    * `file_path` they load, so a literal `50%25` partition value would
    * otherwise decode twice and its rows silently skip). Paths
    * without `%` are bit-identical. PathCanonSpec pins
    * `canonPathCol(storedPathCol(p)) == p`.
    */
  private[graft] def storedPathCol(c: Column): Column =
    regexp_replace(c, "%", "%25")

  /** Scheme-insensitive canonical path column (delete files record
    * raw writer paths; `_metadata.file_path` is a qualified URI).
    * Also DECODES URI %-escapes: `_metadata.file_path` carries a
    * space in a partition value as `%20`, manifests and logs the
    * literal path, and every path-keyed comparison (delete
    * application, sidecar filters, changelog legs, sequence scoping)
    * must agree. Literal `+` is protected first (url_decode is
    * form-decoding); an undecodable stray `%` keeps the raw form, as
    * the driver-side [[canonPath]] does.
    */
  private[graft] def canonPathCol(c: Column): Column = {
    val stripped = regexp_replace(c, "^[A-Za-z][A-Za-z0-9+.-]*:/+", "/")
    // %-gate: the per-row decode cost g29's anti-join 2.6x at sf1
    // when applied unconditionally; escape-free paths pay one
    // contains() only
    when(stripped.contains("%"),
      coalesce(try_url_decode(regexp_replace(stripped, raw"\+", "%2B")), stripped))
      .otherwise(stripped)
  }

  /** The optional HTTP cache proxy's rewrite of an `s3://` path. */
  private def proxyRewrite(p: String): String =
    config.proxyAddress.fold(p)(proxy => p.replaceFirst("^s3://", proxy))

  /** Canonical form of a scan's `_metadata.file_path`, comparable with
    * the listing's paths: the keys of position sidecars and data
    * sequence numbers. A proxied read's files carry the proxy prefix
    * where the listing has `s3://`, so the prefix is mapped back
    * first — otherwise every path-keyed anti-join of a proxied
    * merge-on-read scan matches nothing and deleted rows come back.
    * PathCanonSpec pins the agreement.
    */
  private[graft] def scanPathCol(filePath: Column, proxied: Boolean): Column = {
    val unproxiedCol = proxyScanPrefix.filter(_ => proxied).fold(filePath) { prefix =>
      when(filePath.startsWith(prefix),
        concat(lit("s3://"), filePath.substr(prefix.length + 1, Int.MaxValue)))
        .otherwise(filePath)
    }
    canonPathCol(unproxiedCol)
  }

  /** The proxy prefix as a scan reports it (a Hadoop Path's URI form),
    * standing where the listing has `s3://`.
    */
  private lazy val proxyScanPrefix: Option[String] = config.proxyAddress.map(_ =>
    new HadoopPath(proxyRewrite("s3://b")).toUri.toString.stripSuffix("b"))

  /** A proxied scan's file path mapped back to its listing path. */
  private def unproxied(p: String): String = proxyScanPrefix match {
    case Some(prefix) if p.startsWith(prefix) => "s3://" + p.substring(prefix.length)
    case _ => p
  }

  // ---------------------------------------------------------------- merge-on-read deletes

  /** The one read of position sidecars: their rows as `(__del_fp,
    * __del_pos)` — canonical data-file path and row position. A
    * scoped sidecar (a deletion vector) keeps only the rows of its
    * files, and `only` (raw data-file paths) narrows every sidecar
    * further; sidecars of one scope share one scan, so unscoped
    * sidecars with no `only` are read in ONE scan with no file filter.
    */
  private[engine] def positionRows(dels: Seq[PositionDelete], only: Option[Set[String]]): DataFrame = {
    val reads = dels.groupBy(_.scope).toSeq.sortBy(_._2.map(_.sidecar).min).flatMap { case (scope, ds) =>
      val files = (scope ++ only).reduceOption(_ intersect _)
      if (files.exists(_.isEmpty)) None
      else {
        val rows = spark.read.parquet(ds.map(_.sidecar).sorted: _*)
          .select(canonPathCol(col("file_path")).as("__del_fp"), col("pos").as("__del_pos"))
        // canonPath (NOT .toUri.getPath, which drops the authority of
        // object-store URIs) so the literals match canonPathCol's values
        Some(files.fold(rows)(fs => rows.filter(col("__del_fp").isin(fs.toSeq.map(canonPath).sorted: _*))))
      }
    }
    reads.reduceOption(_.unionAll(_)).getOrElse(
      spark.range(0).select(col("id").cast("string").as("__del_fp"), col("id").as("__del_pos")))
  }

  /** Subtract a [[DeleteSet]] from a scan whose canonical file path is
    * `scanPath`. Position sidecars anti-join on
    * `(_metadata.file_path, _metadata.row_index)` — Spark's generated
    * parquet metadata columns, so the base scan stays a plain
    * vectorized read and the (tiny) position set broadcasts; each
    * equality delete anti-joins null-safely on its declared columns.
    * Cost ∝ delete rows, never a data rewrite — Iceberg's and Delta's
    * own merge-on-read contract.
    */
  private[engine] def applyDeletes(df: DataFrame, scanPath: Column, dels: DeleteSet): DataFrame = {
    var out = df
    if (dels.positions.nonEmpty)
      out = out
        .withColumn("__fp", scanPath)
        .withColumn("__pos", col("_metadata").getField("row_index"))
        .join(broadcast(positionRows(dels.positions, None)),
          col("__fp") === col("__del_fp") && col("__pos") === col("__del_pos"), "left_anti")
        .drop("__fp", "__pos")
    val eqs = dels.equality
    if (eqs.nonEmpty) {
      // SEQUENCE SCOPING (Iceberg spec): an equality delete applies
      // only to data files with a STRICTLY smaller data sequence
      // number — rows re-appended AFTER the delete must survive it.
      // The per-row sequence comes from a tiny broadcast (path, seq)
      // join against the generated _metadata.file_path; an unknown
      // sequence (0, simplified fixtures) keeps the unscoped
      // read-latest behavior, matching pre-scoping semantics.
      val sp = Shim.classic(spark)
      import sp.implicits._
      val needScope = eqs.exists(_.seq > 0L) && dels.dataSeq.nonEmpty
      if (needScope) {
        // canonicalize with the SAME column rule used for
        // _metadata.file_path so the two sides always agree
        val seqDf = dels.dataSeq.toSeq.toDF("__seq_fp_raw", "__dseq")
          .select(canonPathCol(col("__seq_fp_raw")).as("__seq_fp"), col("__dseq"))
        out = out
          .withColumn("__fp2", scanPath)
          .join(broadcast(seqDf), col("__fp2") === col("__seq_fp"), "left")
          .drop("__fp2", "__seq_fp")
      }
      eqs.foreach { ef =>
        if (ef.equalityCols.isEmpty) throw new IllegalStateException(
          s"equality delete file ${ef.path} carries no resolvable equality_ids")
        val del = spark.read.parquet(ef.path)
          .select(ef.equalityCols.map(c => col(c).as(s"__eq_$c")): _*).distinct()
        val eqCond = ef.equalityCols.map(c => out(c) <=> col(s"__eq_$c")).reduce(_ && _)
        val cond =
          if (needScope && ef.seq > 0L)
            // unknown file seq (null) conservatively matches, i.e.
            // the delete still applies — identical to pre-scoping
            eqCond && (coalesce(col("__dseq"), lit(Long.MinValue)) < lit(ef.seq))
          else eqCond
        out = out.join(broadcast(del), cond, "left_anti")
      }
      if (needScope) out = out.drop("__dseq")
    }
    out
  }
}
