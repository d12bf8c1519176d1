package graft.engine

import graft.cache.{Retry, TtlCache}
import graft.catalog.CatalogProvider
import graft.listing.{ColRange, FileLister, FooterStats, HadoopFileLister, IcebergSnapshotResolver}
import graft.model._
import graft.prune.Extractors
import org.apache.hadoop.fs.{FileStatus, Path => HadoopPath}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BindReferences, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{PreListedFileIndex, Shim}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, MapType, StringType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/** The engine facade — Spark-native re-expression of the reference's
  * `GlueTableCache` public surface (reference:
  * src/glue-table-cache.ts:242-347, src/index.ts:1-2).
  *
  * Where the reference converts `glue.db.tbl` SQL into DuckDB setup
  * statements + a rewritten query string (string-level dataflow), this
  * engine rewrites the *logical plan*: each `UnresolvedRelation` over
  * the `glue` catalog becomes the plan of a (partition-pruned) parquet
  * read, and Spark executes it. No SQL re-serialization, no variables
  * — the idiomatic equivalents are documented per method. The
  * write half, which the reference lacks, is the mixed-in [[TableWriters]].
  *
  * Two caches, mirroring the reference's two (reference:
  * src/glue-table-cache.ts:75-84): catalog metadata per table, and
  * one [[TableSnapshot]] per table version — the file listing plus
  * everything derived from it — so a listing and its derived state
  * are loaded, evicted and invalidated together.
  *
  * Scale notes (100 TB design):
  *  - Metadata and listings are driver-side and cached (LRU+TTL,
  *    single-flight) — O(#files) strings, never data.
  *  - Local listings walk directories with plain `listStatus`
  *    (no located statuses); object stores answer one recursive
  *    paged LIST ([[graft.listing.HadoopFileLister]]).
  *  - Every layout is read through one [[PreListedFileIndex]] whose
  *    partition columns carry the listed values (Hive `key=value`,
  *    projection patterns, lake metadata). It is the query path's one
  *    partition prune: `FileSourceStrategy` pushes each relation's
  *    partition conjuncts into it, resolved and typed — sound under
  *    OR/CTE/subquery predicates, fixing the reference's OR-to-AND
  *    over-pruning bug (reference: src/sql-transformer.ts:244-247
  *    joined with AND at src/glue-table-cache.ts:329-331). The
  *    optimizer narrows the index to the kept partitions, so join
  *    planning sees the selection's size. Planning a warm query runs
  *    no Spark action, and a cold snapshot's typed partition values
  *    are evaluated on the driver, without one.
  *  - File-skipping stats are fetched on demand: only a query with
  *    data filters asks, and only for the files its partition prune
  *    kept. Lake metadata already carries them; parquet/ORC footers
  *    are read once per file and snapshot.
  *  - Data movement is all executor-side vectorized parquet scan with
  *    Catalyst filter pushdown.
  */
final class GlueTableEngine(
    val spark: SparkSession,
    private[engine] val catalog: CatalogProvider,
    config: CacheConfig = CacheConfig(),
    listerOverride: Option[FileLister] = None) extends TableWriters {

  private[engine] def hadoopConf = Shim.classic(spark).sparkContext.hadoopConfiguration
  private val lister: FileLister = listerOverride.getOrElse(new HadoopFileLister(hadoopConf))
  private[graft] lazy val iceberg = new IcebergSnapshotResolver(hadoopConf)
  private[engine] lazy val delta = new graft.listing.DeltaLogResolver(spark)
  private[engine] lazy val hudi = new graft.listing.HudiTimelineResolver(hadoopConf)

  // Two caches, mirroring the reference (src/glue-table-cache.ts:75-84).
  private val metaCache = new TtlCache[CachedTableMetadata](
    config.maxEntries, config.tableMetadataTtlMs, config.errorCacheTtlMs)
  private val snapshots = new TtlCache[TableSnapshot](
    config.maxEntries, config.s3ListingTtlMs, config.errorCacheTtlMs)

  // ---------------------------------------------------------------- metadata

  /** ≈ reference `getTableMetadataCached` (src/glue-table-cache.ts:150-204):
    * single-flight cached fetch with retry/backoff and 4xx bail.
    */
  def tableMetadata(database: String, table: String): CachedTableMetadata =
    metaCache.get(s"$database.$table") {
      val meta = Retry.withRetry() {
        val t = catalog.getTable(database, table)
        val ttype = TableClassifier.classify(t)
        val projections =
          if (ttype == TableType.GlueProjected) Some(ProjectionParser.parse(t.parameters)) else None
        // Partition fetch failure is non-fatal (reference:
        // test/util.glue.test.ts:100-114).
        val partMeta =
          if (ttype == TableType.Hive) {
            val vals = try catalog.getPartitions(database, table) catch { case _: Exception => Nil }
            Some(PartitionMetadata(t.partitionKeys.map(_.name), vals))
          } else None
        CachedTableMetadata(System.currentTimeMillis(), ttype, t, partMeta, projections)
      }
      // Outside the retry (a definition error never heals): the
      // listing frames expose fixed columns (path, size, modTime, pv)
      // that partition-key withColumns would silently REPLACE,
      // corrupting positional row layout downstream — a partition
      // value would be read back as the file path.
      val clash = meta.table.partitionKeys.map(_.name)
        .filter(k => GlueTableEngine.ReservedListingColumns.contains(k.toLowerCase))
      if (clash.nonEmpty) throw new IllegalArgumentException(
        s"partition key(s) ${clash.mkString(", ")} of $database.$table collide with " +
          "the listing's reserved columns (path, size, modTime, pv)")
      meta
    }

  private[engine] def location(meta: CachedTableMetadata): String =
    meta.table.location.getOrElse(throw new IllegalStateException(
      s"No storage location found for ${meta.table.database}.${meta.table.name}"))

  /** The table's metadata, checked to be a `format` table. */
  private[engine] def metadataOf(database: String, table: String,
      format: TableType): CachedTableMetadata = {
    val meta = tableMetadata(database, table)
    require(meta.tableType == format, s"$database.$table is ${meta.tableType}, not " +
      s"${if (format == TableType.Iceberg) "an" else "a"} $format table")
    meta
  }

  private def normalizeDir(l: String): String = if (l.endsWith("/")) l else l + "/"

  /** Scheme-insensitive canonical form for path comparison: listed
    * paths come back scheme-qualified (`file:/...`, `s3a://bucket/...`)
    * while catalog locations are free-form (`/...`, `s3://bucket/...`).
    * Authority+path is enough to match a file to its partition dir —
    * a table's partitions live on one filesystem.
    *
    * MUST produce the same string as [[canonPathCol]] for the same
    * URI: driver-side literals from this function are compared
    * against columns canonicalized by that one (DV sidecar `isin`
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
    * everything the SAME metadata pass yields — Iceberg delete files,
    * schema and partition spec from the one metadata JSON; Delta
    * deletion vectors and schema from the one log replay; the Hudi
    * schema from the timeline walk. The typed partitions are derived
    * lazily, once per snapshot; skipping stats are looked up per file,
    * only for the files a query with data filters still reads after
    * its partition prune. One cache entry holds all of it, so a
    * listing never pairs with derived state of another version.
    */
  private final class TableSnapshot(meta: CachedTableMetadata,
      val files: Seq[S3FileInfo],
      /** Schema the format's own metadata records (None: Hive/plain). */
      val formatSchema: Option[StructType] = None,
      /** Iceberg merge-on-read delete files. */
      val deletes: Seq[IcebergSnapshotResolver#IcebergDeleteFile] = Nil,
      /** Raw data-file path -> data sequence number; kept only when
        * delete files exist (it scopes equality deletes). */
      val dataSeq: Map[String, Long] = Map.empty,
      /** Iceberg current partition spec `(field, source, transform)`. */
      val specFields: Seq[(String, String, String)] = Nil,
      /** Delta deletion vectors: data-file path -> DV sidecar. */
      val dvs: Map[String, String] = Map.empty) {

    /** The schema of [[partitions]]' values. */
    val partitionSchema: StructType = partitionSchemaOf(meta)

    /** The listing grouped by partition value, typed per
      * [[partitionType]], in a deterministic order — the driver-side
      * seed of the [[PreListedFileIndex]]. Each file's values are
      * [[keyColumns]], the SAME expressions [[listingDF]] selects,
      * evaluated here on the driver ([[partitionValuesOf]]), so pruning
      * and reading can never disagree on a partition value. No Spark
      * job and no DataFrame: one analysed projection, then O(#files)
      * interpreted evaluations.
      */
    lazy val partitions: Seq[(InternalRow, Seq[S3FileInfo])] = {
      val toScala = CatalystTypeConverters.createToScalaConverter(partitionSchema)
      files.groupBy(partitionValuesOf(meta)).toSeq.sortBy(p => toScala(p._1).toString)
    }

    /** Per-file column ranges for data skipping, in the order of
      * `paths` (Hadoop path strings of listed files; an empty map
      * means "cannot skip"). Preferred source first —
      *  1. Iceberg manifests' lower/upper_bounds and Delta add-action
      *     stats: already decoded into the listing (S3FileInfo.bounds)
      *     — zero extra I/O and no cap — this is the 10M-file path;
      *  2. parquet/ORC footers of the asked files only, read on the
      *     driver in parallel (KB-scale GETs: serial footer GETs over
      *     S3 would stall planning) and memoized per file for the life
      *     of the snapshot. Tables with more than footerStatsMaxFiles
      *     files read none.
      * For other formats and bound-less manifests every map is empty
      * and skipping degrades to a no-op.
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

  private def snapshot(database: String, table: String, versionOffset: Int): TableSnapshot = {
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
        // themselves (spec fields `data_file.file_size_in_bytes` /
        // `data_file.partition`) — zero extra metadata calls, and
        // partitioned Iceberg tables prune like Hive ones (the
        // reference never prunes Iceberg). Manifests carry no mtime;
        // 0 = unknown.
        val v = iceberg.resolve(location(meta), versionOffset)
        new TableSnapshot(meta,
          v.files.map(f => S3FileInfo(f.path, f.partition, f.size, modTime = 0L,
            bounds = f.bounds, rowCount = f.rowCount)),
          formatSchema = v.schema, deletes = v.deletes,
          dataSeq = if (v.deletes.isEmpty) Map.empty else v.files.map(f => f.path -> f.seq).toMap,
          specFields = v.specFields)
      case TableType.Delta =>
        // Same zero-extra-I/O contract as Iceberg: sizes, partition
        // values, AND per-column stats ranges all come from the
        // transaction log (add actions / checkpoint); the read path's
        // skipping tier consumes the bounds without any footer reads.
        // The SAME replay also yields the deletion-vector descriptors
        // and the schema.
        val (dfs, dvs, schema) = delta.versionAt(location(meta), versionOffset)
        new TableSnapshot(meta,
          dfs.map(f => S3FileInfo(f.path, f.partition, f.size, modTime = 0L,
            bounds = f.bounds, rowCount = f.rowCount)),
          formatSchema = schema, dvs = dvs)
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
    val paths = pruned.select("path").collect().map(_.getString(0)).toSeq
    config.proxyAddress match {
      case Some(proxy) => paths.map(_.replaceFirst("^s3://", proxy))
      case None        => paths
    }
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
    * files whose LISTING already carries a row count (Delta
    * add-action `stats.numRecords`, Iceberg manifest `record_count`)
    * contribute with ZERO per-file I/O — at 10M files the log/
    * manifest state the engine has already cached answers the whole
    * count, where one footer GET per file would be hours of driver
    * I/O. Only files the listing is silent about (plain Hive
    * layouts, statless adds) fall back to parallel KB-scale footer
    * reads; still no Spark job, no data pages. A real distributed
    * `count()` remains the backstop when the format isn't parquet, a
    * footer is unreadable, or the snapshot carries merge-on-read
    * delete files (per-file counts predate the deletes, so a
    * metadata sum would overcount).
    */
  def countRows(database: String, table: String, versionOffset: Int = 0): Long = {
    val meta = tableMetadata(database, table)
    val snap = snapshot(database, table, versionOffset)
    if (snap.files.isEmpty) return 0L
    // MOR deletes (Iceberg delete files, Delta deletion vectors)
    // subtract rows that every per-file count (listing OR footer)
    // still includes — only a real scan is exact
    if (classification(meta) != "parquet" || snap.deletes.nonEmpty || snap.dvs.nonEmpty)
      return tableDF(database, table, versionOffset).count()
    val (known, unknown) = snap.files.partition(_.rowCount.isDefined)
    val knownSum = known.flatMap(_.rowCount).sum
    if (unknown.isEmpty) return knownSum
    val conf = hadoopConf
    val counts = onDriverPool(unknown)(f => graft.listing.FooterStats.rowCount(conf, f.path))
    if (counts.forall(_.isDefined)) knownSum + counts.flatten.sum
    else tableDF(database, table, versionOffset).count()
  }

  /** Incremental snapshot read: the rows ADDED to an Iceberg table
    * between two snapshots — the primitive behind incremental
    * pipeline runs ("process only what arrived since the last run").
    * `fromOffset` is the older snapshot (versions back from latest,
    * like [[tableDF]]'s `versionOffset`), `toOffset` the newer;
    * the result scans exactly the data files present in `to` but not
    * in `from` (append-only snapshot semantics — a file rewritten by
    * compaction would surface as "new", exactly as Iceberg's own
    * incremental scan treats non-append snapshots).
    *
    * Scale shape: the file-set diff is driver-side metadata from the
    * cached manifest listings (no filesystem walk), and the scan
    * plans ONLY the added files — cost is proportional to the delta,
    * not the table. At 100 TB with daily appends this is the
    * difference between a 100 TB scan and a 100 GB one.
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
    * directly — a partitioned lakehouse table's data files don't hold
    * their partition columns, so they're recovered from the LOG /
    * MANIFEST partition records (the same authoritative source the
    * scan path uses) as a tiny driver-built `(canonical path ->
    * values)` frame broadcast-joined on the canonical file path.
    * Candidate sets are CDC-small by contract, so the join stays a
    * narrow broadcast at any table size. LEFT join + loud per-row
    * guard (ADVICE r14 low): a scanned file missing from the
    * metadata-derived map means canonicalization drift, and an inner
    * join would silently DROP its change rows from the CDC stream —
    * here it raises instead.
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
          // the miss guard is a FILTER, not a projection rider (ADVICE
          // r15 low): a Filter condition is evaluated for EVERY row
          // whatever the consumer projects, so a scanned file missing
          // from the metadata-derived map (canonicalization drift)
          // raises even when no partition column survives downstream
          // pruning — it can never silently pass null partition values
          // into the CDC stream. A file PRESENT in the map whose
          // record merely lacks a key is NOT a miss: pre-spec-
          // evolution files carry no value for later-adopted keys and
          // surface null (the pruner's keep-on-unknown rule, read
          // side) or their own file bytes below.
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

  /** NET row-level CHANGES of a Delta table between two versions —
    * the change-data-feed read an incremental consumer runs: every
    * emitted row carries `_change_type` 'insert' (present at `to`,
    * absent at `from`) or 'delete' (the reverse). Three legs, all
    * file-level metadata diffs first:
    *   - files added between the versions → their rows at `to`
    *     (deletion vectors applied) as inserts;
    *   - files removed → their rows at `from` as deletes;
    *   - files in BOTH whose deletion-vector descriptor changed →
    *     exact row-level deltas: newly-deleted positions as deletes,
    *     un-deleted positions (a restore rolled a DV back) as
    *     inserts — read by joining the raw file against the sidecar
    *     position sets, nothing rescanned beyond the changed files.
    * A copy-on-write rewrite therefore surfaces as delete+insert of
    * the rewritten file's rows (Iceberg changelog-scan semantics for
    * replace snapshots); MOR commits surface exact row deltas. Scale:
    * the version diff is driver-side metadata; scans touch only
    * changed files, and sidecar position sets broadcast.
    */
  def deltaChanges(database: String, table: String, fromOffset: Int,
      toOffset: Int = 0): DataFrame = {
    require(fromOffset > toOffset && toOffset >= 0,
      s"need fromOffset > toOffset >= 0, got $fromOffset -> $toOffset")
    val meta = metadataOf(database, table, TableType.Delta)
    val from = snapshot(database, table, fromOffset)
    val to = snapshot(database, table, toOffset)
    val fromFiles = from.files.map(_.path).toSet
    val toFiles = to.files.map(_.path).toSet
    val dvFrom = from.dvs
    val dvTo = to.dvs
    val ct = "_change_type"
    val legs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val added = toFiles -- fromFiles
    if (added.nonEmpty)
      legs += readTable(database, table, toOffset, keep = Some(added), proxied = false)
        .withColumn(ct, lit("insert"))
    val removed = fromFiles -- toFiles
    if (removed.nonEmpty)
      legs += readTable(database, table, fromOffset, keep = Some(removed), proxied = false)
        .withColumn(ct, lit("delete"))
    val dvChanged = (fromFiles intersect toFiles).toSeq.sorted
      .filter(p => dvFrom.get(p) != dvTo.get(p))
    if (dvChanged.nonEmpty) {
      def posDf(dv: Map[String, String]): DataFrame = {
        val byDv = dvChanged.flatMap(p => dv.get(p).map(d => (p, d))).groupBy(_._2)
        if (byDv.isEmpty)
          spark.range(0).select(col("id").cast("string").as("__fp"), col("id").as("__pos"))
        else byDv.toSeq.sortBy(_._1).map { case (dvPath, pairs) =>
          val fps = pairs.map { case (p, _) => canonPath(p) }
          spark.read.parquet(dvPath)
            .select(canonPathCol(col("file_path")).as("__fp"), col("pos").as("__pos"))
            .filter(col("__fp").isin(fps: _*))
        }.reduce(_.unionAll(_))
      }
      val pFrom = posDf(dvFrom)
      val pTo = posDf(dvTo)
      // mapped tables: raw files carry PHYSICAL names; the other legs
      // (readTable) emit logical ones — rename so the union agrees
      val mapping = to.formatSchema
        .map(graft.listing.DeltaLogWriter.mappingOf).getOrElse(Map.empty)
      val raw0 = mapping.foldLeft(spark.read.parquet(dvChanged: _*)) {
          case (d, (l, ph)) => d.withColumnRenamed(ph, l)
        }
        .withColumn("__fp", canonPathCol(col("_metadata").getField("file_path")))
        .withColumn("__pos", col("_metadata").getField("row_index"))
      // partitioned tables: the raw leaf files don't hold the
      // partition columns the added/removed legs (readTable) emit —
      // attach them from the LOG's add-action partitionValues (r14
      // verdict ask #4, the exact recipe g66 used for Iceberg)
      val raw = partitionValuesAttach(database, table, meta,
        fromOffset, toOffset)(raw0, "__fp")
      def leg(pos: DataFrame, kind: String): DataFrame =
        raw.join(broadcast(pos), Seq("__fp", "__pos"))
          .drop("__fp", "__pos").withColumn(ct, lit(kind))
      legs += leg(pTo.join(pFrom, Seq("__fp", "__pos"), "left_anti"), "delete")
      legs += leg(pFrom.join(pTo, Seq("__fp", "__pos"), "left_anti"), "insert")
    }
    if (legs.isEmpty)
      readTable(database, table, toOffset, keep = None, proxied = false)
        .withColumn(ct, lit("")).limit(0)
    else legs.reduce(_.unionByName(_))
  }

  /** [[deltaChanges]] for ICEBERG — the changelog scan between two
    * snapshots: files added or removed between the versions surface
    * whole (the destination version's MOR deletes applied), and
    * POSITION-DELETE deltas over files live in both versions surface
    * exact row-level changes — newly-deleted positions as deletes,
    * positions un-deleted by a rollback as inserts (LIVENESS sets
    * are diffed, so a row re-deleted through a second delete file is
    * never double-emitted). Position-only deltas never scan data
    * files beyond the ones the delete files name; equality-delete
    * deltas (any MERGE-produced range) evaluate liveness at both
    * snapshots over the sequence-eligible candidate files with the
    * scan path's own delete application — one code path, identical
    * scoping. Same scale contract: driver-side metadata diff, scans
    * bounded to candidate files, position sets broadcast (CDC deltas
    * are small relative to the table by contract).
    */
  def icebergChanges(database: String, table: String, fromOffset: Int,
      toOffset: Int = 0): DataFrame = {
    require(fromOffset > toOffset && toOffset >= 0,
      s"need fromOffset > toOffset >= 0, got $fromOffset -> $toOffset")
    val meta = metadataOf(database, table, TableType.Iceberg)
    val from = snapshot(database, table, fromOffset)
    val to = snapshot(database, table, toOffset)
    val fromFiles = from.files.map(_.path).toSet
    val toFiles = to.files.map(_.path).toSet
    val ct = "_change_type"
    val legs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val added = toFiles -- fromFiles
    if (added.nonEmpty)
      legs += readTable(database, table, toOffset, keep = Some(added), proxied = false)
        .withColumn(ct, lit("insert"))
    val removed = fromFiles -- toFiles
    if (removed.nonEmpty)
      legs += readTable(database, table, fromOffset, keep = Some(removed), proxied = false)
        .withColumn(ct, lit("delete"))
    val delFrom = from.deletes
    val delTo = to.deletes
    val delDelta = (delTo.map(_.path).toSet -- delFrom.map(_.path).toSet) ++
      (delFrom.map(_.path).toSet -- delTo.map(_.path).toSet)
    if (delDelta.nonEmpty) {
      // Partitioned tables: raw leaf-file reads don't see Hive-layout
      // partition columns, so attach them from the MANIFEST partition
      // records (the same authoritative source the scan path uses —
      // paths need not encode values). A tiny driver-built
      // (path -> values) frame broadcast-joined on the canonical file
      // path: candidate sets are CDC-small by contract, and the join
      // stays a narrow broadcast at any table size.
      // Mapped tables (a rename/drop happened): raw leaf files hold
      // PHYSICAL column names; the added/removed legs (readTable) and
      // the caller's schema are LOGICAL. Delete evaluation stays
      // physical (equality ids resolve to physical names, binding to
      // what the files hold); the legs project physical->logical in
      // ONE select at construction — mirroring the Delta changelog leg.
      val toLogical: DataFrame => DataFrame = {
        val mapping = to.formatSchema
          .map(IcebergSnapshotResolver.mappingOf).getOrElse(Map.empty)
        if (mapping.isEmpty) identity
        else {
          val logicalByPhys = mapping.map(_.swap)
          df => df.select(df.columns.map(c =>
            df.col("`" + c + "`").as(logicalByPhys.getOrElse(c, c))).toSeq: _*)
        }
      }
      val attachParts: (DataFrame, String) => DataFrame = {
        val attach = partitionValuesAttach(database, table, meta, fromOffset, toOffset)
        (raw0, fpCol) => toLogical(attach(raw0, fpCol))
      }
      val commonRaw = (fromFiles intersect toFiles).toSeq.sorted
      val common = commonRaw.map(canonPath)
      val deltaDels = (delFrom ++ delTo).filter(d => delDelta(d.path))
      val eqDeltas = deltaDels.filter(_.content == 2)
      if (eqDeltas.isEmpty) {
        // FAST PATH — position-delete deltas only: the changed
        // positions are read straight from the (small) delete files,
        // diffed as sets, and only the data files those sets name are
        // ever scanned. No predicate evaluation needed.
        def posDf(dels: Seq[IcebergSnapshotResolver#IcebergDeleteFile]): DataFrame = {
          val pos = dels.filter(_.content == 1).map(_.path).distinct.sorted
          if (pos.isEmpty)
            spark.range(0).select(col("id").cast("string").as("__fp"), col("id").as("__pos"))
          else spark.read.parquet(pos: _*)
            .select(canonPathCol(col("file_path")).as("__fp"), col("pos").as("__pos"))
            .filter(col("__fp").isin(common: _*))
        }
        val pFrom = posDf(delFrom)
        val pTo = posDf(delTo)
        val newlyDel = pTo.join(pFrom, Seq("__fp", "__pos"), "left_anti")
        val revived = pFrom.join(pTo, Seq("__fp", "__pos"), "left_anti")
        // scan only files actually named by the delta position sets
        val touched = (newlyDel.unionAll(revived)).select("__fp").distinct()
          .collect().map(_.getString(0)).toSet
        if (touched.nonEmpty) {
          val rawPaths = commonRaw.filter(p => touched(canonPath(p)))
          val raw = spark.read.parquet(rawPaths: _*)
            .withColumn("__fp", canonPathCol(col("_metadata").getField("file_path")))
            .withColumn("__pos", col("_metadata").getField("row_index"))
          def leg(pos: DataFrame, kind: String): DataFrame =
            attachParts(raw.join(broadcast(pos), Seq("__fp", "__pos")), "__fp")
              .drop("__fp", "__pos").withColumn(ct, lit(kind))
          legs += leg(newlyDel, "delete")
          legs += leg(revived, "insert")
        }
      } else {
        // GENERAL PATH — the delete delta includes EQUALITY deletes
        // (r12 verdict ask #3: any MERGE-produced snapshot range hits
        // this; refusing made CDC internally inconsistent with the
        // scan path, which applies them). An equality delete names no
        // positions, so liveness is EVALUATED: read the candidate
        // files once, apply each snapshot's full delete stack with
        // the same strictly-smaller-sequence scoping as the scan path
        // (applyIcebergDeletes — one code path, no drift), and diff
        // the surviving position sets.
        //
        // Candidate set (the 100 TB bound): common files a CHANGED
        // delete could affect — files named by changed position-
        // delete files, plus files sequence-eligible for a changed
        // equality delete (data sequence strictly smaller; 0 =
        // unknown applies unscoped). Files outside it cannot change
        // liveness and are never scanned. An equality delete at the
        // head sequence makes every older common file a candidate —
        // that rescan is the inherent cost of exact net row-level
        // CDC over predicate deletes, paid only on ranges that
        // contain one. A version without delete files keeps no
        // sequence numbers; a common file's data sequence is the same
        // in both versions, and the version holding the changed delete
        // keeps them.
        val seqFrom = from.dataSeq.map { case (p, sq) => canonPath(p) -> sq }
        val seqTo = to.dataSeq.map { case (p, sq) => canonPath(p) -> sq }
        val posDeltaPaths = deltaDels.filter(_.content == 1).map(_.path).distinct.sorted
        val posNamed: Set[String] =
          if (posDeltaPaths.isEmpty) Set.empty
          else spark.read.parquet(posDeltaPaths: _*)
            .select(canonPathCol(col("file_path"))).distinct()
            .collect().map(_.getString(0)).toSet
        def eqEligible(cp: String): Boolean = {
          val s = seqTo.getOrElse(cp, seqFrom.getOrElse(cp, 0L))
          eqDeltas.exists(e => e.seq == 0L || s == 0L || s < e.seq)
        }
        val cands = commonRaw.filter { p =>
          val cp = canonPath(p); posNamed(cp) || eqEligible(cp)
        }
        if (cands.nonEmpty) {
          val raw = spark.read.parquet(cands: _*)
            .withColumn("__lfp", canonPathCol(col("_metadata").getField("file_path")))
            .withColumn("__lpos", col("_metadata").getField("row_index"))
          def livePos(v: TableSnapshot): DataFrame =
            applyIcebergDeletes(raw, col("__lfp"), v.deletes, v.dataSeq)
              .select(col("__lfp").as("__fp"), col("__lpos").as("__pos"))
          val pFrom = livePos(from)
          val pTo = livePos(to)
          val newlyDel = pFrom.join(pTo, Seq("__fp", "__pos"), "left_anti")
          val revived = pTo.join(pFrom, Seq("__fp", "__pos"), "left_anti")
          def leg(pos: DataFrame, kind: String): DataFrame =
            attachParts(raw.join(broadcast(pos),
                col("__lfp") === col("__fp") && col("__lpos") === col("__pos")), "__lfp")
              .drop("__lfp", "__lpos", "__fp", "__pos").withColumn(ct, lit(kind))
          legs += leg(newlyDel, "delete")
          legs += leg(revived, "insert")
        }
      }
    }
    if (legs.isEmpty)
      readTable(database, table, toOffset, keep = None, proxied = false)
        .withColumn(ct, lit("")).limit(0)
    else legs.reduce(_.unionByName(_))
  }

  /** [[deltaChanges]] / [[icebergChanges]] for HUDI — completing the
    * CDC row of the format matrix. Hudi COW rewrites whole file
    * GROUPS on upsert/delete, so the net row-level diff comes from a
    * content diff over the TOUCHED slices only: rows of slices live
    * at `toOffset` but not `fromOffset` minus rows of the replaced
    * slices (exceptAll) are the inserts; the mirror diff is the
    * deletes. An update surfaces as one delete (old content) + one
    * insert (new content); rows the rewrite carried over unchanged
    * cancel exactly. Untouched file groups are never scanned, so the
    * scan is bounded by the churned slices — at 100 TB the cost of
    * CDC is proportional to the change, not the table. One
    * whole-row-keyed shuffle for each exceptAll.
    */
  def hudiChanges(database: String, table: String, fromOffset: Int,
      toOffset: Int = 0): DataFrame = {
    require(fromOffset > toOffset && toOffset >= 0,
      s"need fromOffset > toOffset >= 0, got $fromOffset -> $toOffset")
    val meta = metadataOf(database, table, TableType.Hudi)
    val fromFiles = files(database, table, fromOffset).map(_.path).toSet
    val toFiles = files(database, table, toOffset).map(_.path).toSet
    val ct = "_change_type"
    val changedFrom = (fromFiles -- toFiles).toSeq.sorted
    val changedTo = (toFiles -- fromFiles).toSeq.sorted
    if (changedFrom.isEmpty && changedTo.isEmpty)
      return readTable(database, table, toOffset, keep = None, proxied = false)
        .withColumn(ct, lit("")).limit(0)
    def rowsOf(paths: Seq[String], off: Int): DataFrame =
      if (paths.isEmpty)
        readTable(database, table, off, keep = None, proxied = false).limit(0)
      else readTable(database, table, off, keep = Some(paths.toSet), proxied = false)
    val fromRows = rowsOf(changedFrom, fromOffset)
    val toRows = rowsOf(changedTo, toOffset)
    toRows.exceptAll(fromRows).withColumn(ct, lit("insert"))
      .unionByName(fromRows.exceptAll(toRows).withColumn(ct, lit("delete")))
  }

  // -------- schema resolution

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
    * CSV/JSON inference scan, no parquet footer merge — mandatory at
    * scale, where an inference pass would read the whole table once
    * before the query. Without declared columns, infer from a SINGLE
    * file (Spark's own non-mergeSchema parquet read is equally
    * single-footer). Inference is memoized by that file's path — data
    * files are immutable, so a changed listing re-infers, and aliases
    * of the same files share one inference. `formatSchema` is the
    * snapshot's format-recorded schema ([[TableSnapshot]]).
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
    // ICEBERG: EXTEND the inferred schema with metadata-schema
    // columns no sampled file carries yet (additive evolution — a
    // column added by a later writer exists in the metadata first
    // and must read back as nulls, not vanish). Extension only:
    // hand-built or minimal metadata schemas (subset of the files')
    // must never SHRINK the read schema.
    val extended =
      if (declared.isEmpty &&
          (meta.tableType == TableType.Iceberg || meta.tableType == TableType.Hudi)) {
        // the metadata JSON's schema (Iceberg) / the timeline's
        // per-commit schema (Hudi)
        formatSchema.fold(raw) { ms =>
          // MAPPED mode (a rename/drop happened): the metadata/
          // timeline schema is AUTHORITATIVE, not an extension —
          // inference from a file would resurrect dropped bytes and
          // surface physical (pre-rename) names. Only this engine's
          // evolution commits set the flag, and they carry the
          // complete schema by construction.
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

  // -------- the read

  /** Read a table (optionally a kept subset of its files) through a
    * [[PreListedFileIndex]]: the scan plans over the `FileStatus`es
    * captured at listing time — sizes for split planning and
    * broadcast statistics, partition values as REAL partition
    * columns. Spark's `FileSourceStrategy` then pushes the query's
    * partition conjuncts into the index natively — per-relation,
    * correctly typed/unescaped, and sound under OR/CTE/joins. One
    * uniform path replaces the previous per-layout branches
    * (basePath discovery / `input_file_name()` extractors /
    * out-of-root unions), because the index attaches values itself.
    *
    * The reference declares JSON/CSV tables "not supported yet"
    * (reference README.md:22-23); supporting them here is a
    * deliberate extension — same listing machinery, different
    * `FileFormat` leaf.
    */
  private[engine] def readTable(database: String, table: String, versionOffset: Int,
      keep: Option[Set[String]], proxied: Boolean): DataFrame = {
    val meta = tableMetadata(database, table)
    val snap = snapshot(database, table, versionOffset)
    val pSchema = snap.partitionSchema
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
    // The scan's file path as the delete and deletion-vector keys see it.
    val scanPath = scanPathCol(col("_metadata").getField("file_path"), proxied)
    val partitions = kept.map { case (values, fs) =>
      values -> fs.map(f => new FileStatus(f.size, false, 1,
        128L * 1024 * 1024, f.modTime, new HadoopPath(rewrite(f.path))))
    }
    // the first kept file in listing order infers an undeclared schema
    val firstPath = snap.files.iterator.map(_.path).find(p => keep.forall(_(p))).get
    val dataSchema = dataSchemaOf(meta, fmt, firstPath, snap.formatSchema)
    // COLUMN MAPPING (Delta name mode / Iceberg field-id renames): a
    // renamed table's files carry the original PHYSICAL column names;
    // the log/metadata schema carries the logical ones plus the
    // physicalName annotation. Scan with the PHYSICAL schema (so
    // vectorized reads, pushed filters, and the stats-skipping tier
    // all bind to what the files hold), then project
    // physical->logical at the end. Unmapped tables take the identity
    // fast path.
    val colMapping: Map[String, String] = meta.tableType match {
      case TableType.Delta   => graft.listing.DeltaLogWriter.mappingOf(dataSchema)
      case TableType.Iceberg => graft.listing.IcebergSnapshotResolver.mappingOf(dataSchema)
      case TableType.Hudi    => graft.listing.HudiTimelineWriter.mappingOf(dataSchema)
      case _                 => Map.empty
    }
    val scanSchema =
      if (colMapping.isEmpty) dataSchema
      else StructType(dataSchema.fields.map(f =>
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
      scanSchema, pSchema, partitions, Seq(new HadoopPath(location(meta))), stats)
    // Iceberg v2 merge-on-read: subtract live DELETE files. Position
    // deletes anti-join on (_metadata.file_path, _metadata.row_index)
    // — Spark's generated parquet metadata columns, so the base scan
    // stays a plain vectorized read and the (tiny) delete set
    // broadcasts; equality deletes anti-join null-safely on their
    // declared columns. Cost ∝ delete-file rows, never a data rewrite
    // — exactly Iceberg's own MOR contract.
    // Delta merge-on-read subtracts deletion-vector rows: the same
    // anti-join shape as Iceberg position deletes; per live
    // descriptor, only rows naming files that CURRENTLY point at that
    // sidecar apply (a superseded sidecar's rows for a re-DV'd file
    // are a subset of its replacement's, and a rewritten file has a
    // new physical path its old rows can never match).
    val merged =
      if (snap.deletes.nonEmpty) applyIcebergDeletes(base, scanPath, snap.deletes, snap.dataSeq)
      else if (snap.dvs.isEmpty) base
      else {
        val del = snap.dvs.groupBy(_._2).toSeq.sortBy(_._1).map { case (dvPath, m) =>
          // canonPath (NOT .toUri.getPath, which drops the authority
          // of object-store URIs) so the isin literals match the
          // sidecar's canonPathCol-canonicalized file_path values
          val files = m.keySet.toSeq.map(canonPath)
          spark.read.parquet(dvPath)
            .select(canonPathCol(col("file_path")).as("__del_fp"),
              col("pos").as("__del_pos"))
            .filter(col("__del_fp").isin(files: _*))
        }.reduce(_.unionAll(_))
        base
          .withColumn("__fp", scanPath)
          .withColumn("__pos", col("_metadata").getField("row_index"))
          .join(broadcast(del),
            col("__fp") === col("__del_fp") && col("__pos") === col("__del_pos"), "left_anti")
          .drop("__fp", "__pos")
      }
    if (colMapping.isEmpty) merged
    else merged.select(
      dataSchema.fields.toSeq.map(f =>
        col(colMapping.getOrElse(f.name, f.name)).as(f.name)) ++
        pSchema.fields.toSeq.map(f => col(f.name)): _*)
  }

  /** Fixed-point form for PERSISTING canonical paths in delete/DV
    * sidecar files: escape every residual `%` as `%25` so that
    * [[canonPathCol]] applied to the STORED value decodes back to
    * exactly the canonical path. Readers canonicalize every
    * `file_path` they load (externally-written delete files carry
    * raw writer paths, so they must), which would DOUBLE-decode a
    * canonical path holding a literal percent-escape — a partition
    * value like `50%25` decoded twice reads `50%`, mismatches the
    * once-decoded listing key, and rows silently skip: the same
    * failure class as the g68 space fix (ADVICE r15 low). Paths
    * without `%` — the universal common case — are bit-identical
    * under this encoding and skip the read-side decode entirely.
    * PathCanonSpec pins `canonPathCol(storedPathCol(p)) == p`.
    */
  private[graft] def storedPathCol(c: Column): Column =
    regexp_replace(c, "%", "%25")

  /** Scheme-insensitive canonical path column (delete files record
    * raw writer paths; `_metadata.file_path` is a qualified URI).
    *
    * Also DECODES URI %-escapes: `_metadata.file_path` is a proper
    * URI where a space in a partition value rides as `%20`, while
    * manifests/logs carry the literal writer path — without decoding,
    * every path-keyed comparison (MOR delete application, DV sidecar
    * filters, changelog legs, sequence scoping) silently missed files
    * in any partition whose value URI-encodes (found via a partitioned
    * `4-NOT SPECIFIED` changelog: eq-delete seq scoping missed the
    * encoded paths and killed same-sequence merge rows). Literal `+`
    * is protected first (url_decode is form-decoding), and an
    * undecodable stray `%` falls back to the raw form — which is what
    * the driver-side [[canonPath]] preserves for the same string.
    */
  private[graft] def canonPathCol(c: Column): Column = {
    val stripped = regexp_replace(c, "^[A-Za-z][A-Za-z0-9+.-]*:/+", "/")
    // %-gate: url_decode is only REACHED for paths that carry an
    // escape (the '+'-protect regexp + decode per row cost g29's MOR
    // anti-join 2.6x at sf1 when applied unconditionally — this
    // expression runs per ROW on _metadata.file_path in every
    // delete/DV application). Escape-free paths — the universal
    // common case — pay one contains() only. A '+'-only path skips
    // the decode and stays literal, which is what the driver-side
    // canonPath produces for the same string.
    when(stripped.contains("%"),
      coalesce(try_url_decode(regexp_replace(stripped, raw"\+", "%2B")), stripped))
      .otherwise(stripped)
  }

  /** The optional HTTP cache proxy's rewrite of an `s3://` path. */
  private def proxyRewrite(p: String): String =
    config.proxyAddress.fold(p)(proxy => p.replaceFirst("^s3://", proxy))

  /** Canonical form of a scan's `_metadata.file_path`, comparable with
    * the listing's paths: the keys of deletion vectors, position
    * deletes and data sequence numbers. A proxied read's files carry
    * the proxy prefix where the listing has `s3://`, so the prefix is
    * mapped back first — otherwise every path-keyed anti-join of a
    * proxied merge-on-read scan matches nothing and deleted rows
    * come back. PathCanonSpec pins the agreement.
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

  private def applyIcebergDeletes(df: DataFrame, scanPath: Column,
      deletes: Seq[IcebergSnapshotResolver#IcebergDeleteFile],
      dataSeqByPath: Map[String, Long]): DataFrame = {
    var out = df
    val pos = deletes.filter(_.content == 1)
    if (pos.nonEmpty) {
      val del = spark.read.parquet(pos.map(_.path): _*)
        .select(canonPathCol(col("file_path")).as("__del_fp"), col("pos").as("__del_pos"))
      out = out
        .withColumn("__fp", scanPath)
        .withColumn("__pos", col("_metadata").getField("row_index"))
        .join(broadcast(del),
          col("__fp") === col("__del_fp") && col("__pos") === col("__del_pos"), "left_anti")
        .drop("__fp", "__pos")
    }
    val eqs = deletes.filter(_.content == 2)
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
      val needScope = eqs.exists(_.seq > 0L) && dataSeqByPath.nonEmpty
      if (needScope) {
        // canonicalize with the SAME column rule used for
        // _metadata.file_path so the two sides always agree
        val seqDf = dataSeqByPath.toSeq.toDF("__seq_fp_raw", "__dseq")
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

  // ---------------------------------------------------------------- SQL path

  private def glueRef(parts: Seq[String]): Option[GlueRefId] = GlueRefId.parse(parts)

  /** All glue refs in a SQL string (≈ reference
    * `getQueryGlueTableRefs`, src/sql-transformer.ts:63-78).
    */
  def glueTableRefs(sql: String): Seq[(String, String)] = {
    val plan = Shim.parsePlan(spark, sql)
    val out = scala.collection.mutable.LinkedHashSet.empty[(String, String)]
    plan.foreachWithSubqueries {
      case u: UnresolvedRelation =>
        glueRef(u.multipartIdentifier).foreach(r => out += ((r.database, r.table)))
      case _ =>
    }
    out.toSeq
  }

  /** Run a SQL query containing `glue.db.tbl` references — the
    * flagship entry point (≈ reference `convertGlueTableQuery` +
    * caller execution, src/glue-table-cache.ts:242-251). Each glue
    * relation becomes a read of its whole cached listing; the
    * query's partition predicates prune it per-relation inside the
    * [[PreListedFileIndex]] at planning.
    */
  def query(sql: String): DataFrame = {
    val plan = Shim.parsePlan(spark, sql)
    val rewritten = rewriteWithPruning(plan)
    Shim.ofRows(spark, rewritten)
  }

  /** Register `GLUE__<db>_<tbl>` temp views for every glue ref in the
    * query (≈ reference `getGlueTableViewSetupSql`,
    * src/glue-table-cache.ts:253-347 + view naming at
    * src/sql-transformer.ts:283-293, hyphens stripped).
    */
  def setupFor(sql: String): Seq[String] =
    glueTableRefs(sql).map { case (db, tbl) =>
      val name = Naming.viewName(db, tbl)
      tableDF(db, tbl).createOrReplaceTempView(name)
      name
    }

  /** One-call textual conversion — the `convertGlueTableQuery`
    * equivalent (reference: src/glue-table-cache.ts:242-251, which
    * returns setup SQL ++ transformed query as one string): registers
    * the `GLUE__db_tbl` views ([[setupFor]]) and returns the
    * rewritten statement with the view names they now resolve to.
    * `spark.sql(result.sql)` is runnable immediately;
    * `result.toString` is the shippable combined artifact.
    */
  def convertGlueTableQuery(sql: String): GlueTableEngine.ConvertedQuery =
    GlueTableEngine.ConvertedQuery(setupFor(sql), rewrittenSql(sql))

  /** Reference-parity textual surface (≈ the rewritten-query half of
    * `convertGlueTableQuery`, reference: src/glue-table-cache.ts:
    * 242-251): the input SQL with every `glue.db.tbl` reference
    * replaced by its `GLUE__db_tbl` view name. Callers that want to
    * inspect or ship the rewritten SQL use this together with
    * [[setupFor]] (which registers those views):
    * `spark.sql(engine.rewrittenSql(q))` is then equivalent to
    * `engine.query(q)` minus the proxy rewrite and Iceberg
    * hidden-transform pruning (partition predicates on a view prune
    * inside the same [[PreListedFileIndex]]).
    *
    * Refs are DISCOVERED by the parser ([[glueTableRefs]]) — only the
    * textual substitution is regex-based, handling optional backtick
    * quoting and the 2-part `glue.tbl` shorthand.
    */
  def rewrittenSql(sql: String): String =
    glueTableRefs(sql).foldLeft(sql) { case (s, (db, tbl)) =>
      val view = java.util.regex.Matcher.quoteReplacement(Naming.viewName(db, tbl))
      val q = java.util.regex.Pattern.quote _
      // 3-part first so `glue.db.tbl` never degrades to a partial
      // 2-part match; 2-part only for the default database. Both ends
      // are identifier-bounded: without the right boundary a ref whose
      // table is a PREFIX of another identifier (glue.orders vs
      // glue.orders_flat) would be rewritten mid-identifier, leaving a
      // corrupted name / stray backtick.
      val bL = "(?<![\\w`])"
      val bR = "(?![\\w`])"
      val threePart = ("(?i)" + bL + "`?glue`?\\.`?" + q(db) + "`?\\.`?" + q(tbl) + "`?" + bR).r
      val s1 = threePart.replaceAllIn(s, view)
      if (db.equalsIgnoreCase("default"))
        ("(?i)" + bL + "`?glue`?\\.`?" + q(tbl) + "`?" + bR).r.replaceAllIn(s1, view)
      else s1
    }

  /** Register the listing DataFrame as `<db>_<tbl>_s3_listing` — the
    * reference's listing-table statement (src/glue-table-cache.ts:
    * 298-306) as a temp view. (Index statements are intentionally
    * dropped: the listing is a small filtered DataFrame.)
    */
  def registerListing(database: String, table: String): String = {
    val name = Naming.listingName(database, table)
    listingDF(database, table).createOrReplaceTempView(name)
    name
  }

  /** Set a SQL session variable `<db>_<tbl>_files` holding the pruned
    * path array — surface parity with the reference's
    * `SET VARIABLE db_tbl_files = (SELECT list(path) ...)` statement
    * (src/glue-table-cache.ts:323-333), using Spark 4 session
    * variables.
    */
  def setFilesVariable(database: String, table: String,
      predicates: Seq[Column] = Nil): String = {
    val varName = Naming.filesVarName(database, table)
    val paths = prunedFiles(database, table, predicates)
    spark.sql(s"DECLARE OR REPLACE VARIABLE $varName ARRAY<STRING>")
    // Quote-doubling ('' for ') parses in every Spark string-literal
    // mode; backslashes are escape chars only while
    // escapedStringLiterals is off, so double them only then.
    val rawLiterals =
      spark.conf.get("spark.sql.parser.escapedStringLiterals", "false").toBoolean
    def quote(p: String): String = {
      val b = if (rawLiterals) p else p.replace("\\", "\\\\")
      "'" + b.replace("'", "''") + "'"
    }
    val arr =
      if (paths.isEmpty) "CAST(array() AS ARRAY<STRING>)"
      else paths.map(quote).mkString("array(", ", ", ")")
    spark.sql(s"SET VARIABLE $varName = $arr")
    varName
  }

  /** Rewrite each glue relation into its [[PreListedFileIndex]] read,
    * keeping every other node untouched. Also the workhorse of the
    * injected [[graft.resolve.GlueResolutionRule]], so plain
    * `spark.sql` gets the same partition pruning as [[query]].
    */
  private[graft] def rewriteWithPruning(plan: LogicalPlan): LogicalPlan = {
    // Every glue relation reads its whole listing, through the proxy
    // when one is set (the reference's files-variable scan). The
    // Filter kept above it is the one partition prune:
    // FileSourceStrategy pushes its partition-only conjuncts, resolved
    // and typed, into PreListedFileIndex.listFiles. Only Iceberg
    // hidden-transform specs, which the index has no columns for,
    // narrow the files here; a selection that keeps nothing reads an
    // empty relation.
    def relationPlan(ref: GlueRefId, hiddenKeep: Option[Set[String]] = None): LogicalPlan = {
      val read = readTable(ref.database, ref.table, 0, keep = hiddenKeep.filter(_.nonEmpty),
        proxied = true)
      Shim.analyzedPlan(if (hiddenKeep.exists(_.isEmpty)) read.limit(0) else read)
    }

    // An unaliased relation keeps its name qualifiers after rewrite:
    // SELECT tbl.col / db.tbl.col / glue.db.tbl.col must still
    // resolve, so wrap the bare parquet plan the same way Spark's
    // SessionCatalog wraps catalog tables.
    def qualified(ref: GlueRefId, plan: LogicalPlan): LogicalPlan =
      SubqueryAlias(Seq("glue", ref.database, ref.table), plan)

    // Top-down so the Filter case sees the still-unresolved relation
    // below it and can derive the hidden-spec selection before the
    // bare relation case would rewrite it without one.
    // CTE definitions live OUTSIDE UnresolvedWith.children, so they
    // must be recursed explicitly — this is where the reference's
    // top-level-WHERE-only pruning silently skipped CTE bodies
    // (SURVEY §2a#5); we rewrite (and prune) inside them too.
    def rewrite(p: LogicalPlan): LogicalPlan = p.transformDownWithSubqueries {
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (name, sub, maxRec) =>
          (name, rewrite(sub).asInstanceOf[SubqueryAlias], maxRec)
        })
      case f @ Filter(cond, child) =>
        // Peel SubqueryAlias to find a relation right below the filter.
        def relationBelow(n: LogicalPlan): Option[UnresolvedRelation] = n match {
          case u: UnresolvedRelation => Some(u)
          case SubqueryAlias(_, u: UnresolvedRelation) => Some(u)
          case _ => None
        }
        relationBelow(child) match {
          case Some(u) if glueRef(u.multipartIdentifier).isDefined =>
            val ref = glueRef(u.multipartIdentifier).get
            // an aliased relation must be referenced via the alias;
            // unaliased may use table or db.table qualifiers
            val quals: Set[String] = child match {
              case SubqueryAlias(id, _) => Set(id.name.toLowerCase)
              case _ => Set(ref.table.toLowerCase,
                s"${ref.database}.${ref.table}".toLowerCase,
                s"glue.${ref.database}.${ref.table}".toLowerCase)
            }
            val newRel = relationPlan(ref, icebergHiddenKeep(ref, cond, quals))
            val newChild = child match {
              case SubqueryAlias(id, _) => SubqueryAlias(id, newRel)
              case _ => qualified(ref, newRel)
            }
            Filter(cond, newChild)
          case _ => f
        }
      case u: UnresolvedRelation if glueRef(u.multipartIdentifier).isDefined =>
        val ref = glueRef(u.multipartIdentifier).get
        qualified(ref, relationPlan(ref))
    }
    rewrite(plan)
  }

  /** Hidden-partition pruning for Iceberg transform specs. Plain
    * equality / IN conjuncts on a hidden-spec SOURCE column translate
    * through the transform ([[graft.listing.IcebergBucket]] /
    * [[graft.listing.IcebergTruncate]]) to the admissible partition
    * values, and — because truncate PRESERVES ORDER on integers —
    * range conjuncts (>, >=, <, <=, BETWEEN) prune truncate specs by
    * window overlap. Only files whose manifest partition record can
    * satisfy every constrained spec are kept. Sound by construction:
    * only whole top-level conjuncts of those exact shapes prune (an
    * OR involving the column keeps everything), unknown partition
    * values keep the file, string truncate serves equality only, and
    * the file listing is driver-side metadata, so the filter costs no
    * Spark job. Returns None when nothing prunes.
    */
  private def icebergHiddenKeep(ref: GlueRefId, cond: Expression,
      quals: Set[String]): Option[Set[String]] = {
    if (tableMetadata(ref.database, ref.table).tableType != TableType.Iceberg) return None
    val snap = snapshot(ref.database, ref.table, 0)
    val specs = snap.specFields.filter(_._3 != "identity")
    if (specs.isEmpty) return None
    import org.apache.spark.sql.catalyst.{expressions => ce}
    def split(e: Expression): Seq[Expression] = e match {
      case ce.And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    def attrOk(a: UnresolvedAttribute, src: String): Boolean =
      a.nameParts.last.equalsIgnoreCase(src) &&
        (a.nameParts.length == 1 ||
          quals.contains(a.nameParts.init.map(_.toLowerCase).mkString(".")))
    def litVal(l: ce.Literal): Option[Any] = l.value match {
      case null => None
      case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
      case i: Int => Some(i)
      case lo: Long => Some(lo)
      case _ => None // other types never constrain a hidden spec here
    }
    def asLong(v: Any): Option[Long] = v match {
      case i: Int => Some(i.toLong); case l: Long => Some(l); case _ => None
    }
    val conjuncts = split(cond)
    // per source column: intersected equality value sets + numeric bounds
    final case class Cons(eq: Option[Seq[Any]],
        lo: Seq[(Long, Boolean)], hi: Seq[(Long, Boolean)]) {
      def isFree: Boolean = eq.isEmpty && lo.isEmpty && hi.isEmpty
    }
    def consFor(src: String): Cons = {
      val eqSets = conjuncts.flatMap {
        case ce.EqualTo(a: UnresolvedAttribute, l: ce.Literal) if attrOk(a, src) =>
          litVal(l).map(Seq(_))
        case ce.EqualTo(l: ce.Literal, a: UnresolvedAttribute) if attrOk(a, src) =>
          litVal(l).map(Seq(_))
        case ce.In(a: UnresolvedAttribute, vs) if attrOk(a, src) &&
            vs.forall(_.isInstanceOf[ce.Literal]) =>
          val lits = vs.map(v => litVal(v.asInstanceOf[ce.Literal]))
          if (lits.forall(_.isDefined)) Some(lits.flatten) else None
        case _ => None
      }
      // attr-side vs literal-side comparisons normalize to bounds on the attr
      // Spark 4 parses BETWEEN as an unresolved function (the analyzer
      // later lowers it to >= AND <=); match it here since pruning
      // runs on the UNRESOLVED plan
      def between(e: Expression): Option[(Long, Long)] = e match {
        case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
            if f.nameParts.map(_.toLowerCase) == Seq("between") =>
          f.arguments match {
            case Seq(a: UnresolvedAttribute, l1: ce.Literal, l2: ce.Literal)
                if attrOk(a, src) =>
              for (lo1 <- litVal(l1).flatMap(asLong); hi1 <- litVal(l2).flatMap(asLong))
                yield (lo1, hi1)
            case _ => None
          }
        case _ => None
      }
      val lo = conjuncts.flatMap {
        case e if between(e).isDefined => between(e).map(b => (b._1, true))
        case ce.GreaterThan(a: UnresolvedAttribute, l: ce.Literal) if attrOk(a, src) =>
          litVal(l).flatMap(asLong).map((_, false))
        case ce.GreaterThanOrEqual(a: UnresolvedAttribute, l: ce.Literal) if attrOk(a, src) =>
          litVal(l).flatMap(asLong).map((_, true))
        case ce.LessThan(l: ce.Literal, a: UnresolvedAttribute) if attrOk(a, src) =>
          litVal(l).flatMap(asLong).map((_, false))
        case ce.LessThanOrEqual(l: ce.Literal, a: UnresolvedAttribute) if attrOk(a, src) =>
          litVal(l).flatMap(asLong).map((_, true))
        case _ => None
      }
      val hi = conjuncts.flatMap {
        case e if between(e).isDefined => between(e).map(b => (b._2, true))
        case ce.LessThan(a: UnresolvedAttribute, l: ce.Literal) if attrOk(a, src) =>
          litVal(l).flatMap(asLong).map((_, false))
        case ce.LessThanOrEqual(a: UnresolvedAttribute, l: ce.Literal) if attrOk(a, src) =>
          litVal(l).flatMap(asLong).map((_, true))
        case ce.GreaterThan(l: ce.Literal, a: UnresolvedAttribute) if attrOk(a, src) =>
          litVal(l).flatMap(asLong).map((_, false))
        case ce.GreaterThanOrEqual(l: ce.Literal, a: UnresolvedAttribute) if attrOk(a, src) =>
          litVal(l).flatMap(asLong).map((_, true))
        case _ => None
      }
      Cons(
        if (eqSets.isEmpty) None else Some(eqSets.reduce((a, b) => a.filter(b.toSet))),
        lo, hi)
    }
    val BucketRe = """bucket\[(\d+)\]""".r
    val TruncRe = """truncate\[(\d+)\]""".r
    // (spec field, keep-predicate over the file's partition value)
    val fieldPreds: Seq[(String, String => Boolean)] = specs.flatMap { case (field, src, tr) =>
      val c = consFor(src)
      if (c.isFree) None
      else tr match {
        case BucketRe(n0) =>
          val n = n0.toInt
          c.eq.map { vals =>
            val buckets = vals.map(v => graft.listing.IcebergBucket.of(v, n)).toSet
            (field, (pv: String) =>
              scala.util.Try(pv.toInt).toOption.forall(buckets.contains))
          }
        case TruncRe(w0) =>
          val w = w0.toInt
          val eqLongs = c.eq.map(_.flatMap(asLong))
          val eqStrings = c.eq.map(_.collect { case st: String => st })
          Some((field, (pv: String) => {
            scala.util.Try(pv.toLong).toOption match {
              case Some(t) => // integer window [t, t + w - 1]
                val eqOk = eqLongs.forall(vs =>
                  vs.exists(v => graft.listing.IcebergTruncate.ofLong(v, w) == t))
                val loOk = c.lo.forall { case (l, incl) =>
                  if (incl) t + w - 1 >= l else t + w - 1 > l }
                val hiOk = c.hi.forall { case (u, incl) =>
                  if (incl) t <= u else t < u }
                eqOk && loOk && hiOk
              case None => // string truncate: equality (prefix) only
                eqStrings.forall(vs =>
                  vs.exists(v => graft.listing.IcebergTruncate.ofString(v, w) == pv))
            }
          }))
        case _ => None // unknown transform: never prune on it
      }
    }
    if (fieldPreds.isEmpty) return None
    val keep = snap.files.filter { f =>
      fieldPreds.forall { case (field, ok) =>
        f.partitionValues.get(field) match {
          case Some(v) => ok(v)
          case None    => true // unknown partition value: keep (sound)
        }
      }
    }.map(_.path).toSet
    Some(keep)
  }

  /** S3 credential configuration (≈ reference `setCredentials` /
    * `CREATE SECRET`, src/glue-table-cache.ts:98-122): maps onto the
    * Hadoop S3A configuration the executors use for s3a:// locations.
    * No-op for local file:// fixtures.
    */
  def setCredentials(accessKey: String, secretKey: String,
      sessionToken: Option[String] = None): Unit = {
    val conf = hadoopConf
    conf.set("fs.s3a.access.key", accessKey)
    conf.set("fs.s3a.secret.key", secretKey)
    sessionToken match {
      case Some(tok) =>
        conf.set("fs.s3a.session.token", tok)
        conf.set("fs.s3a.aws.credentials.provider",
          "org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider")
      case None =>
        conf.unset("fs.s3a.session.token")
    }
  }

  // ---------------------------------------------------------------- cache mgmt

  /** ≈ reference `clearCache` (src/glue-table-cache.ts:124-127). */
  def clearCache(): Unit = {
    metaCache.invalidateAll(); snapshots.invalidateAll()
  }

  /** ≈ reference `invalidateTable` (src/glue-table-cache.ts:206-215):
    * the metadata key and, by prefix, the `<db>.<tbl>#v<n>` snapshot keys
    * (the reference's substring match also hits `<db>.<tbl>_x` tables).
    */
  def invalidateTable(database: String, table: String): Unit = {
    metaCache.invalidate(s"$database.$table")
    snapshots.invalidateMatching(s"$database.$table#v")
  }

  /** ≈ reference `close` (drops caches; the SparkSession is shared
    * and stays up, like the reference leaves the caller's process
    * alone).
    */
  def close(): Unit = clearCache()
}

object GlueTableEngine {
  /** Column names the listing frames own (lower-cased): partition
    * keys may not shadow them — see the validation in
    * `tableMetadata`.
    */
  private[engine] val ReservedListingColumns = Set("path", "size", "modtime", "pv")

  /** Result of `convertGlueTableQuery`: the temp views registered for
    * the query's glue refs, and the statement rewritten to use them.
    * `toString` renders the reference-style single artifact (setup
    * comment header + SQL).
    */
  final case class ConvertedQuery(setupViews: Seq[String], sql: String) {
    override def toString: String =
      setupViews.map(v => s"-- registered temp view: $v\n").mkString + sql
  }
}
