package graft.engine

import graft.functions.ZOrder
import graft.listing.{ColRange, DeltaLogWriter, FooterStats, HudiTimelineResolver, HudiTimelineWriter,
  IcebergBucket, IcebergSnapshotResolver, IcebergTruncate, IcebergWriter, StatsPruning}
import graft.model._
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, NumericType, StringType}
import org.apache.spark.sql.{Column, DataFrame}

/** The engine's write and maintenance half — the reference is a
  * read-only cache; this is what a pipeline engine adds on top of it:
  * new tables (plain parquet, Delta, Iceberg, Hudi), appends,
  * row-level deletes/updates/merges, schema and partition-spec
  * evolution, refs, rollbacks, compaction and vacuuming.
  *
  * Every call on a registered table goes through one [[commit]] step
  * (format check, location lookup, cache invalidation), every new
  * table through one [[create]] step (overwrite delete, catalog
  * registration, invalidation); the formats' own writers
  * ([[DeltaLogWriter]], [[IcebergWriter]], [[HudiTimelineWriter]])
  * publish each commit atomically.
  */
trait TableWriters { self: GlueTableEngine =>

  // ---------------------------------------------------------------- steps

  /** The one commit step of every write to a registered table: check
    * it is a `format` table, run `write` on its metadata and location,
    * then drop its cached metadata and snapshots so the next read sees
    * the commit.
    */
  private def commit[A](database: String, table: String, format: TableType)(
      write: (CachedTableMetadata, String) => A): A = {
    val meta = metadataOf(database, table, format)
    val out = write(meta, location(meta))
    invalidateTable(database, table)
    out
  }

  /** The one create step of every new table: clear its location first
    * when `replace` (overwrite semantics), run `write` there, register
    * the table in a fixture catalog (external catalogs register out of
    * band) and drop any state cached under its name.
    */
  private def create(t: GlueTable, replace: Boolean)(write: String => Unit): GlueTable = {
    val loc = t.location.get
    val root = new HadoopPath(loc)
    val fs = root.getFileSystem(hadoopConf)
    if (replace && fs.exists(root)) fs.delete(root, true)
    write(loc)
    catalog match {
      case f: graft.catalog.FixtureCatalog => f.register(t)
      case _ =>
    }
    invalidateTable(t.database, t.name)
    t
  }

  private def partitionNames(meta: CachedTableMetadata): Seq[String] =
    meta.table.partitionKeys.map(_.name)

  /** The files of `live` that `predicate` may match on `df`: all but
    * those whose column bounds PROVE it false — the one-sided
    * [[StatsPruning]] prover the read path skips with.
    */
  private def mayMatch[F](df: DataFrame, predicate: Column, live: Seq[F])(
      bounds: F => Map[String, ColRange]): Seq[F] = {
    val cond = df.filter(predicate).queryExecution.optimizedPlan
      .collectFirst { case Filter(c, _) => c }.getOrElse(Literal.TrueLiteral)
    live.filterNot { f =>
      val b = bounds(f)
      b.nonEmpty && StatsPruning.proveFalse(cond, b, _ equalsIgnoreCase _)
    }
  }

  /** Write `rows` as ONE parquet file under a fresh `<kind>_<nanos>`
    * dir of the table root (a delete file, a deletion-vector sidecar);
    * returns the file.
    */
  private def writeSidecar(loc: String, kind: String, rows: DataFrame): HadoopPath = {
    val dir = new HadoopPath(s"${loc.stripSuffix("/")}/${kind}_${System.nanoTime()}")
    rows.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    dir.getFileSystem(hadoopConf).listStatus(dir).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
  }

  /** Parquet files under `root`, outside its `metaDir` log dir, that
    * no canonical path in `referenced` names — what a vacuum deletes.
    */
  private def unreferencedParquet(root: String, metaDir: String,
      referenced: Set[String]): Seq[HadoopPath] = {
    val fs = new HadoopPath(root).getFileSystem(hadoopConf)
    def walk(p: HadoopPath): Seq[HadoopPath] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (name == metaDir) Nil
        else if (st.isDirectory) walk(st.getPath)
        else if (name.endsWith(".parquet")) Seq(st.getPath)
        else Nil
      }
    walk(new HadoopPath(root)).filterNot(p => referenced.contains(canonPath(p.toString)))
  }

  /** Output file count for `bytes` at `targetFileBytes` per file. */
  private def fileCount(bytes: Long, targetFileBytes: Long): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
  }

  /** `df` in `nFiles` files laid out by the Morton interleave of the
    * numeric `zorderBy` columns ([[graft.functions.ZOrder]]): range-
    * partitioned and sorted, so every file holds a tight value range
    * in EACH dimension and file skipping prunes on any of them. The
    * per-column min/max the grid normalization needs is one small
    * aggregate over the (already planned) table scan.
    */
  private def zOrdered(df: DataFrame, name: String, zorderBy: Seq[String],
      nFiles: Int, bits: Int): DataFrame = {
    // a string/complex/missing column errors by name up front, not as
    // a null cast deep in the stats row
    zorderBy.foreach { c =>
      val f = df.schema.find(_.name == c).getOrElse(throw new IllegalArgumentException(
        s"zorderBy column $c not found in $name (columns: ${df.columns.mkString(", ")})"))
      require(f.dataType.isInstanceOf[NumericType],
        s"zorderBy column $c must be numeric, got ${f.dataType.simpleString}")
    }
    val spans = zorderBy.flatMap(c => Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val stats = df.agg(spans.head, spans.tail: _*).head()
    val norm = zorderBy.indices.map { i =>
      // empty table / all-null column: min/max aggregate to NULL — a
      // degenerate span (the dimension contributes cell 0, matching
      // the hi <= lo rule) instead of an opaque NPE
      if (stats.isNullAt(2 * i) || stats.isNullAt(2 * i + 1)) lit(0L)
      else ZOrder.normalize(col(zorderBy(i)), stats.getDouble(2 * i), stats.getDouble(2 * i + 1), bits)
    }
    df.withColumn("__z", ZOrder.zvalue(norm, bits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  // ---------------------------------------------------------------- new tables

  /** Sink: write a DataFrame as a new glue table (Hive layout when
    * partition columns are given, flat parquet otherwise) and register
    * it in the catalog so it is immediately queryable as
    * `glue.<db>.<tbl>`. Partitioned writes produce the same
    * `key=value` layout the Hive read path prunes.
    */
  def writeTable(df: DataFrame, database: String, table: String, location: String,
      partitionBy: Seq[String] = Nil): GlueTable =
    create(GlueTable(database, table, Some(location), partitionKeys = partitionBy.map(ColumnDef(_))),
        replace = false) { loc =>
      // Spark's own overwrite mode replaces the location
      val writer = df.write.mode("overwrite")
      (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer).parquet(loc)
    }

  /** Write `df` as a NEW Delta table (commit 0: metaData + adds with
    * footer-derived stats) at `location` and register it — the
    * engine's transactional write path. Readers get time travel,
    * incremental reads, metadata counts, and log-stats file skipping
    * for free through the normal Delta read paths; a crash before
    * the commit JSON's atomic rename leaves only invisible garbage
    * files, never a half-visible table.
    */
  def writeDeltaTable(df: DataFrame, database: String, table: String,
      location: String, partitionBy: Seq[String] = Nil): GlueTable =
    create(GlueTable(database, table, Some(location), partitionKeys = partitionBy.map(ColumnDef(_)),
        parameters = Map("table_type" -> "DELTA")), replace = true) { loc =>
      DeltaLogWriter.commit(spark, loc, df, partitionBy)
    }

  /** SHALLOW-CLONE a registered Delta table: a new table at
    * `location` whose v0 references the source's live files by
    * absolute path — zero data copied, O(live files) metadata at any
    * table size — then registers and reads independently (appends to
    * the clone never touch the source). A target that already holds a
    * Delta log fails loudly. Retention caveat as in real Delta CLONE:
    * vacuuming the source can strand borrowed files.
    */
  def cloneDeltaTable(database: String, table: String,
      targetTable: String, location: String): GlueTable = {
    val meta = metadataOf(database, table, TableType.Delta)
    create(GlueTable(database, targetTable, Some(location), partitionKeys = meta.table.partitionKeys,
        parameters = Map("table_type" -> "DELTA")), replace = false) { loc =>
      DeltaLogWriter.shallowClone(spark, this.location(meta), loc)
    }
  }

  /** Write `df` as a NEW Iceberg v2 table (snapshot 1, Avro
    * manifests with real footer-derived bounds) at `location` and
    * register it — the Iceberg counterpart of [[writeDeltaTable]].
    * Readers get time travel, incremental reads, and manifest-bounds
    * file skipping through the normal Iceberg paths.
    */
  def writeIcebergTable(df: DataFrame, database: String, table: String,
      location: String, partitionBy: Seq[String] = Nil): GlueTable =
    create(GlueTable(database, table, Some(location), partitionKeys = partitionBy.map(ColumnDef(_)),
        parameters = Map("table_type" -> "ICEBERG")), replace = true) { loc =>
      IcebergWriter.commit(spark, loc, df, partitionBy)
    }

  /** Write an Iceberg table with HIDDEN partitioning — the spec's
    * bucket transform (`bucket[N]` over `bucketCol`): rows land in
    * per-bucket files, the manifest partition record carries the
    * bucket int under `<col>_bucket`, and the partition spec declares
    * `{"transform": "bucket[N]", "source-id": <col>}` — but the
    * bucket NEVER appears as a table column (that is what "hidden"
    * means; readers see the raw schema). The payoff at 100 TB: an
    * equality/IN probe on the source column scans 1/N of the table
    * with no user-visible partition column to mis-join on —
    * [[query]] translates such conjuncts through [[IcebergBucket]]
    * and prunes the file listing before planning.
    */
  def writeIcebergTableBucketed(df: DataFrame, database: String, table: String,
      location: String, bucketCol: String, nBuckets: Int): GlueTable = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    writeIcebergHidden(df, database, table, location, bucketCol,
      s"${bucketCol}_bucket", s"bucket[$nBuckets]")
  }

  /** [[writeIcebergTableBucketed]]'s ORDER-PRESERVING sibling: hidden
    * `truncate[W]` partitioning over an int/long/string column. Rows
    * land in W-wide windows (`v - (((v % W) + W) % W)`; string
    * prefixes of length W), never as a table column — and because
    * integer truncate preserves order, [[query]] prunes RANGE
    * predicates on the source column (BETWEEN scans only the
    * overlapping windows), which bucket hashing cannot do.
    */
  def writeIcebergTableTruncated(df: DataFrame, database: String, table: String,
      location: String, truncCol: String, width: Int): GlueTable = {
    require(width > 0, s"width must be positive: $width")
    writeIcebergHidden(df, database, table, location, truncCol,
      s"${truncCol}_trunc", s"truncate[$width]")
  }

  /** A new Iceberg table hidden-partitioned by `transform` of `src`
    * under the spec field `field`. The rows cluster by the transform
    * value before writing: one shuffle buys one file per value per
    * task instead of (input partitions x values) small files — the
    * small-files problem is the first thing bucketing is supposed to
    * solve at scale.
    */
  private def writeIcebergHidden(df: DataFrame, database: String, table: String,
      location: String, src: String, field: String, transform: String): GlueTable = {
    val tCol = transformColumnFor(df, src, transform)
    create(GlueTable(database, table, Some(location),
        partitionKeys = Nil, // hidden: the spec field is not a column
        parameters = Map("table_type" -> "ICEBERG")), replace = true) { loc =>
      IcebergWriter.commit(spark, loc, df.withColumn(field, tCol).repartition(col(field)),
        partitionBy = Seq(field), transforms = Map(field -> (transform, src)))
    }
  }

  /** Write-time value column of a hidden transform (`bucket[N]`,
    * `truncate[W]`) over an int/long/string column: computed once per
    * batch as a narrow projection; reads never evaluate it.
    */
  private def transformColumnFor(df: DataFrame, src: String, transform: String): Column = {
    val BucketRe = """bucket\[(\d+)\]""".r
    val TruncRe = """truncate\[(\d+)\]""".r
    def unsupported(kind: String, dt: DataType): Nothing = throw new IllegalArgumentException(
      s"$kind transform supports long/int/string source columns, $src is $dt")
    val f = (transform, df.schema(src).dataType) match {
      case (BucketRe(n0), dt) =>
        val n = n0.toInt
        dt match {
          case LongType => udf((v: java.lang.Long) =>
            if (v == null) null else Integer.valueOf(IcebergBucket.of(v, n)))
          case IntegerType => udf((v: java.lang.Integer) =>
            if (v == null) null else Integer.valueOf(IcebergBucket.of(v, n)))
          case StringType => udf((v: String) =>
            if (v == null) null else Integer.valueOf(IcebergBucket.of(v, n)))
          case other => unsupported("bucket", other)
        }
      case (TruncRe(w0), dt) =>
        val w = w0.toInt
        dt match {
          case LongType => udf((v: java.lang.Long) =>
            if (v == null) null else java.lang.Long.valueOf(IcebergTruncate.ofLong(v, w)))
          case IntegerType => udf((v: java.lang.Integer) =>
            if (v == null) null else Integer.valueOf(IcebergTruncate.ofLong(v.longValue(), w).toInt))
          case StringType => udf((v: String) =>
            if (v == null) null else IcebergTruncate.ofString(v, w))
          case other => unsupported("truncate", other)
        }
      case (other, _) => throw new IllegalArgumentException(s"unsupported hidden transform: $other")
    }
    f(col(src))
  }

  /** Write `df` as a NEW Hudi copy-on-write table at `location` and
    * register it — the Hudi member of the write trio
    * ([[writeDeltaTable]], [[writeIcebergTable]]). Partitioned
    * writes use Hive-style `k=v` dirs, so the engine's partition
    * extractors prune them like any other layout.
    */
  def writeHudiTable(df: DataFrame, database: String, table: String,
      location: String, partitionBy: Seq[String] = Nil): GlueTable =
    create(GlueTable(database, table, Some(location), partitionKeys = partitionBy.map(ColumnDef(_)),
        parameters = Map("table_type" -> "HUDI")), replace = true) { loc =>
      HudiTimelineWriter.commit(spark, loc, df, partitionBy)
    }

  // ---------------------------------------------------------------- Delta

  /** Append a batch to a registered Delta table as its next commit
    * version. Returns the committed version.
    */
  def appendDeltaTable(df: DataFrame, database: String, table: String): Long =
    commit(database, table, TableType.Delta) { (meta, loc) =>
      DeltaLogWriter.commit(spark, loc, df, partitionNames(meta))
    }

  /** RESTORE a registered Delta table to an earlier version as a new
    * commit (`RESTORE TABLE ... TO VERSION AS OF` semantics —
    * [[graft.listing.DeltaLogWriter.restore]]): after this, the
    * latest read equals the time-travel read at `versionOffset` (as
    * counted BEFORE the restore), history stays intact, and nothing
    * is deleted from storage until VACUUM. Pure metadata. Returns
    * the new version.
    */
  def restoreDeltaTable(database: String, table: String, versionOffset: Int): Long =
    commit(database, table, TableType.Delta) { (_, loc) =>
      DeltaLogWriter.restore(spark, loc, versionOffset)
    }

  /** RENAME a Delta column — metadata-only, zero files rewritten
    * however large the table ([[graft.listing.DeltaLogWriter
    * .renameColumn]]: Delta column mapping, name mode). Reads resolve
    * the logical name through the physicalName annotation; later
    * appends arrive with logical names and are written back under the
    * fixed physical ones. Returns the new version.
    */
  def renameDeltaColumn(database: String, table: String,
      oldName: String, newName: String): Long =
    commit(database, table, TableType.Delta) { (_, loc) =>
      DeltaLogWriter.renameColumn(spark, loc, oldName, newName)
    }

  /** DROP a Delta column — metadata-only, zero files rewritten
    * ([[graft.listing.DeltaLogWriter.dropColumn]]): readers stop
    * projecting it, history still travels to the pre-drop schema, and
    * a later re-add binds to a FRESH physical name so pre-drop bytes
    * never resurrect. Returns the new version.
    */
  def dropDeltaColumn(database: String, table: String, name: String): Long =
    commit(database, table, TableType.Delta) { (_, loc) =>
      DeltaLogWriter.dropColumn(spark, loc, name)
    }

  /** OPTIMIZE-style compaction for a Delta table: rewrite the live
    * file set into `ceil(liveBytes / targetFileBytes)` files as ONE
    * commit — remove actions retire every previous live file, adds
    * publish the compacted replacements with fresh footer-derived
    * stats. `zorderBy` lays the files out by the Morton interleave of
    * those columns (Delta `OPTIMIZE ZORDER BY` parity), so the fresh
    * add-stats make the log's file skipping selective on every one of
    * them. Readers flip atomically; earlier versions still
    * time-travel to the old layout (nothing is physically deleted —
    * vacuuming is a separate lifecycle, as in Delta itself). Returns
    * the committed version.
    */
  def optimizeDeltaTable(database: String, table: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      zorderBy: Seq[String] = Nil, bits: Int = 16): Long =
    commit(database, table, TableType.Delta) { (meta, loc) =>
      val live = files(database, table)
      val nFiles = fileCount(live.map(_.size).sum, targetFileBytes)
      val df = tableDF(database, table)
      val compacted =
        if (zorderBy.isEmpty) df.repartition(nFiles)
        else zOrdered(df, s"$database.$table", zorderBy, nFiles, bits)
      DeltaLogWriter.commitWith(spark, loc, compacted, partitionNames(meta),
        removePaths = live.map(_.path))
    }

  /** Row-level DELETE WHERE for a Delta table, as surgical
    * copy-on-write: files whose log stats PROVE no row can match
    * ([[mayMatch]]) are left untouched — same physical file, no
    * rewrite; only files that may contain matching rows are read,
    * filtered to the survivors (`WHERE p` deletes rows where p is
    * TRUE; false and NULL rows stay, per SQL DELETE semantics), and
    * rewritten in ONE commit (removes for the affected files + adds
    * for their replacements). At 100 TB a delete touching one day of
    * data rewrites that day's files, not the table. Returns the
    * committed version (the current one when no file may match).
    */
  def deleteDeltaWhere(database: String, table: String, predicate: Column): Long =
    commit(database, table, TableType.Delta) { (meta, loc) =>
      val affected = mayMatch(tableDF(database, table), predicate, files(database, table))(_.bounds)
      if (affected.isEmpty) delta.latestVersion(loc).getOrElse(0L)
      else {
        val survivors = readTable(database, table, 0,
          keep = Some(affected.map(_.path).toSet), proxied = false)
          .filter(!coalesce(predicate, lit(false)))
        DeltaLogWriter.commitWith(spark, loc, survivors, partitionNames(meta),
          removePaths = affected.map(_.path))
      }
    }

  /** MERGE-ON-READ DELETE for a Delta table — the deletion-vector
    * path: write the matching rows' `(file_path, pos)` positions as a
    * DV sidecar and RE-ADD each affected file with the descriptor in
    * ONE commit ([[graft.listing.DeltaLogWriter
    * .commitDeletionVectors]]). NO data file is rewritten; deletion
    * cost is proportional to the matched rows alone — the opposite
    * trade from [[deleteDeltaWhere]]'s copy-on-write (readers pay a
    * broadcast anti-join until a rewrite retires the DV), mirroring
    * [[deleteIcebergWhere]] so Delta holds BOTH delete shapes, as
    * real Delta does. Positions MERGE with any existing DV on the
    * same file: the re-add REPLACES the descriptor, so the new
    * sidecar carries the union of old and new positions. Returns the
    * committed version (or the current one when nothing matches).
    */
  def deleteDeltaWhereMor(database: String, table: String, predicate: Column): Long =
    commit(database, table, TableType.Delta) { (_, loc) =>
      // tableDF already subtracts existing DVs, so `matches` holds only
      // still-live rows; row_index is the file-physical position either
      // way, which is exactly what the sidecar records
      val matches = positionsWhere(database, table, predicate)
      val affectedCanon = matches.select("file_path").distinct()
        .collect().map(_.getString(0)).toSet
      if (affectedCanon.isEmpty) delta.latestVersion(loc).getOrElse(0L)
      else {
        val affected = files(database, table).map(_.path)
          .filter(p => affectedCanon.contains(canonPath(p)))
        // carry forward existing positions of the re-DV'd files
        val carried = positionRows(DeleteSet.deletionVectors(delta.versionAt(loc)._2),
          Some(affected.toSet))
        val dvRows = matches.unionAll(carried.toDF("file_path", "pos"))
        // storedPathCol: the sidecar is re-canonicalized on every read,
        // so persist the fixed-point form (a literal '%' in a partition
        // value would otherwise decode twice and silently skip its rows)
        val dvFile = writeSidecar(loc, "dv", dvRows.distinct()
          .select(storedPathCol(col("file_path")).as("file_path"), col("pos")))
        DeltaLogWriter.commitDeletionVectors(spark, loc, affected.map(_ -> dvFile.toString).toMap)
      }
    }

  /** `(file_path, pos)` of the live rows where `predicate` is TRUE —
    * the rows a merge-on-read delete records. `file_path` is
    * canonicalized with canonPathCol, not a bare scheme strip:
    * `_metadata.file_path` is URI-ENCODED (a partition value with a
    * space reads as %20) while listing paths decode — an
    * encoding-blind strip silently skipped every row in such a
    * partition (found by g68's space-holding o_orderpriority
    * partition).
    */
  private def positionsWhere(database: String, table: String, predicate: Column): DataFrame =
    tableDF(database, table)
      .filter(coalesce(predicate, lit(false)))
      .select(
        canonPathCol(col("_metadata").getField("file_path")).as("file_path"),
        col("_metadata").getField("row_index").as("pos"))

  /** Row-level UPDATE ... SET for a Delta table — the same
    * stats-surgical copy-on-write as [[deleteDeltaWhere]]: provably
    * unaffected files keep their physical file; affected files are
    * rewritten with each SET column replaced where the predicate is
    * TRUE (false/NULL rows keep their values). One commit, fresh
    * stats on the rewritten files. Returns the committed version.
    */
  def updateDeltaWhere(database: String, table: String, predicate: Column,
      set: Map[String, Column]): Long = {
    require(set.nonEmpty, "UPDATE needs at least one SET column")
    commit(database, table, TableType.Delta) { (meta, loc) =>
      val df = tableDF(database, table)
      set.keys.foreach { c =>
        require(df.columns.contains(c), s"SET column $c not in $database.$table")
      }
      val affected = mayMatch(df, predicate, files(database, table))(_.bounds)
      if (affected.isEmpty) delta.latestVersion(loc).getOrElse(0L)
      else {
        val hit = coalesce(predicate, lit(false))
        val base = readTable(database, table, 0,
          keep = Some(affected.map(_.path).toSet), proxied = false)
        val updated = set.foldLeft(base) { case (d, (c, v)) =>
          d.withColumn(c, when(hit, v).otherwise(col(c)))
        }
        DeltaLogWriter.commitWith(spark, loc, updated, partitionNames(meta),
          removePaths = affected.map(_.path))
      }
    }
  }

  /** MERGE (upsert) a source batch into a Delta table by `key`:
    * target rows whose key appears in the source are REPLACED by the
    * source row, source rows with no target match are INSERTED — one
    * commit. Surgical like [[deleteDeltaWhere]]: only target files
    * whose key bounds intersect the source's key span rewrite (a file
    * provably outside it cannot hold a matching key); the rewrite
    * anti-joins the affected rows against the source keys and unions
    * the full source. A source whose keys are all NULL matches no
    * target row and lands as a pure insert. Source keys are expected
    * unique per batch (the standard upsert contract — duplicate
    * source keys all land). Returns the committed version (the
    * current one for an empty source).
    */
  def mergeDelta(database: String, table: String, source: DataFrame, key: String): Long =
    commit(database, table, TableType.Delta) { (meta, loc) =>
      require(source.columns.contains(key), s"merge key $key not in the source batch")
      // one job: the key span, and the row count that tells an empty
      // source from one whose keys are all NULL
      val span = source.agg(min(col(key)), max(col(key)), count(lit(1))).head()
      if (span.getLong(2) == 0L) delta.latestVersion(loc).getOrElse(0L)
      else {
        val affected =
          if (span.isNullAt(0)) Nil
          else mayMatch(tableDF(database, table),
            col(key).between(lit(span.get(0)), lit(span.get(1))), files(database, table))(_.bounds)
        val kept =
          if (affected.isEmpty) source // pure insert
          else readTable(database, table, 0,
            keep = Some(affected.map(_.path).toSet), proxied = false)
            .join(source.select(col(key)).distinct(), Seq(key), "left_anti")
            .unionByName(source)
        DeltaLogWriter.commitWith(spark, loc, kept, partitionNames(meta),
          removePaths = affected.map(_.path))
      }
    }

  /** Physically delete data files no longer referenced by the last
    * `retainVersions` versions — the VACUUM half of the Delta
    * lifecycle ([[optimizeDeltaTable]] retires files logically but
    * keeps them for time travel). Only files under the table root are
    * candidates; anything referenced by ANY retained version
    * survives. Returns the deleted paths.
    */
  def vacuumDeltaTable(database: String, table: String, retainVersions: Int = 2): Seq[String] = {
    require(retainVersions >= 1, "must retain at least the current version")
    commit(database, table, TableType.Delta) { (_, loc) =>
      val root = loc.stripSuffix("/")
      // live deletion-vector sidecars are referenced files too — a
      // vacuum that reclaimed one would silently RESURRECT its deleted
      // rows on the next read. Resolved fresh, never from the read
      // cache: a snapshot cached before another writer's commit would
      // miss that commit's data files and sidecars.
      val referenced = (0 until retainVersions).flatMap { off =>
        val (adds, dvs, _) = delta.versionAt(root, off)
        (adds.map(_.path) ++ dvs.values).map(canonPath)
      }.toSet
      val doomed = unreferencedParquet(root, "_delta_log", referenced)
      val fs = new HadoopPath(root).getFileSystem(hadoopConf)
      doomed.foreach(p => fs.delete(p, false))
      doomed.map(_.toString)
    }
  }

  // ---------------------------------------------------------------- Iceberg

  /** Append a batch to a registered Iceberg table as its next
    * snapshot. Returns the new sequence number.
    *
    * `evolve = true` permits ADDITIVE schema evolution: a batch whose
    * schema extends the table's as a strict prefix appends new
    * trailing columns (positional field ids stay stable), the evolved
    * schema publishes with the commit, and pre-evolution files read
    * the new columns back as nulls — the Iceberg twin of g40's Delta
    * evolution contract. Non-additive shapes still fail loudly.
    */
  def appendIcebergTable(df: DataFrame, database: String, table: String,
      evolve: Boolean = false): Long =
    commit(database, table, TableType.Iceberg) { (meta, loc) =>
      // The partition SPEC is metadata, not catalog state — it, not the
      // catalog, is the append layout's authority (the writer's
      // spec-stability check refuses a mismatched append).
      // ALL spec fields in spec order are the layout (not just hidden
      // ones): an identity-partitioned table that adopted a hidden
      // transform via spec evolution keeps BOTH dimensions — identity
      // values come straight from the batch columns, hidden transform
      // columns are recomputed per batch. Falling back to the catalog
      // keys covers tables whose metadata predates spec records.
      val sfields = iceberg.specFields(loc)
      val (batch, partBy, transforms) =
        if (sfields.isEmpty) (df, partitionNames(meta), Map.empty[String, (String, String)])
        else {
          val hidden = sfields.filter(_._3 != "identity")
          val withCols = hidden.foldLeft(df) { case (acc, (field, src, tr)) =>
            acc.withColumn(field, transformColumnFor(acc, src, tr))
          }.repartition(sfields.map(h => col(h._1)): _*)
          (withCols, sfields.map(_._1),
            hidden.map { case (f, src, tr) => f -> (tr, src) }.toMap)
        }
      IcebergWriter.commit(spark, loc, batch, partBy,
        allowAdditive = evolve, transforms = transforms)
    }

  /** RENAME an Iceberg column — metadata-only, zero files rewritten
    * ([[graft.listing.IcebergWriter.renameColumn]]: field ids are the
    * identity, names are display). Reads resolve the new logical name
    * through the field's physical-name mapping; later appends arrive
    * with logical names and are written back under the fixed physical
    * ones. Returns the new sequence number.
    */
  def renameIcebergColumn(database: String, table: String,
      oldName: String, newName: String): Long =
    commit(database, table, TableType.Iceberg) { (_, loc) =>
      IcebergWriter.renameColumn(spark, loc, oldName, newName)
    }

  /** DROP an Iceberg column — metadata-only, zero files rewritten
    * ([[graft.listing.IcebergWriter.dropColumn]]): readers stop
    * projecting it, history still time-travels to the pre-drop
    * metadata, and a later re-add binds to a FRESH field id and
    * physical name so pre-drop bytes never resurrect. Returns the new
    * sequence number.
    */
  def dropIcebergColumn(database: String, table: String, name: String): Long =
    commit(database, table, TableType.Iceberg) { (_, loc) =>
      IcebergWriter.dropColumn(spark, loc, name)
    }

  /** APPEND a batch to an Iceberg table on a named BRANCH — the
    * staging half of write-audit-publish: the snapshot publishes into
    * the snapshots array and moves only the branch ref, so every main
    * reader (engine queries, time travel, changelog) is oblivious to
    * it until [[publishIcebergBranch]] fast-forwards main. Returns
    * the staged sequence number.
    */
  def appendIcebergBranch(df: DataFrame, database: String, table: String,
      branch: String): Long = {
    require(branch != "main", "main is not a stageable branch — use appendIcebergTable")
    commit(database, table, TableType.Iceberg) { (_, loc) =>
      IcebergWriter.commit(spark, loc, df, Nil, branch = Some(branch))
    }
  }

  /** The AUDIT read of write-audit-publish: the branch head's rows,
    * read outside the main table surface (plain-table branches;
    * column-mapped or MOR tables stage on main-only paths).
    */
  def icebergBranchDF(database: String, table: String, branch: String): DataFrame = {
    val paths = iceberg.dataFilesForRef(
      location(metadataOf(database, table, TableType.Iceberg)), branch)
    if (paths.isEmpty) spark.range(0).select(lit(null).cast("string").as("null"))
    else spark.read.parquet(paths: _*)
  }

  /** TAG the current main snapshot — an immutable named ref: later
    * writes move main past it while the tag keeps naming the exact
    * snapshot ([[graft.listing.IcebergWriter.tagSnapshot]]). Read it
    * back with [[icebergTagDF]]. Returns the tagged snapshot id.
    */
  def tagIcebergSnapshot(database: String, table: String, tag: String): Long =
    commit(database, table, TableType.Iceberg) { (_, loc) =>
      IcebergWriter.tagSnapshot(spark, loc, tag)
    }

  /** DROP a named ref (tag or staged branch) — metadata-only
    * ([[graft.listing.IcebergWriter.dropRef]]). Also the documented
    * RECOVERY path when snapshot expiry fails on a dangling ref
    * (a ref pointing at a snapshot the current metadata no longer
    * lists): expiry keeps failing loudly rather than silently
    * under-protecting, and the operator repairs the table by
    * dropping the dangling ref, then re-runs expiry.
    */
  def dropIcebergRef(database: String, table: String, ref: String): Long =
    commit(database, table, TableType.Iceberg) { (_, loc) =>
      IcebergWriter.dropRef(spark, loc, ref)
    }

  /** Read a TAGGED snapshot — the frozen state the tag names,
    * however far main has moved since. Same resolution as the
    * branch-audit read.
    */
  def icebergTagDF(database: String, table: String, tag: String): DataFrame =
    icebergBranchDF(database, table, tag)

  /** PUBLISH a staged branch: metadata-only fast-forward of main onto
    * the branch head ([[graft.listing.IcebergWriter.publishBranch]]) —
    * the audited snapshots become visible to every main reader
    * atomically, with zero data movement. Returns the new sequence
    * number.
    */
  def publishIcebergBranch(database: String, table: String, branch: String): Long =
    commit(database, table, TableType.Iceberg) { (_, loc) =>
      IcebergWriter.publishBranch(spark, loc, branch)
    }

  /** EVOLVE an Iceberg table's partition spec — metadata-only, zero
    * files rewritten ([[graft.listing.IcebergWriter.updateSpec]]):
    * pre-evolution files keep their layout and are always read (they
    * carry no value for the new spec field, and pruning keeps
    * unknown-value files — sound by construction); batches appended
    * AFTER the evolution land partitioned under the new spec, and
    * conjuncts on the source column prune them through the transform.
    * The payoff at 100 TB: a table can adopt (or retire, or re-width)
    * hidden partitioning as its query pattern emerges, without a
    * single rewrite — Iceberg's signature layout feature. Supported
    * transforms: `bucket[N]`, `truncate[W]` on a long/int/string
    * source column. Returns the new sequence number.
    */
  def evolveIcebergPartitionSpec(database: String, table: String,
      sourceCol: String, transform: String): Long =
    commit(database, table, TableType.Iceberg) { (_, loc) =>
      val BucketRe = """bucket\[(\d+)\]""".r
      val TruncRe = """truncate\[(\d+)\]""".r
      // the PARAMETER is part of the field name: a re-evolution (e.g.
      // truncate[100] -> truncate[50]) must never reinterpret values
      // written under the retired spec as windows of the new width —
      // a distinct name makes old files read as value-unknown (kept,
      // sound) instead of mis-pruned
      val field = transform match {
        case BucketRe(n) => s"${sourceCol}_bucket_$n"
        case TruncRe(w)  => s"${sourceCol}_trunc_$w"
        case other => throw new IllegalArgumentException(
          s"unsupported hidden transform for spec evolution: $other")
      }
      IcebergWriter.updateSpec(spark, loc, Seq((field, transform, sourceCol)))
    }

  /** MERGE-ON-READ DELETE for an Iceberg table: write the matching
    * rows' positions as a POSITION DELETE FILE and publish it as a
    * new snapshot — NO data file is rewritten, deletion cost is
    * proportional to the matched rows alone (the opposite trade from
    * [[deleteDeltaWhere]]'s copy-on-write; readers pay the anti-join
    * until a compaction folds the deletes in). Uses the engine's own
    * `_metadata`-driven read to find (file, row_index) pairs, so any
    * predicate works. Returns the new sequence number (the current
    * one when nothing matches).
    */
  def deleteIcebergWhere(database: String, table: String, predicate: Column): Long =
    commit(database, table, TableType.Iceberg) { (_, loc) =>
      // storedPathCol: readers re-canonicalize stored paths, as for
      // the deletion-vector sidecar
      publishDeletes(loc, 1, Nil, positionsWhere(database, table, predicate)
        .select(storedPathCol(col("file_path")).as("file_path"), col("pos")))
    }

  /** MERGE-ON-READ equality delete for an Iceberg table: publish the
    * key batch as an EQUALITY DELETE FILE over `keyCols` — every
    * live row matching any key row is deleted at read time, no data
    * rewrite, cost proportional to the key batch. Returns the new
    * sequence number (the current one for an empty key batch).
    */
  def deleteIcebergMatching(database: String, table: String,
      keys: DataFrame, keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "equality delete needs at least one key column")
    commit(database, table, TableType.Iceberg) { (_, loc) =>
      publishDeletes(loc, 2, keyCols, keys.select(keyCols.map(col): _*).distinct())
    }
  }

  /** Publish `rows` as one Iceberg delete file of `content` (1 =
    * positions, 2 = equality over `eqCols`) — unless it holds no row:
    * an empty delete would still be a snapshot every later read plans
    * an anti-join against. The written file's footer row count
    * decides, with no extra job; an empty file is removed and the
    * current sequence number returned.
    */
  private def publishDeletes(loc: String, content: Int, eqCols: Seq[String],
      rows: DataFrame): Long = {
    val file = writeSidecar(loc, "deletes", rows)
    if (FooterStats.rowCount(hadoopConf, file.toString).contains(0L)) {
      file.getFileSystem(hadoopConf).delete(file.getParent, true)
      iceberg.metadataAt(loc, 0).fold(0L)(_.path("last-sequence-number").asLong(0L))
    } else IcebergWriter.commitDeletes(spark, loc, Seq((file.toString, content, eqCols)))
  }

  /** ONE-SNAPSHOT Iceberg MERGE (upsert) by `key` — the same upsert
    * contract as [[mergeDelta]] and [[upsertHudi]], in Iceberg's
    * native merge-on-read shape
    * ([[graft.listing.IcebergWriter.commitMerge]]): the source
    * batch's data files and an equality delete over its keys publish
    * at the SAME sequence number, so prior matches die and the new
    * rows land atomically (strict sequence scoping keeps the delete
    * off the batch's own files — a reader can never see the delete
    * without the insert). No data rewrite; readers pay the anti-join
    * until compaction folds the deletes in. Returns the new
    * sequence number.
    */
  def mergeIceberg(database: String, table: String, source: DataFrame, key: String): Long =
    commit(database, table, TableType.Iceberg) { (_, loc) =>
      require(source.columns.contains(key), s"merge key $key not in the source batch")
      IcebergWriter.commitMerge(spark, loc, source, Seq(key))
    }

  /** ROLLBACK a registered Iceberg table to an earlier snapshot as a
    * new snapshot ([[graft.listing.IcebergWriter.rollback]]): after
    * this, the latest read equals the time-travel read at
    * `snapshotOffset` (counted BEFORE the rollback); history stays
    * intact and expire reclaims orphans later. Pure metadata.
    * Returns the new sequence number.
    */
  def rollbackIcebergTable(database: String, table: String, snapshotOffset: Int): Long =
    commit(database, table, TableType.Iceberg) { (_, loc) =>
      IcebergWriter.rollback(spark, loc, snapshotOffset)
    }

  /** Iceberg small-file compaction (the OPTIMIZE analog): rewrite
    * the live row set — with any merge-on-read deletes APPLIED — as
    * `ceil(bytes/target)` files in one REWRITE snapshot whose
    * manifest list references only the new manifest. Retired data
    * and delete files stop being referenced (physical reclamation is
    * [[expireIcebergSnapshots]]); earlier snapshots still
    * time-travel. Returns the new sequence number.
    */
  def compactIcebergTable(database: String, table: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Long =
    commit(database, table, TableType.Iceberg) { (meta, loc) =>
      val nFiles = fileCount(files(database, table).map(_.size).sum, targetFileBytes)
      // tableDF subtracts live MOR deletes, so compaction folds them in
      IcebergWriter.commit(spark, loc, tableDF(database, table).repartition(nFiles),
        partitionNames(meta), rewriteAll = true)
    }

  /** Iceberg SNAPSHOT EXPIRY: drop metadata versions older than the
    * last `retainVersions`, then physically delete every file —
    * data parquet, delete parquet, manifest/manifest-list Avro,
    * metadata JSON — referenced by none of the retained versions.
    * The lifecycle mirror of [[vacuumDeltaTable]]/[[cleanHudiTable]]
    * : rewritten-away and MOR-deleted files finally leave disk here,
    * never on the write path. Returns the deleted paths.
    */
  def expireIcebergSnapshots(database: String, table: String,
      retainVersions: Int = 2): Seq[String] = {
    require(retainVersions >= 1, "must retain at least the current version")
    commit(database, table, TableType.Iceberg) { (_, loc) =>
      val root = loc.stripSuffix("/")
      val fs = new HadoopPath(root).getFileSystem(hadoopConf)
      val metaDir = new HadoopPath(s"$root/metadata")
      if (!fs.exists(metaDir)) Nil
      else {
        // every path any retained version can reach — PLUS every path
        // any named ref (staged WAP branch, tag) can reach: the version
        // walk resolves refs.main only, so a staged branch's data files
        // are invisible to it, and deleting them would make a later
        // publishBranch fast-forward main onto snapshots whose parquet
        // is gone (ADVICE r13 high). Ref manifests were always kept
        // (the manifestFiles walk spans every snapshot of a retained
        // version); this closes the data-file half.
        val keepData = ((0 until retainVersions).flatMap { off =>
          val v = iceberg.resolve(root, off)
          (v.files.map(_.path) ++ v.deletes.map(_.path)).map(canonPath)
        } ++ iceberg.refReachableFiles(root).map(canonPath)).toSet
        val keepMeta = (0 until retainVersions)
          .flatMap(off => iceberg.manifestFiles(root, off).map(canonPath)).toSet
        // metadata JSONs beyond the retention horizon
        val expiredJsons = IcebergSnapshotResolver.newestFirst(fs, metaDir)
          .drop(retainVersions).map(_._1)
        val staleAvro = fs.listStatus(metaDir).toSeq
          .filter(_.getPath.getName.endsWith(".avro"))
          .map(_.getPath).filterNot(p => keepMeta.contains(canonPath(p.toString)))
        val doomed = expiredJsons ++ staleAvro ++ unreferencedParquet(root, "metadata", keepData)
        doomed.foreach(p => fs.delete(p, false))
        doomed.map(_.toString)
      }
    }
  }

  // ---------------------------------------------------------------- Hudi

  /** Append a batch to a registered Hudi table as its next completed
    * instant (new file groups — a pure insert). Returns the instant.
    *
    * `evolve = true` permits ADDITIVE schema evolution, mirroring the
    * Delta (g40) and Iceberg (g44) contracts: a batch whose schema
    * extends the table's recorded schema as a strict prefix appends
    * new trailing columns (the commit records the evolved schema in
    * its extraMetadata; older slices read the new columns as nulls
    * via the timeline-schema extension). Non-additive shapes fail
    * loudly; tables without a recorded schema (pre-r12) skip the
    * check for compatibility.
    */
  def appendHudiTable(df: DataFrame, database: String, table: String,
      evolve: Boolean = false): String =
    commit(database, table, TableType.Hudi) { (meta, loc) => hudiAppend(df, meta, loc, evolve) }

  private def hudiAppend(df: DataFrame, meta: CachedTableMetadata, loc: String,
      evolve: Boolean): String = {
    HudiTimelineWriter.dataSchemaAt(spark, loc).foreach { cur =>
      val declared = cur.fields.map(f => (f.name, f.dataType)).toSeq
      val mine = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
      val widened = mine.size > declared.size && mine.take(declared.size) == declared
      if (declared != mine && !(evolve && widened))
        throw new IllegalArgumentException(
          s"append schema mismatch for Hudi table at $loc: table declares " +
            s"${declared.map { case (a, b) => s"$a:${b.simpleString}" }.mkString("[", ", ", "]")}, batch has " +
            s"${mine.map { case (a, b) => s"$a:${b.simpleString}" }.mkString("[", ", ", "]")}" +
            (if (!evolve && widened) " (additive; pass evolve = true to extend the schema)" else ""))
    }
    HudiTimelineWriter.commit(spark, loc, df, partitionNames(meta))
  }

  /** The file groups of `slices`, by partition path — what a
    * replacecommit retires.
    */
  private def fileGroups(slices: Seq[HudiTimelineResolver#HudiDataFile]): Map[String, Seq[String]] =
    slices.groupBy(_.partitionPath).map { case (p, fsz) => p -> fsz.map(_.fileId) }

  /** ROLLBACK a registered Hudi table to an earlier instant as a new
    * replacecommit ([[graft.listing.HudiTimelineWriter.rollback]]):
    * after this, the latest read equals the time-travel read at
    * `versionOffset` (counted BEFORE the rollback); the timeline
    * stays append-only so every prior state still travels, and
    * [[cleanHudiTable]] reclaims orphaned slices later. Pure
    * metadata. Returns the published instant.
    */
  def rollbackHudiTable(database: String, table: String, versionOffset: Int): String =
    commit(database, table, TableType.Hudi) { (_, loc) =>
      HudiTimelineWriter.rollback(spark, loc, versionOffset)
    }

  /** RENAME a Hudi column — metadata-only, zero slices rewritten
    * ([[graft.listing.HudiTimelineWriter.renameColumn]]): the
    * timeline schema renames the field, its physical-name annotation
    * keeps binding to what the slices hold, appends arrive logical
    * and land physical. Partition columns are rejected (their names
    * are baked into the Hive-style layout). Returns the published
    * instant.
    */
  def renameHudiColumn(database: String, table: String,
      oldName: String, newName: String): String =
    commit(database, table, TableType.Hudi) { (meta, loc) =>
      require(!partitionNames(meta).exists(_.equalsIgnoreCase(oldName)),
        s"cannot rename $oldName: it is a partition column of $database.$table")
      HudiTimelineWriter.renameColumn(spark, loc, oldName, newName)
    }

  /** DROP a Hudi column — metadata-only, zero slices rewritten
    * ([[graft.listing.HudiTimelineWriter.dropColumn]]): readers stop
    * projecting it, history still travels, and a later re-add binds
    * to a FRESH physical column so pre-drop bytes never resurrect.
    * Returns the published instant.
    */
  def dropHudiColumn(database: String, table: String, name: String): String =
    commit(database, table, TableType.Hudi) { (meta, loc) =>
      require(!partitionNames(meta).exists(_.equalsIgnoreCase(name)),
        s"cannot drop $name: it is a partition column of $database.$table")
      HudiTimelineWriter.dropColumn(spark, loc, name)
    }

  /** COPY-ON-WRITE upsert by `key`: file groups whose FOOTER key
    * range intersects the source span are retired via a
    * replacecommit and rewritten (existing rows minus updated keys,
    * plus the source batch) in the same instant; every other group
    * keeps its physical file untouched. This is the same
    * stats-surgical shape as [[mergeDelta]] — Hudi commit stats
    * carry no column bounds, so the prover reads the parquet footers
    * of the live slices (driver-side KB GETs, the price real Hudi
    * pays to its bloom index). Pure inserts (no intersecting group,
    * or no non-NULL source key) append as a new file group without
    * retiring anything.
    */
  def upsertHudi(database: String, table: String, source: DataFrame, key: String): String =
    commit(database, table, TableType.Hudi) { (meta, loc) =>
      require(source.columns.contains(key), s"upsert key $key not in the source batch")
      val span = source.agg(min(col(key)), max(col(key))).head()
      val live = hudi.dataFilesDetailed(loc)
      if (span.isNullAt(0) || live.isEmpty) hudiAppend(source, meta, loc, evolve = false)
      else {
        val affected = mayMatch(tableDF(database, table),
          col(key).between(lit(span.get(0)), lit(span.get(1))), live)(f =>
          FooterStats.read(hadoopConf, f.path))
        if (affected.isEmpty) HudiTimelineWriter.commit(spark, loc, source, partitionNames(meta))
        else {
          val kept = readTable(database, table, 0,
            keep = Some(affected.map(_.path).toSet), proxied = false)
            .join(source.select(col(key)).distinct(), Seq(key), "left_anti")
            .unionByName(source)
          HudiTimelineWriter.commit(spark, loc, kept, partitionNames(meta),
            replaceFileIds = fileGroups(affected))
        }
      }
    }

  /** Row-level DELETE WHERE for a Hudi table — the copy-on-write
    * replacecommit shape of [[upsertHudi]] minus the insert: file
    * groups whose parquet footers PROVE no row can match keep their
    * physical file untouched; matching groups are rewritten to their
    * surviving rows (`WHERE p` deletes rows where p is TRUE; false
    * and NULL rows stay, per SQL DELETE semantics) and retired via
    * the same replacecommit. Completes the row-level-delete row of
    * the format matrix (Delta CoW g48-style, Iceberg MOR, now Hudi
    * CoW). Returns the committed instant, or "" when every group is
    * provably unaffected (no commit at all).
    */
  def deleteHudiWhere(database: String, table: String, predicate: Column): String =
    commit(database, table, TableType.Hudi) { (meta, loc) =>
      val live = hudi.dataFilesDetailed(loc)
      val affected =
        if (live.isEmpty) Nil
        else mayMatch(tableDF(database, table), predicate, live)(f =>
          FooterStats.read(hadoopConf, f.path))
      if (affected.isEmpty) ""
      else {
        val kept = readTable(database, table, 0,
          keep = Some(affected.map(_.path).toSet), proxied = false)
          .filter(!coalesce(predicate, lit(false)))
        HudiTimelineWriter.commit(spark, loc, kept, partitionNames(meta),
          replaceFileIds = fileGroups(affected))
      }
    }

  /** Hudi small-file compaction (the OPTIMIZE analog — Hudi calls it
    * clustering): rewrite the whole live set as `ceil(bytes/target)`
    * file groups in ONE replacecommit retiring every current group.
    * Earlier instants still time-travel to the old layout; nothing
    * is physically deleted ([[cleanHudiTable]] is the deletion
    * half). Returns the instant.
    */
  def compactHudiTable(database: String, table: String,
      targetFileBytes: Long = 128L * 1024 * 1024): String =
    commit(database, table, TableType.Hudi) { (meta, loc) =>
      val live = hudi.dataFilesDetailed(loc)
      val nFiles = fileCount(live.map(_.size).sum, targetFileBytes)
      HudiTimelineWriter.commit(spark, loc, tableDF(database, table).repartition(nFiles),
        partitionNames(meta), replaceFileIds = fileGroups(live))
    }

  /** Hudi CLEANING: physically delete file slices referenced by none
    * of the last `retainInstants` timeline states (stale upsert
    * versions, groups retired by replacecommits) — the VACUUM
    * analog, same retention contract as [[vacuumDeltaTable]].
    * Returns the deleted paths.
    */
  def cleanHudiTable(database: String, table: String, retainInstants: Int = 2): Seq[String] = {
    require(retainInstants >= 1, "must retain at least the current instant")
    commit(database, table, TableType.Hudi) { (_, loc) =>
      val root = loc.stripSuffix("/")
      val referenced = (0 until retainInstants)
        .flatMap(off => hudi.dataFilesDetailed(root, off).map(f => canonPath(f.path))).toSet
      val doomed = unreferencedParquet(root, ".hoodie", referenced)
      val fs = new HadoopPath(root).getFileSystem(hadoopConf)
      doomed.foreach(p => fs.delete(p, false))
      doomed.map(_.toString)
    }
  }

  // ---------------------------------------------------------------- layout

  /** Small-file compaction — the maintenance operation every
    * long-running ingest pipeline needs (streaming/incremental
    * writers leave thousands of KB-scale files per partition; at
    * 100 TB that means listing storms and task-per-tiny-file
    * overhead). Rewrites `database.table` as `outTable` at
    * `outLocation` with file count sized from the REAL listed bytes
    * (the size metadata the listing already carries — no extra
    * stat pass): `ceil(totalBytes / targetFileBytes)` output files,
    * hash-distributed by the partition keys so each Hive partition
    * dir collapses to a bounded file set while the write stays one
    * shuffle. The reference is read-only; this is the write-side
    * counterpart of its "list once, plan many" philosophy.
    *
    * `clusterBy`: range-partition and sort the rewrite by these
    * columns instead of hash-distributing — each output file then
    * covers a narrow value range, which is what makes planner-time
    * FILE skipping (footer min/max stats, [[graft.listing
    * .FooterStats]]) selective on later reads. Compact-then-cluster
    * is the standard layout-maintenance pair (the 1-D case of Delta
    * `OPTIMIZE ... ZORDER BY`).
    */
  def compactTable(database: String, table: String, outTable: String,
      outLocation: String, targetFileBytes: Long = 128L * 1024 * 1024,
      clusterBy: Seq[String] = Nil): GlueTable = {
    val nFiles = fileCount(files(database, table).map(_.size).sum, targetFileBytes)
    val keys = partitionNames(tableMetadata(database, table))
    val df = tableDF(database, table)
    val repart =
      if (clusterBy.nonEmpty)
        df.repartitionByRange(nFiles, clusterBy.map(col): _*)
          .sortWithinPartitions(clusterBy.map(col): _*)
      else if (keys.nonEmpty) df.repartition(nFiles, keys.map(col): _*)
      else df.repartition(nFiles)
    writeTable(repart, database, outTable, outLocation, partitionBy = keys)
  }

  /** Compact with a Z-ORDER layout ([[zOrdered]]): the footer-stats
    * skipping tier then prunes files for predicates on ANY of the
    * `zorderBy` columns — `compactTable(clusterBy = ...)` serves only
    * its leading column.
    */
  def compactTableZOrder(database: String, table: String, outTable: String,
      outLocation: String, zorderBy: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024, bits: Int = 16): GlueTable = {
    require(zorderBy.size >= 2, "z-order needs at least two columns")
    val nFiles = fileCount(files(database, table).map(_.size).sum, targetFileBytes)
    val keys = partitionNames(tableMetadata(database, table))
    writeTable(zOrdered(tableDF(database, table), s"$database.$table", zorderBy, nFiles, bits),
      database, outTable, outLocation, partitionBy = keys)
  }
}
