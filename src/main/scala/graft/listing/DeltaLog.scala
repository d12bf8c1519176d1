package graft.listing

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** One live data file of a Delta table version. `rowCount` is the
  * add-action's `stats.numRecords` when present — the log already
  * knows how many rows each file holds, so consumers (metadata
  * COUNT(*)) never need a footer read.
  */
final case class DeltaDataFile(path: String, size: Long,
    partition: Map[String, String], bounds: Map[String, ColRange],
    rowCount: Option[Long])

/** Delta transaction-log WRITER — the engine's transactional write
  * path, readable back by [[DeltaLogResolver]] (round-trip
  * spec-proven) and by any Delta reader that follows the protocol —
  * EXCEPT tables carrying deletion vectors, whose sidecar format is
  * engine-private: every commit that leaves DVs live publishes
  * protocol (minReaderVersion 3, reader feature [[DvFeatureName]]) so
  * such readers refuse the table loudly instead of resurrecting
  * deleted rows (Delta table-features rule).
  * Each [[commit]] writes the batch's data files under a
  * per-version subdirectory, derives per-file statistics from the
  * parquet FOOTERS just written (numRecords + min/max + null
  * evidence — zero extra data scans), and publishes the version by
  * an atomic rename of the commit JSON into `_delta_log/` — readers
  * never observe a half-written commit, and data files without a
  * published commit are invisible garbage, the standard lakehouse
  * crash contract.
  *
  * Every log write is one commit step: one listing of the log
  * ([[DeltaLogResolver.listLog]]) names the next version, one
  * renderer per action writes its lines ([[metaDataLine]],
  * [[addLine]], [[protocolLine]]), and one [[publish]] renames them
  * into place and keeps [[stateCache]] in step.
  */
object DeltaLogWriter {
  /** Reader/writer table-feature name published by the first DV
    * commit. Deliberately NOT the spec's `deletionVectors`: the
    * sidecar format is engine-private, and an unknown feature makes
    * protocol-following readers fail loudly instead of mis-parsing.
    */
  private[graft] val DvFeatureName = "graft.parquetDeletionVectors"

  private val json = new ObjectMapper()
  private def jstr(s: String): String = json.writeValueAsString(s)

  /** Percent-encode a path for persistence in a log action or
    * checkpoint row. The Delta protocol stores add/remove paths as
    * RFC 2396 URI-encoded strings and the resolver DECODES them
    * ([[DeltaLogResolver]] resolvePath) — writing the literal disk
    * path instead only works while the decode happens to be the
    * identity: a partition directory holding a literal `%` (Spark's
    * writer escapes a `%` in a partition VALUE to `%25` on disk)
    * decodes to a path that does not exist and every read of the
    * partition fails (found by the ADVICE r15 '50%25' case; a SPACE
    * survived only because an unencoded space makes the decode throw
    * and fall back). Scheme-qualified URIs pass through verbatim —
    * the resolver keeps those undecoded. Per '/'-segment form
    * encoding with `+` mapped back to `%20` (URLEncoder is
    * form-encoding; a literal `+` becomes `%2B` first, so the
    * mapping only ever hits encoded spaces).
    *
    * ANY scheme-qualified form passes through verbatim — including
    * the single-slash `file:/...` Hadoop `Path.toString` emits
    * (no "://" in it): encoding its `file:` segment would turn an
    * absolute URI into something the resolver root-prefixes into a
    * nonexistent path. Only scheme-less paths (relative adds and
    * bare absolute paths — everything this writer produces for data
    * files) are encoded.
    */
  private val SchemePrefixRe = "^[A-Za-z][A-Za-z0-9+.-]*:/".r
  private def encLogPath(p: String): String =
    if (SchemePrefixRe.findFirstIn(p).isDefined) p
    else p.split("/", -1).map(seg =>
      java.net.URLEncoder.encode(seg, "UTF-8").replace("+", "%20")).mkString("/")

  /** JSON string of an encoded log path — every persisted add/remove/
    * DV path goes through this, so reader decode composes to the
    * identity on the on-disk literal.
    */
  private def jpath(p: String): String = jstr(encLogPath(p))

  /** Schema-metadata key carrying a field's PHYSICAL parquet column
    * name — Delta's own column-mapping (name mode) annotation, which
    * is how a rename becomes a metadata-only operation: files keep
    * their original column names forever, the logical name lives in
    * the schemaString.
    */
  private[graft] val PhysNameKey = "delta.columnMapping.physicalName"

  /** The parquet column name `f` binds to: its annotation, else its
    * own name.
    */
  private[graft] def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysNameKey)) f.metadata.getString(PhysNameKey) else f.name

  /** logical -> physical names for the fields whose physical name
    * differs (empty for unmapped tables — the common fast path).
    */
  private[graft] def mappingOf(schema: StructType): Map[String, String] =
    schema.fields.collect { case f if physicalName(f) != f.name => f.name -> physicalName(f) }.toMap

  /** True when the schema carries column-mapping annotations (name
    * mode on) — even if every physical currently equals its logical
    * name, appends must then keep assigning FRESH physical names to
    * added columns (see [[dropColumn]]'s resurrection hazard).
    */
  private[graft] def isMapped(schema: StructType): Boolean =
    schema.fields.exists(_.metadata.contains(PhysNameKey))

  /** The one `metaData` action. The id derives from the table root,
    * so every re-declaration names the same table; a schema carrying
    * physical-name annotations also carries
    * `delta.columnMapping.mode=name`, which a protocol-following
    * reader needs to bind through them — on every re-declaration (an
    * additive append, a restore, a clone and a checkpoint included).
    */
  private def metaDataLine(root: String, schemaString: String,
      partitionColumns: Seq[String]): String = {
    val mode =
      if (DeltaLogResolver.parseSchema(schemaString).exists(isMapped))
        ""","configuration":{"delta.columnMapping.mode":"name"}"""
      else ""
    s"""{"metaData":{"id":${jstr(java.util.UUID.nameUUIDFromBytes(root.getBytes("UTF-8")).toString)},""" +
      s""""format":{"provider":"parquet"},"schemaString":${jstr(schemaString)},""" +
      s""""partitionColumns":[${partitionColumns.map(jstr).mkString(", ")}]$mode}}"""
  }

  /** The one `add` action: path (encoded as the protocol stores it),
    * size, partition values, the stats JSON verbatim and the
    * deletion-vector sidecar, if any.
    */
  private def addLine(a: DeltaAdd): String = {
    val pv = a.partitionValues.map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ", ", "}")
    s"""{"add":{"path":${jpath(a.path)},"size":${a.size},"partitionValues":$pv,"dataChange":true""" +
      a.stats.map(s => s""","stats":${jstr(s)}""").getOrElse("") +
      a.dv.map(d => s""","deletionVector":{"storagePath":${jpath(d)}}""").getOrElse("") + "}}"
  }

  private def removeLine(path: String, dataChange: Boolean): String =
    s"""{"remove":{"path":${jpath(path)},"dataChange":$dataChange}}"""

  private def txnLine(appId: String, version: Long): String =
    s"""{"txn":{"appId":${jstr(appId)},"version":$version}}"""

  /** The one protocol rule, decided from the state a commit leaves.
    * Live deletion vectors need reader 3 / writer 7 with the
    * engine-private [[DvFeatureName]] feature (plus `columnMapping`
    * on a mapped schema): the descriptor here is engine-shaped
    * (storagePath -> parquet positions sidecar), NOT the spec's
    * roaring-bitmap DV, so a protocol-following reader must REFUSE
    * the table rather than silently resurrect deleted rows, which
    * Delta's table-features rule does for an unknown reader feature.
    * (Claiming the standard `deletionVectors` feature would be worse:
    * DV-capable readers would then mis-parse the sidecar.) A mapped
    * schema alone needs 2 / 5; anything else is the legacy 1 / 2.
    * Protocol actions replace prior ones on replay, so every commit
    * that re-declares state from a replay (schema, DV, restore, clone
    * and checkpoint) publishes this rule's line, and none downgrades
    * the gate while DV-bearing adds are live.
    */
  private def protocolLine(dvsLive: Boolean, mapped: Boolean): String =
    if (dvsLive) {
      val feats = (DvFeatureName +: (if (mapped) Seq("columnMapping") else Nil))
        .map(jstr).mkString("[", ",", "]")
      s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        s""""readerFeatures":$feats,"writerFeatures":$feats}}"""
    } else if (mapped) """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""
    else """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""

  /** Prior table state per root: (version it reflects, data schema,
    * partition columns). A streaming sink commits every micro-batch;
    * without this, each commit replays the full log (checkpoint
    * parquet read + commit tail) just to re-learn an unchanged
    * schema. The cache is only TRUSTED when its version is exactly
    * `version - 1` of the commit in flight — any interleaved writer
    * (same process or external) advances the freshly-listed version
    * past the cached one and forces a real replay, so staleness
    * cannot corrupt a commit. Only [[publish]] writes it.
    */
  private val stateCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Option[StructType], Seq[String])]()

  /** The one publish of every Delta log write: `lines` become
    * `version` of the listed log through [[Publish]]'s rename-CAS,
    * `onBeforePublish` running just before the rename (the seam a
    * race spec interleaves a second writer through). [[stateCache]]
    * advances to `after` — the data schema and partition columns
    * the table holds once this commit is in — when the publish
    * landed and the caller knows that state, and is dropped
    * otherwise. A lost race raises the one lost-race error unless
    * the caller `retry`s; true iff the commit landed.
    */
  private def publish(log: DeltaLogListing, version: Long, lines: Seq[String],
      after: Option[(Option[StructType], Seq[String])],
      onBeforePublish: () => Unit = () => (), retry: Boolean = false): Boolean = {
    val landed = Publish(log.fs, log.commitPath(version), lines.mkString("", "\n", "\n"),
      onBeforePublish)
    after.filter(_ => landed) match {
      case Some((schema, pc)) => stateCache.put(log.root, (version, schema, pc))
      case None               => stateCache.remove(log.root)
    }
    if (!landed && !retry) lostRace(log, version, "re-resolve and retry")
    landed
  }

  private def lostRace(log: DeltaLogListing, version: Long, why: String): Nothing =
    throw new IllegalStateException(
      s"commit $version already published at ${log.commitPath(version)} — $why")

  /** DROP a column as a METADATA-ONLY commit — the column-mapping
    * twin of [[renameColumn]]: the field leaves the schemaString,
    * zero data files are rewritten (files keep the bytes; readers
    * never project them), and the remaining fields get physicalName
    * annotations (mode on). The annotation matters for the
    * RESURRECTION hazard: if `x` is later re-added, the new logical
    * `x` must bind to a FRESH physical name, or every pre-drop file
    * would leak its old `x` values into the reborn column — [[commit]]
    * assigns `<name>_c<version>` physicals to columns added to mapped
    * tables for exactly this reason. Returns the new version.
    */
  def dropColumn(spark: SparkSession, location: String, name: String): Long =
    commitSchema(spark, location, "drop a column") { (schema, partitionColumns) =>
      require(schema.fieldNames.contains(name), s"$name is not a column of $location")
      require(!partitionColumns.contains(name), s"dropping partition column $name is not supported")
      require(schema.fields.length > 1, s"cannot drop the only column of $location")
      schema.fields.filterNot(_.name == name)
    }

  /** RENAME a column as a METADATA-ONLY commit — Delta column mapping
    * (name mode): the new schemaString annotates EVERY field with its
    * physical parquet name (the renamed field keeps its old one), so
    * zero data files are rewritten however large the table, and both
    * this engine and any column-mapping-capable Delta reader resolve
    * columns through the annotation. The commit also publishes the
    * protocol gate the feature requires (minReaderVersion 2 /
    * minWriterVersion 5, or the `columnMapping` feature beside a live
    * DV gate, + delta.columnMapping.mode=name), so a pre-mapping
    * reader refuses the table instead of reading the renamed column
    * as missing. Partition columns are refused (their names are baked
    * into every file path). Returns the new version.
    */
  def renameColumn(spark: SparkSession, location: String,
      oldName: String, newName: String): Long =
    commitSchema(spark, location, "rename") { (schema, partitionColumns) =>
      require(schema.fieldNames.contains(oldName), s"$oldName is not a column of $location")
      require(!schema.fieldNames.contains(newName), s"$newName already exists at $location")
      require(!partitionColumns.contains(oldName),
        s"renaming partition column $oldName is not supported (its name is in every file path)")
      schema.fields.map(f => if (f.name == oldName) f.copy(name = newName) else f)
    }

  /** The one schema commit: `evolve` maps the current fields — each
    * already annotated with its physical name, so name mode is on
    * from here — and the table's partition columns to the new fields,
    * published as a metadata-only commit with the protocol the new
    * state needs.
    */
  private def commitSchema(spark: SparkSession, location: String, what: String)(
      evolve: (StructType, Seq[String]) => Seq[StructField]): Long = {
    val resolver = new DeltaLogResolver(spark)
    val log = resolver.listLog(location)
    val st = resolver.stateAt(log, 0).getOrElse(throw new IllegalStateException(
      s"cannot $what at $location: no Delta log"))
    val schema = st.schema.getOrElse(
      throw new IllegalStateException(s"no parseable schema at ${log.root}"))
    val annotated = StructType(schema.fields.map(f => f.copy(metadata = new MetadataBuilder()
      .withMetadata(f.metadata).putString(PhysNameKey, physicalName(f)).build())))
    val next = StructType(evolve(annotated, st.partitionColumns))
    val version = st.version + 1
    publish(log, version,
      Seq(protocolLine(st.dvsLive, mapped = true),
        metaDataLine(log.root, next.json, st.partitionColumns)),
      Some((Some(DeltaLogResolver.dataSchema(next, st.partitionColumns)), st.partitionColumns)))
    version
  }

  /** Write `df` as the next commit of the Delta table at `location`
    * (version 0 creates the table and records `metaData`). Returns
    * the committed version.
    */
  def commit(spark: SparkSession, location: String, df: org.apache.spark.sql.DataFrame,
      partitionBy: Seq[String] = Nil): Long =
    commitWith(spark, location, df, partitionBy, removePaths = Nil)

  /** [[commit]] that additionally RETIRES files — the rewrite shape
    * (OPTIMIZE/compaction, delete-where): one commit carries remove
    * actions for every retired file plus the adds of its replacement
    * data, so readers atomically flip from the old layout to the new
    * and earlier versions still time-travel to the old slices.
    */
  def commitWith(spark: SparkSession, location: String, df: org.apache.spark.sql.DataFrame,
      partitionBy: Seq[String], removePaths: Seq[String],
      onBeforePublish: () => Unit = () => ()): Long =
    commitData(spark, location, df, partitionBy, removePaths, txn = None, onBeforePublish).get

  /** Append `df` IFF its `(appId, batchId)` mark is not in the log yet
    * — the Delta streaming-sink idempotence protocol, and the twin of
    * [[IcebergWriter.commitTxn]] and [[HudiTimelineWriter.commitTxn]].
    * The commit records the mark as a `txn` action. The mark is
    * checked against the head state this commit's publish validates:
    * the commit's version is that state's successor, so the
    * rename-CAS fails if anyone published after it. After a lost
    * rename the head is re-read: a mark there means a racing writer
    * committed this batch, so this call deletes its unpublished data
    * directory and returns None; otherwise a blind append retries at
    * the next free version. Returns the committed version, or None
    * for a recognized replay.
    */
  def commitTxn(spark: SparkSession, location: String, df: org.apache.spark.sql.DataFrame,
      appId: String, batchId: Long, partitionBy: Seq[String] = Nil,
      onBeforePublish: () => Unit = () => ()): Option[Long] =
    commitData(spark, location, df, partitionBy, Nil, Some((appId, batchId)), onBeforePublish)

  private def commitData(spark: SparkSession, location: String,
      df: org.apache.spark.sql.DataFrame, partitionBy: Seq[String], removePaths: Seq[String],
      txn: Option[(String, Long)], onBeforePublish: () => Unit): Option[Long] = {
    val resolver = new DeltaLogResolver(spark)
    // a cleaned log may hold ONLY a checkpoint — the version sequence
    // continues from it, never restarts
    val log = resolver.listLog(location)
    val root = log.root
    val version = log.next
    // the head state this commit's publish validates, replayed only
    // for a txn mark check or a state-cache miss
    lazy val head = resolver.stateAt(log, 0)
    def marked(st: => Option[RawDeltaState]): Boolean = txn.exists { case (appId, batchId) =>
      st.flatMap(_.txns.get(appId)).exists(_ >= batchId)
    }
    if (marked(head)) return None

    // prior state (data schema + partition columns) through
    // version-1 — ONE cached or replayed resolve, BEFORE the data
    // write, because the table's own partitioning governs the
    // layout of every later append: a streaming micro-batch passing
    // partitionBy=Nil must still write hive-partitioned files and
    // must never rewrite metaData with partitionColumns:[]
    val prior: Option[(Option[StructType], Seq[String])] =
      if (version == 0L) None
      else Option(stateCache.get(root)).collect {
        case (v, s, pc) if v == version - 1 => (s, pc)
      }.orElse(head.map(st => (st.dataSchema, st.partitionColumns)))
    val effPartitionBy: Seq[String] = prior match {
      case Some((_, pc)) =>
        require(partitionBy.isEmpty || partitionBy == pc,
          s"partitionBy [${partitionBy.mkString(",")}] disagrees with the Delta " +
            s"table's partitioning [${pc.mkString(",")}] at $root")
        pc
      case None => partitionBy
    }

    // the data subdirectory is named by version PLUS a random token:
    // two writers racing the same version must never share (and
    // overwrite) each other's data directory — only the committed
    // JSON decides which files become part of the table
    val sub = s"v${version}_${java.util.UUID.randomUUID().toString.take(8)}"
    val out = s"$root/$sub"
    // COLUMN MAPPING: a mapped table's files bind by PHYSICAL names,
    // which never change after a rename — the batch arrives with
    // LOGICAL names, so rename before writing (and derive the stats
    // from the physical shape the footers actually carry)
    val priorSchema = prior.flatMap(_._1)
    val mapping: Map[String, String] =
      priorSchema.map(mappingOf).getOrElse(Map.empty)
    // Columns NEW to a MAPPED table get a FRESH physical name
    // (<name>_c<version>): a column dropped and later re-added must
    // never bind to the old bytes still sitting in pre-drop files —
    // with a fresh physical, those files read the reborn column as
    // null, exactly Delta's own drop/re-add semantics.
    val addedPhys: Map[String, String] = priorSchema match {
      case Some(cur) if isMapped(cur) =>
        val curNames = cur.fieldNames.toSet
        df.schema.fieldNames.filterNot(curNames.contains)
          .filterNot(effPartitionBy.contains)
          .map(n => n -> s"${n}_c$version").toMap
      case _ => Map.empty
    }
    val physDf = (mapping ++ addedPhys).foldLeft(df) {
      case (d, (l, ph)) => d.withColumnRenamed(l, ph) }
    val writer = physDf.write.mode("overwrite")
    (if (effPartitionBy.nonEmpty) writer.partitionBy(effPartitionBy: _*) else writer).parquet(out)

    // per-file add actions, stats from the footers just written
    // (PHYSICAL column names — what the files carry and what the
    // read path's skipping tier keys on)
    val conf = org.apache.spark.sql.graft.Shim.classic(spark).sparkContext.hadoopConfiguration
    val fs = log.fs
    val dataSchema = StructType(physDf.schema.filterNot(f => effPartitionBy.contains(f.name)))
    val dataSchemaLogical = StructType(df.schema.filterNot(f => effPartitionBy.contains(f.name)))
    def walk(p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st)
        else Nil
      }
    val adds = walk(new Path(out)).sortBy(_.getPath.toString).map { st =>
      val p = st.getPath
      val rel = p.toUri.getPath.stripPrefix(new Path(root).toUri.getPath).stripPrefix("/")
      val pv = rel.split('/').dropRight(1).collect {
        case seg if seg.contains('=') =>
          val Array(k, v) = seg.split("=", 2)
          k -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
      addLine(DeltaAdd(rel, st.getLen, pv, statsJson(conf, p.toString, dataSchema)))
    }
    // v0 declares the schema; a later commit whose batch ADDS columns
    // re-declares the MERGED schema so readers pick up the additions
    // (old files read back with nulls in them — additive evolution).
    // A batch missing columns is a legal subset append (no metaData).
    // A type change would silently corrupt reads of existing files,
    // so it fails loudly instead.
    def metaJson(schema: StructType): String = metaDataLine(root, schema.json, effPartitionBy)
    // schema the table holds AFTER this commit (for the state cache)
    val (metaLine, committedSchema) =
      if (version == 0L) (Seq(metaJson(dataSchemaLogical)), dataSchemaLogical)
      else priorSchema match {
        case Some(cur) =>
          val curByName = cur.fields.map(f => f.name -> f.dataType).toMap
          val retyped = dataSchemaLogical.fields.filter(f =>
            curByName.get(f.name).exists(_ != f.dataType))
          if (retyped.nonEmpty)
            throw new IllegalArgumentException(
              s"non-additive schema change for Delta table at $root: retyped columns " +
                retyped.map(f => s"${f.name} ${curByName(f.name).simpleString}->${f.dataType.simpleString}")
                  .mkString(", "))
          val added0 = dataSchemaLogical.fields.filterNot(f => curByName.contains(f.name))
          // mapped tables: the merged schema records each added
          // column's fresh physical name so readers bind correctly
          val added = added0.map { f =>
            addedPhys.get(f.name).fold(f)(ph => StructField(f.name, f.dataType, f.nullable,
              new MetadataBuilder().withMetadata(f.metadata).putString(PhysNameKey, ph).build()))
          }
          if (added.nonEmpty) {
            val merged = StructType(cur.fields ++ added)
            (Seq(metaJson(merged)), merged)
          } else (Nil, cur)
        case None => (Seq(metaJson(dataSchemaLogical)), dataSchemaLogical)
      }
    val rootPath = new Path(root).toUri.getPath
    val removes = removePaths.map { p =>
      // record table-root-relative paths when possible (the form adds
      // use); the resolver resolves either form
      val uriPath = new Path(p).toUri.getPath
      removeLine(if (uriPath.startsWith(rootPath))
        uriPath.stripPrefix(rootPath).stripPrefix("/") else p, dataChange = false)
    }
    // streaming exactly-once: a txn action records (appId, version) so
    // a replayed micro-batch can be recognized and skipped
    val lines = metaLine ++ txn.map { case (appId, v) => txnLine(appId, v) } ++ removes ++ adds

    // A lost rename race (another writer took this version) is
    // RETRYABLE for blind appends — the adds reference only files
    // this writer just created, so re-publishing the same actions at
    // the next version is exactly optimistic concurrency control.
    // Commits that REMOVE files or re-declare metaData must NOT retry
    // blindly: the winning commit may have invalidated their read-set
    // — those surface the conflict to the caller. A txn commit first
    // re-reads the head for its mark.
    val retryable = removePaths.isEmpty && metaLine.isEmpty
    var (cur, v, attempt) = (log, version, 0)
    while (!publish(cur, v, lines, Option.when(v == version)((Some(committedSchema), effPartitionBy)),
        onBeforePublish, retry = true)) {
      cur = resolver.listLog(location)
      // a racing writer committed this batch, or the conflict
      // surfaces: either way this call's data was never published, so
      // no reader can see it
      val replayed = marked(resolver.stateAt(cur, 0))
      if (replayed || !retryable || attempt >= 4) {
        fs.delete(new Path(out), true)
        if (replayed) return None
        lostRace(cur, v, if (retryable) "gave up after 5 attempts" else
          "re-resolve and reapply (commits that remove files or re-declare metadata " +
            "are not blindly retryable)")
      }
      // the winner may have advanced the log by more than one version
      v = math.max(v + 1, cur.next)
      attempt += 1
    }
    Some(v)
  }

  /** Parquet schema of a checkpoint: one row per action, protocol,
    * metaData, txn and add as their commit JSON lines carry them.
    */
  private val CheckpointSchema = StructType.fromDDL(
    "`protocol` STRUCT<minReaderVersion: INT, minWriterVersion: INT, " +
      "readerFeatures: ARRAY<STRING>, writerFeatures: ARRAY<STRING>>, " +
    "`metaData` STRUCT<id: STRING, `format`: STRUCT<provider: STRING>, schemaString: STRING, " +
      "partitionColumns: ARRAY<STRING>, configuration: MAP<STRING, STRING>>, " +
    "`txn` STRUCT<appId: STRING, version: BIGINT>, " +
    "`add` STRUCT<path: STRING, size: BIGINT, partitionValues: MAP<STRING, STRING>, " +
      "dataChange: BOOLEAN, stats: STRING, deletionVector: STRUCT<storagePath: STRING>>")

  /** Write a CHECKPOINT of the table's current state: one parquet
    * file `_delta_log/<v>.checkpoint.parquet` holding the fully
    * replayed state (protocol + metaData + live adds + txn
    * high-water marks) plus the `_last_checkpoint` pointer. After
    * this, resolving any version >= v costs one parquet read plus
    * the commit tail — never a full JSON replay — and the JSON
    * prefix at/below v becomes garbage ([[cleanupLog]]). This is the
    * scale hinge for long-lived tables: a streaming sink committing
    * every 30 s writes ~2,900 commits/day, and without checkpoints
    * every reader replays all of them.
    *
    * The rows are the state's own action lines, rendered by the same
    * renderers as the commits and read back through
    * [[CheckpointSchema]]. They are driver-side metadata (same as the
    * replay itself); a table whose live-file count outgrows driver
    * memory would shard this into the protocol's multi-part
    * `<v>.checkpoint.<i>.<n>.parquet` form, which the reader side
    * here already consumes. Returns the checkpointed version.
    */
  def checkpoint(spark: SparkSession, location: String): Long = {
    val resolver = new DeltaLogResolver(spark)
    checkpointOf(spark, resolver, resolver.listLog(location))
  }

  private def checkpointOf(spark: SparkSession, resolver: DeltaLogResolver,
      log: DeltaLogListing): Long = {
    val st = resolver.stateAt(log, 0).getOrElse(
      throw new IllegalStateException(s"cannot checkpoint ${log.root}: no Delta log"))
    val rootPath = new Path(log.root).toUri.getPath
    def rel(p: String): String = {
      val u = new Path(p).toUri.getPath
      if (u.startsWith(rootPath)) u.stripPrefix(rootPath).stripPrefix("/") else p
    }
    // A checkpoint REPLACES the json prefix as the replay base, so it
    // carries the protocol of the state it holds — never a downgrade
    // while DV-bearing adds are live, where an external reader
    // replaying from it would skip the table-features refusal
    val lines = protocolLine(st.dvsLive, st.schema.exists(isMapped)) +:
      (st.schemaString.map(metaDataLine(log.root, _, st.partitionColumns)).toSeq ++
        st.txns.toSeq.sortBy(_._1).map { case (appId, v) => txnLine(appId, v) } ++
        st.adds.map(a => addLine(a.copy(path = rel(a.path), dv = a.dv.map(rel)))))

    val fs = log.fs
    val tmpDir = new Path(log.logDir, f".cp_${st.version}%020d_tmp")
    spark.read.schema(CheckpointSchema).option("mode", "FAILFAST")
      .json(spark.createDataset(lines)(Encoders.STRING))
      .coalesce(1).write.mode("overwrite").parquet(tmpDir.toString)
    val part = fs.listStatus(tmpDir).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).getOrElse(
        throw new IllegalStateException(s"checkpoint write produced no parquet under $tmpDir"))
    val dst = new Path(log.logDir, f"${st.version}%020d.checkpoint.parquet")
    fs.delete(dst, false)
    if (!fs.rename(part, dst))
      throw new IllegalStateException(s"cannot publish checkpoint $dst")
    fs.delete(tmpDir, true)

    val lc = new Path(log.logDir, "_last_checkpoint")
    val os = fs.create(lc, true)
    try os.write(s"""{"version":${st.version},"size":${lines.size}}""".getBytes("UTF-8"))
    finally os.close()
    st.version
  }

  /** Log retention: delete the commit JSONs at/below the newest
    * checkpoint (their state is fully captured by it). Returns how
    * many were removed. Readers keep working from the checkpoint
    * plus the surviving tail — spec-proven, including time travel to
    * the checkpoint version itself.
    */
  def cleanupLog(spark: SparkSession, location: String): Int = {
    val log = new DeltaLogResolver(spark).listLog(location)
    val cp = log.checkpoints.keys.maxOption.getOrElse(return 0)
    val stale = log.commits.collect { case (v, p) if v <= cp => p }
    stale.foreach(log.fs.delete(_, false))
    stale.size
  }

  /** RESTORE the table to an earlier version AS A NEW COMMIT (the
    * Delta `RESTORE TABLE ... TO VERSION AS OF` shape): the published
    * commit removes every currently-live file absent from the target
    * version and re-adds every target-version file no longer live —
    * so readers atomically flip back to the old data, the history
    * stays intact (every pre-restore version still time-travels,
    * including the state being rolled back), and nothing is deleted
    * from storage (VACUUM reclaims the orphans later, same as any
    * rewrite). Re-added files carry their ORIGINAL stats JSON from
    * the target state, so file skipping keeps working after the
    * rollback. If the target version's schema differs (the restore
    * crosses a schema evolution), the commit re-declares the target
    * metaData so reads resolve against the restored shape, and the
    * protocol is the target state's.
    *
    * `versionOffset` counts back from the latest version (the g26
    * time-travel convention): offset 1 restores the table to the
    * state just before its last commit.
    *
    * Scale: pure metadata — two log replays (cached/checkpointed) and
    * one commit JSON; no data file is read or written. Publishes
    * WITHOUT retry: a restore is a read-set commit (its removes were
    * computed against the replayed current state), so losing the
    * version race surfaces the conflict rather than clobbering the
    * winner's commit.
    */
  def restore(spark: SparkSession, location: String, versionOffset: Int): Long = {
    require(versionOffset > 0, s"restore needs a positive offset, got $versionOffset")
    val resolver = new DeltaLogResolver(spark)
    val log = resolver.listLog(location)
    val cur = resolver.stateAt(log, 0).getOrElse(
      throw new IllegalStateException(s"cannot restore $location: no Delta log"))
    val tgt = resolver.stateAt(log, versionOffset).getOrElse(
      throw new IllegalArgumentException(
        s"cannot restore $location: no version at offset $versionOffset"))
    require(cur.partitionColumns == tgt.partitionColumns,
      s"restore across a partitioning change is not supported at ${log.root} " +
        s"(${tgt.partitionColumns.mkString(",")} -> ${cur.partitionColumns.mkString(",")})")
    val curByPath = cur.adds.map(a => a.path -> a).toMap
    val tgtPaths = tgt.adds.map(_.path).toSet
    val removes = cur.adds.collect { case a if !tgtPaths(a.path) => removeLine(a.path, dataChange = true) }
    // re-add a file that is (a) absent from the current state, or
    // (b) live but with a DIFFERENT deletion-vector descriptor — a
    // DV added after the target version must roll back too, and the
    // re-add (with the target's descriptor, possibly none) is what
    // restores the pre-DV rows
    val adds = tgt.adds.collect {
      case a if !curByPath.contains(a.path) || curByPath(a.path).dv != a.dv => addLine(a)
    }
    val metaLine =
      if (cur.schemaString == tgt.schemaString) Nil
      else tgt.schemaString.map(metaDataLine(log.root, _, tgt.partitionColumns)).toSeq
    val version = cur.version + 1
    publish(log, version,
      protocolLine(tgt.dvsLive, tgt.schema.exists(isMapped)) +: (metaLine ++ removes ++ adds),
      Some((tgt.dataSchema, tgt.partitionColumns)))
    version
  }

  /** Publish DELETION VECTORS as one commit — Delta's merge-on-read
    * row delete: each (data file → DV sidecar) pair RE-ADDS the file
    * with a `deletionVector` descriptor (size / partitionValues /
    * stats copied verbatim from the live state, so file skipping is
    * untouched), and the rows listed in the sidecar disappear at
    * read time with NO data file rewritten — the opposite trade from
    * the copy-on-write delete, exactly as in Delta's own DV feature.
    * A later rewrite of the file (compaction, CoW delete/update,
    * restore) re-adds it without the descriptor, retiring the DV —
    * the protocol's own lifecycle. The sidecar is a parquet of
    * `(file_path, pos)` rows (this engine's simplified descriptor;
    * real Delta packs a roaring bitmap, same semantics). The commit
    * carries the DV protocol gate ([[protocolLine]], ADVICE r12).
    * Returns the committed version.
    */
  def commitDeletionVectors(spark: SparkSession, location: String,
      dvByFile: Map[String, String]): Long = {
    require(dvByFile.nonEmpty, "commitDeletionVectors needs at least one (file -> DV) pair")
    val resolver = new DeltaLogResolver(spark)
    val log = resolver.listLog(location)
    val cur = resolver.stateAt(log, 0).getOrElse(
      throw new IllegalStateException(
        s"cannot attach deletion vectors at $location: no Delta log"))
    val byPath = cur.adds.map(a => a.path -> a).toMap
    val adds = dvByFile.toSeq.sortBy(_._1).map { case (p, dv) =>
      addLine(byPath.getOrElse(p, throw new IllegalArgumentException(
        s"deletion vector targets $p, which is not a live file of ${log.root}")).copy(dv = Some(dv)))
    }
    val version = cur.version + 1
    publish(log, version, protocolLine(dvsLive = true, cur.schema.exists(isMapped)) +: adds,
      Some((cur.dataSchema, cur.partitionColumns)))
    version
  }

  /** SHALLOW CLONE: publish a NEW Delta table at `target` whose v0
    * commit re-declares the source's schema/partitioning and adds
    * the source's live files BY ABSOLUTE PATH — original sizes,
    * partition values, and stats JSON copied verbatim, ZERO data
    * bytes moved. The dev/test-against-production primitive Delta's
    * own CLONE serves: O(live files) metadata however big the table.
    * The clone evolves independently afterwards (its appends land
    * under its own root; commits to it never touch the source), with
    * the standard shallow-clone caveat carried too: VACUUMing the
    * SOURCE can strand the clone's borrowed files, so retention is
    * coordinated, exactly as in real Delta. Fails loudly if `target`
    * already holds a Delta log. Returns the number of files
    * referenced.
    */
  def shallowClone(spark: SparkSession, source: String, target: String,
      versionOffset: Int = 0): Int = {
    val resolver = new DeltaLogResolver(spark)
    val st = resolver.rawState(source, versionOffset).getOrElse(
      throw new IllegalArgumentException(s"cannot clone $source: no Delta log"))
    val ss = st.schemaString.getOrElse(throw new IllegalStateException(
      s"cannot clone $source: no schema in the log"))
    val log = resolver.listLog(target)
    require(log.latest.isEmpty, s"clone target $target already holds a Delta log")
    val srcRoot = new Path(source.stripSuffix("/")).toUri.getPath
    def abs(p: String) = if (p.contains("://") || p.startsWith("/")) p else s"$srcRoot/$p"
    // the clone borrows the source's deletion vectors by absolute path
    // too — same vacuum-coordination caveat as the data
    val adds = st.adds.sortBy(_.path).map(a => addLine(a.copy(path = abs(a.path), dv = a.dv.map(abs))))
    publish(log, 0L,
      Seq(protocolLine(st.dvsLive, st.schema.exists(isMapped)),
        metaDataLine(log.root, ss, st.partitionColumns)) ++ adds,
      Some((st.dataSchema, st.partitionColumns)))
    adds.size
  }

  /** [[checkpoint]] when the latest version is a multiple of
    * `every` — the standard commit-interval policy a streaming sink
    * calls after each batch. Returns the checkpointed version, if
    * one was written.
    */
  def maybeCheckpoint(spark: SparkSession, location: String, every: Int): Option[Long] = {
    require(every > 0, s"checkpoint interval must be positive: $every")
    val resolver = new DeltaLogResolver(spark)
    val log = resolver.listLog(location)
    log.latest.filter(v => v > 0 && v % every == 0).map(_ => checkpointOf(spark, resolver, log))
  }

  /** Footer-derived stats JSON for one data file: numRecords always;
    * min/max for int/long/float/double/string columns (dates and
    * timestamps are skipped — their catalyst forms don't round-trip
    * through JSON text unambiguously, and absent stats only cost
    * skipping); nullCount 0 recorded when the footer proves it.
    */
  private def statsJson(conf: org.apache.hadoop.conf.Configuration,
      path: String, schema: StructType): Option[String] = {
    val n = FooterStats.rowCount(conf, path).getOrElse(return None)
    val ranges = FooterStats.read(conf, path)
    def render(dt: DataType, v: Any): Option[String] = (dt, v) match {
      case (LongType, l: Long)       => Some(l.toString)
      case (IntegerType, i: Int)     => Some(i.toString)
      case (DoubleType, d: Double)   => Some(d.toString)
      case (FloatType, f: Float)     => Some(f.toString)
      case (StringType, s: UTF8String) => Some(jstr(s.toString))
      case _ => None
    }
    val mins = scala.collection.mutable.ListBuffer.empty[String]
    val maxs = scala.collection.mutable.ListBuffer.empty[String]
    val nulls = scala.collection.mutable.ListBuffer.empty[String]
    schema.fields.foreach { f =>
      ranges.get(f.name).foreach { r =>
        if (!r.allNulls)
          for (mn <- render(f.dataType, r.min); mx <- render(f.dataType, r.max)) {
            mins += s"${jstr(f.name)}: $mn"
            maxs += s"${jstr(f.name)}: $mx"
          }
        if (r.noNulls) nulls += s"${jstr(f.name)}: 0"
        else if (r.allNulls) nulls += s"${jstr(f.name)}: $n"
      }
    }
    Some(s"""{"numRecords": $n, "minValues": {${mins.mkString(", ")}}, """ +
      s""""maxValues": {${maxs.mkString(", ")}}, "nullCount": {${nulls.mkString(", ")}}}""")
  }
}

/** One live add action's replayed facts. `dv` is the deletion-vector
  * sidecar path (merge-on-read row deletes): a parquet of
  * `(file_path, pos)` rows the read path anti-joins against
  * `_metadata` — this engine's simplified descriptor for the
  * protocol's `deletionVector` field (real Delta packs a roaring
  * bitmap; the log semantics — re-add the file with the descriptor,
  * a later re-add without one drops it — are the protocol's own).
  */
private[listing] final case class DeltaAdd(path: String, size: Long,
    partitionValues: Map[String, String], stats: Option[String],
    dv: Option[String] = None)

/** Fully replayed Delta state at one version: the raw protocol-level
  * facts a checkpoint must persist (schema JSON, partition columns,
  * live adds with their original stats strings, txn high-water
  * marks per appId), and what the writer decides from them.
  */
private[listing] final case class RawDeltaState(version: Long,
    schemaString: Option[String], partitionColumns: Seq[String],
    adds: Seq[DeltaAdd],
    txns: Map[String, Long]) {
  /** The declared table schema, partition columns included. */
  lazy val schema: Option[StructType] = schemaString.flatMap(DeltaLogResolver.parseSchema)
  def dataSchema: Option[StructType] = schema.map(DeltaLogResolver.dataSchema(_, partitionColumns))
  def dvsLive: Boolean = adds.exists(_.dv.isDefined)
}

/** One listing of a table's `_delta_log`: the commit JSONs and
  * checkpoint parts by version, the `FileSystem` that holds them, and
  * the log's identity for the replay memo. Every reader and writer
  * step that needs a version starts from one of these.
  */
private[listing] final case class DeltaLogListing(root: String, logDir: Path, fs: FileSystem,
    commits: Seq[(Long, Path)], checkpoints: Map[Long, Seq[Path]], identity: String) {
  /** Latest version, or None for a missing/empty log. A checkpoint
    * with every prefix commit cleaned away still names its version —
    * a checkpoint IS that version's state — so the sequence continues
    * from it, never restarts.
    */
  def latest: Option[Long] = (commits.map(_._1) ++ checkpoints.keys).maxOption
  def next: Long = latest.fold(0L)(_ + 1)
  def commitPath(version: Long): Path = new Path(logDir, f"$version%020d.json")
}

object DeltaLogResolver {
  private val CommitRe = """(\d{20})\.json""".r
  private val CheckpointRe = """(\d{20})\.checkpoint(?:\.\d+\.\d+)?\.parquet""".r

  /** A `schemaString`, or None when it does not parse as a struct. */
  def parseSchema(json: String): Option[StructType] =
    try DataType.fromJson(json) match {
      case s: StructType => Some(s)
      case _             => None
    } catch { case _: Exception => None }

  /** The DATA schema of a table schema: partition columns (part of
    * the table schema per the protocol, but never present in data
    * files) are excluded; they return as partition columns of the scan.
    */
  private[listing] def dataSchema(schema: StructType, partitionColumns: Seq[String]): StructType = {
    val pc = partitionColumns.map(_.toLowerCase).toSet
    StructType(schema.filterNot(f => pc.contains(f.name.toLowerCase)))
  }
}

final class DeltaLogResolver(spark: SparkSession) {
  import DeltaLogResolver._
  private val mapper = new ObjectMapper()
  private def hadoopConf =
    org.apache.spark.sql.graft.Shim.classic(spark).sparkContext.hadoopConfiguration

  /** Latest version, or None for a missing/empty log. */
  def latestVersion(location: String): Option[Long] = listLog(location).latest

  /** Highest `txn` version recorded for `appId` — the reader half of
    * the streaming-sink idempotence protocol
    * ([[DeltaLogWriter.commitTxn]]). Checkpoints persist the per-app
    * high-water marks, so log cleanup never shrinks the sink's
    * replay-detection horizon.
    */
  def lastTxnVersion(location: String, appId: String): Option[Long] =
    rawState(location, 0).flatMap(_.txns.get(appId))

  /** Live data files of the selected version (latest − offset). */
  def dataFilesDetailed(location: String, versionOffset: Int = 0): Seq[DeltaDataFile] =
    versionAt(location, versionOffset)._1

  /** Everything a reader's snapshot of the version holds, from one log
    * listing and one replay: the live data files, the live
    * deletion-vector descriptors (data-file path → DV sidecar path;
    * empty for a DV-free table, the read path's fast path) and the
    * data schema. The schema comes from the log's metaData action —
    * authoritative under schema evolution, where single-file
    * inference would silently drop every column added after that
    * file was written.
    */
  def versionAt(location: String, versionOffset: Int = 0)
      : (Seq[DeltaDataFile], Map[String, String], Option[StructType]) = {
    val st = rawState(location, versionOffset).getOrElse(return (Nil, Map.empty, None))
    // bounds are typed AND keyed by the PHYSICAL schema: add-action
    // stats carry the parquet column names, and the read path's
    // skipping tier evaluates pushed predicates against the physical
    // scan schema (identical to logical for unmapped tables)
    val schema = st.schema.map(sc =>
      StructType(sc.fields.map(f => f.copy(name = DeltaLogWriter.physicalName(f)))))
    val files = st.adds.map { a =>
      DeltaDataFile(a.path, a.size, a.partitionValues,
        a.stats.flatMap(s => schema.map(boundsOf(s, _))).getOrElse(Map.empty),
        a.stats.flatMap(numRecordsOf))
    }.sortBy(_.path)
    val dvs = st.adds.collect { case a if a.dv.isDefined => a.path -> a.dv.get }.toMap
    (files, dvs, st.dataSchema)
  }

  /** `stats.numRecords` of one add action — unparseable/absent is
    * None, never a throw (absence only costs a footer fallback).
    */
  private def numRecordsOf(statsJson: String): Option[Long] =
    try Option(mapper.readTree(statsJson))
      .flatMap(n => Option(n.get("numRecords"))).filter(_.isNumber).map(_.asLong())
    catch { case _: Exception => None }

  /** The replay itself: newest checkpoint at/below the target as the
    * base state, then the commit tail in order. Loud on a gap — a
    * cleaned-away commit that no checkpoint covers means the target
    * version is unreconstructible, and silence there would mean
    * silently dropping data.
    */
  private[listing] def rawState(location: String, versionOffset: Int): Option[RawDeltaState] =
    stateAt(listLog(location), versionOffset)

  /** State of `log` at its latest version minus `versionOffset`. */
  private[listing] def stateAt(log: DeltaLogListing, versionOffset: Int): Option[RawDeltaState] = {
    require(versionOffset >= 0, s"versionOffset must be >= 0: $versionOffset")
    val target = log.latest.getOrElse(return None) - versionOffset
    if (target < 0) return None
    // MEMOIZE the replay per (root, log identity, resolved version):
    // a cold listing build needs the state twice (files+DVs, then the
    // data schema), and each call replayed the full log — checkpoint
    // parquet plus the commit tail (verdict r13 #5). The listing
    // above stays fresh every call (new commits move `target`), and
    // state AT a fixed version of a fixed LOG INSTANCE is immutable,
    // so a short-TTL LRU is sound; the identity component (oldest
    // commit's mtime+len) keeps a deleted-and-recreated log at the
    // same location from serving the old table's state (ADVICE r14).
    Some(replayCache.get(s"${log.root}#${log.identity}#v$target") {
      replayCount += 1
      replay(log, target)
    })
  }

  /** Replays observed by this resolver — test instrumentation for the
    * one-replay-per-build contract. */
  private[graft] var replayCount = 0L
  private val replayCache =
    new graft.cache.TtlCache[RawDeltaState](maxEntries = 16, ttlMs = 5 * 60 * 1000L)

  private def replay(log: DeltaLogListing, target: Long): RawDeltaState = {
    val root = log.root
    // mutable replay state: path -> (size, partitionValues, stats, dvPath)
    val live = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Map[String, String], String, String)]
    val txns = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    var schemaString: Option[String] = None
    var partitionColumns: Seq[String] = Nil

    val cpVer = log.checkpoints.keySet.filter(_ <= target).maxOption
    cpVer.foreach { v =>
      val df = spark.read.parquet(log.checkpoints(v).map(_.toString): _*)
      if (df.columns.contains("metaData")) {
        val metaCols = df.select("metaData.*").columns.toSet
        val m = df.filter(col("metaData").isNotNull)
        m.select("metaData.schemaString").collect().headOption
          .foreach(r => schemaString = Option(r.getString(0)))
        if (metaCols.contains("partitionColumns"))
          m.select("metaData.partitionColumns").collect().headOption
            .foreach(r => if (!r.isNullAt(0)) partitionColumns = r.getSeq[String](0))
      }
      if (df.columns.contains("txn"))
        df.filter(col("txn").isNotNull).select("txn.appId", "txn.version")
          .collect().foreach(r => txns(r.getString(0)) = r.getLong(1))
      if (df.columns.contains("add")) {
        val addCols = df.select("add.*").columns.toSet
        val hasStats = addCols.contains("stats")
        // the descriptor as commit lines carry it, or the flat column
        // of checkpoints written before the checkpoint reused them —
        // a DV dropped on read would resurrect its deleted rows
        val dvCol = Seq("deletionVector" -> "add.deletionVector.storagePath",
          "deletionVectorPath" -> "add.deletionVectorPath")
          .collectFirst { case (c, path) if addCols.contains(c) => col(path) }
        val hasDv = dvCol.isDefined
        val cols = Seq(col("add.path"), col("add.size"), col("add.partitionValues")) ++
          (if (hasStats) Seq(col("add.stats")) else Nil) ++ dvCol
        df.filter(col("add").isNotNull).select(cols: _*).collect().foreach { r =>
          val pv = Option(r.getMap[String, String](2)).map(_.toMap).getOrElse(Map.empty)
          val st = if (hasStats && !r.isNullAt(3)) r.getString(3) else null
          val dvIdx = if (hasStats) 4 else 3
          val dv = if (hasDv && !r.isNullAt(dvIdx)) r.getString(dvIdx) else null
          live(resolvePath(root, r.getString(0))) = (r.getLong(1), pv, st,
            if (dv == null) null else resolvePath(root, dv))
        }
      }
    }

    val base = cpVer.getOrElse(-1L)
    val tail = log.commits.filter { case (v, _) => v > base && v <= target }
    val expected = (base + 1) to target
    if (tail.map(_._1) != expected)
      throw new IllegalStateException(
        s"Delta log gap at $root: need versions ${expected.mkString(",")} after " +
          s"checkpoint ${cpVer.getOrElse("none")}, found ${tail.map(_._1).mkString(",")} — " +
          "a commit was cleaned away without a covering checkpoint")

    tail.foreach { case (_, p) =>
        val in = log.fs.open(p)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        text.split('\n').iterator.map(_.trim).filter(_.nonEmpty).foreach { line =>
          val node = mapper.readTree(line)
          Option(node.get("metaData")).foreach { m =>
            Option(m.get("schemaString")).foreach(s => schemaString = Some(s.asText()))
            Option(m.get("partitionColumns")).foreach { pc =>
              partitionColumns = pc.elements().asScala.map(_.asText()).toSeq
            }
          }
          Option(node.get("txn")).foreach { t =>
            for (a <- Option(t.get("appId")); v <- Option(t.get("version")))
              txns(a.asText()) = v.asLong()
          }
          Option(node.get("add")).foreach { a =>
            val pv = Option(a.get("partitionValues")).map { o =>
              o.properties().asScala
                .filter(e => !e.getValue.isNull)
                .map(e => e.getKey -> e.getValue.asText()).toMap
            }.getOrElse(Map.empty)
            val stats = Option(a.get("stats")).filter(!_.isNull).map(_.asText()).orNull
            val dv = Option(a.get("deletionVector"))
              .flatMap(d => Option(d.get("storagePath"))).map(_.asText())
              .map(resolvePath(root, _)).orNull
            live(resolvePath(root, a.get("path").asText())) =
              (Option(a.get("size")).map(_.asLong()).getOrElse(0L), pv, stats, dv)
          }
          Option(node.get("remove")).foreach { r =>
            live.remove(resolvePath(root, r.get("path").asText()))
          }
        }
      }

    RawDeltaState(target, schemaString, partitionColumns,
      live.toSeq.map { case (p, (size, pv, stats, dv)) =>
        DeltaAdd(p, size, pv, Option(stats), Option(dv))
      },
      txns.toMap)
  }

  /** The one listing of a table's log: every commit and checkpoint
    * name is matched here, for readers and the writer alike.
    */
  private[listing] def listLog(location: String): DeltaLogListing = {
    val root = location.stripSuffix("/")
    val logDir = new Path(s"$root/_delta_log")
    val fs = logDir.getFileSystem(hadoopConf)
    if (!fs.exists(logDir)) return DeltaLogListing(root, logDir, fs, Nil, Map.empty, "")
    val statuses = fs.listStatus(logDir).toSeq
    val commits = statuses.flatMap { s =>
      s.getPath.getName match {
        case CommitRe(v) => Some(v.toLong -> s.getPath)
        case _           => None
      }
    }.sortBy(_._1)
    val checkpoints = statuses.flatMap { s =>
      s.getPath.getName match {
        case CheckpointRe(v) => Some(v.toLong -> s.getPath)
        case _               => None
      }
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // LOG IDENTITY for the replay memo (ADVICE r14 low): a log deleted
    // and recreated at the same location that reaches the same version
    // number within the memo TTL must not serve the previous table's
    // state. The oldest surviving commit's (mtime, length) names THIS
    // log instance — free from the listStatus already in hand.
    // ADVICE r15 low: minBy (not head-of-sorted, which reads as
    // listing-order-dependent) for an explicitly deterministic oldest
    // commit, plus the commit COUNT and the NEWEST commit's
    // (version, mtime, length) in the identity — a fast
    // delete-and-recreate that lands the same oldest version at the
    // same ms/size still differs in tail shape, shrinking the
    // collision window to a full-log bit-for-bit twin within the TTL.
    val identity = if (commits.isEmpty) "" else {
      def sig(vp: (Long, Path)): String = {
        val st = statuses.find(_.getPath == vp._2)
        s"${vp._1}:${st.map(_.getModificationTime).getOrElse(0L)}:${st.map(_.getLen).getOrElse(0L)}"
      }
      s"${sig(commits.minBy(_._1))}|${sig(commits.maxBy(_._1))}|n${commits.size}"
    }
    DeltaLogListing(root, logDir, fs, commits, checkpoints, identity)
  }

  /** `add.path` is URL-encoded and relative to the table root unless
    * absolute (the protocol allows both).
    */
  private def resolvePath(root: String, raw: String): String = {
    val decoded =
      try new java.net.URI(raw).getPath match {
        case null | "" => raw
        case p if raw.contains("://") => raw // absolute URI: keep scheme form
        case p => p
      }
      catch { case _: java.net.URISyntaxException => raw }
    if (decoded.contains("://") || decoded.startsWith("/")) decoded
    else s"$root/$decoded"
  }

  /** Decode one add-action `stats` JSON into per-column ranges, typed
    * by the table schema so they compare directly against pushed
    * literals (same catalyst-internal forms as [[FooterStats]]).
    * Anything unparseable is simply omitted — absence means "cannot
    * skip", never a wrong skip.
    */
  private def boundsOf(statsJson: String, schema: StructType): Map[String, ColRange] = {
    val node =
      try mapper.readTree(statsJson)
      catch { case _: Exception => return Map.empty }
    if (node == null) return Map.empty
    val numRecords = Option(node.get("numRecords")).filter(_.isNumber).map(_.asLong())
    val mins = Option(node.get("minValues"))
    val maxs = Option(node.get("maxValues"))
    val nulls = Option(node.get("nullCount"))

    def conv(dt: DataType, n: JsonNode): Option[Any] = dt match {
      case LongType if n.isNumber    => Some(n.asLong())
      case IntegerType if n.isNumber => Some(n.asInt())
      case DoubleType if n.isNumber =>
        Some(n.asDouble()).filterNot(_.isNaN)
      case FloatType if n.isNumber =>
        Some(n.floatValue()).filterNot(_.isNaN)
      case StringType if n.isTextual => Some(UTF8String.fromString(n.asText()))
      case DateType if n.isTextual =>
        try Some(java.time.LocalDate.parse(n.asText()).toEpochDay.toInt)
        catch { case _: java.time.format.DateTimeParseException => None }
      case _ => None // timestamps et al.: writer-dependent, skip soundly
    }

    schema.fields.flatMap { f =>
      val nc = nulls.flatMap(o => Option(o.get(f.name))).filter(_.isNumber).map(_.asLong())
      val noNulls = nc.contains(0L)
      val allNulls = (nc, numRecords) match {
        case (Some(c), Some(t)) => t > 0 && c == t
        case _                  => false
      }
      val mn = mins.flatMap(o => Option(o.get(f.name))).filterNot(_.isNull).flatMap(conv(f.dataType, _))
      val mx = maxs.flatMap(o => Option(o.get(f.name))).filterNot(_.isNull).flatMap(conv(f.dataType, _))
      val hideNaN = f.dataType == FloatType || f.dataType == DoubleType
      (mn, mx) match {
        case (Some(a), Some(b)) =>
          Some(f.name -> ColRange(a, b, allNulls = false, noNulls = noNulls, mayHideNaN = hideNaN))
        case _ if allNulls =>
          Some(f.name -> ColRange(null, null, allNulls = true, noNulls = false))
        case _ => None
      }
    }.toMap
  }
}
