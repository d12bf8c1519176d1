package graft.listing

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import scala.jdk.CollectionConverters._

/** Hudi COPY-ON-WRITE timeline → live-file resolution, without a Hudi
  * runtime — the third member of the table-format trio
  * ([[IcebergSnapshotResolver]], [[DeltaLogResolver]]), and like
  * DELTA a beyond-reference extension: the reference's classifier
  * declares HUDI but can never return it (src/util/glue.ts:13-19).
  *
  * Public Hudi timeline layout (https://hudi.apache.org/docs/timeline):
  * `.hoodie/<instant>.commit` JSON files record completed writes;
  * `partitionToWriteStats` maps each partition path to the write
  * stats of the files written — `fileId` (the file group), `path`
  * (relative to the table root), `fileSizeInBytes`. COW semantics: an
  * upsert writes a NEW versioned file for the same file group, and
  * readers must take exactly the LATEST file slice per group (stale
  * versions stay on disk until cleaning — listing the directory
  * would double-count every updated row).
  * `<instant>.replacecommit` (clustering / insert-overwrite)
  * additionally retires whole file groups via
  * `partitionToReplaceFileIds`.
  *
  * `versionOffset` time-travels: offset n = the state as of the
  * n-th-latest completed instant. All driver-side metadata — commit
  * JSONs are KB-scale regardless of table size.
  */
final class HudiTimelineResolver(hadoopConf: Configuration) {
  private val mapper = new ObjectMapper()

  /** One live data file: absolute path, size, its file group and the
    * commit instant that wrote it, plus the partition path (empty
    * for unpartitioned tables; Hive-style `k=v` segments when the
    * writer used them).
    */
  final case class HudiDataFile(path: String, size: Long, fileId: String,
      instant: String, partitionPath: String)

  private val InstantRe = """(\d+)\.(commit|replacecommit)""".r

  def dataFilesDetailed(location: String, versionOffset: Int = 0): Seq[HudiDataFile] =
    filesAndSchema(location, versionOffset)._1

  /** Live data files AND the table schema as of the selected instant
    * (the newest recorded schema at or before it, see
    * [[HudiTimelineWriter.dataSchemaAt]]), from ONE timeline walk.
    */
  def filesAndSchema(location: String, versionOffset: Int = 0)
      : (Seq[HudiDataFile], Option[org.apache.spark.sql.types.StructType]) = {
    require(versionOffset >= 0, s"versionOffset must be >= 0: $versionOffset")
    val root = location.stripSuffix("/")
    val tl = new Path(s"$root/.hoodie")
    val fs = tl.getFileSystem(hadoopConf)
    if (!fs.exists(tl)) return (Nil, None)
    val completed = fs.listStatus(tl).toSeq.flatMap { st =>
      st.getPath.getName match {
        case InstantRe(instant, kind) => Some((instant, kind, st.getPath))
        case _                        => None
      }
    }.sortBy(_._1)
    if (completed.size <= versionOffset) return (Nil, None)
    val upTo = completed.dropRight(versionOffset)

    // fileId -> latest (instant, file); later commits win per group
    val live = scala.collection.mutable.LinkedHashMap.empty[String, HudiDataFile]
    var extraMetadata = List.empty[JsonNode] // newest first
    upTo.foreach { case (instant, kind, p) =>
      val in = fs.open(p)
      val node = try mapper.readTree(in) finally in.close()
      Option(node.get("extraMetadata")).foreach(em => extraMetadata ::= em)
      if (kind == "replacecommit")
        Option(node.get("partitionToReplaceFileIds")).foreach { m =>
          m.properties().asScala.foreach(_.getValue.elements().asScala
            .foreach(id => live.remove(id.asText())))
        }
      Option(node.get("partitionToWriteStats")).foreach { m =>
        m.properties().asScala.foreach { e =>
          val partition = e.getKey
          e.getValue.elements().asScala.foreach { stat =>
            val fileId = Option(stat.get("fileId")).map(_.asText()).getOrElse("")
            val rel = Option(stat.get("path")).map(_.asText()).getOrElse(
              throw new IllegalStateException(
                s"malformed Hudi commit ${p.getName}: write stat without a path"))
            val size = Option(stat.get("fileSizeInBytes")).map(_.asLong()).getOrElse(-1L)
            val abs = if (rel.contains("://") || rel.startsWith("/")) rel else s"$root/$rel"
            live(fileId) = HudiDataFile(abs, size, fileId, instant, partition)
          }
        }
      }
    }
    (live.values.toSeq.sortBy(_.path),
      extraMetadata.iterator.flatMap(HudiTimelineWriter.schemaOf).nextOption())
  }
}

/** Hudi COPY-ON-WRITE timeline WRITER — completes the lakehouse write
  * trio ([[DeltaLogWriter]], [[IcebergWriter]]): each [[commit]]
  * writes the batch's data files into the table's partition layout
  * (Hive-style `k=v` dirs, so the engine's path extractors prune
  * them like any partitioned table), names them
  * `<fileId>_<token>_<instant>.parquet` per the public Hudi layout,
  * and publishes a `<instant>.commit` (or `.replacecommit` when file
  * groups are retired) by atomic rename into `.hoodie/` — readers
  * never observe a half-written instant. An upsert is expressed the
  * COW way: retire the affected file groups via
  * `partitionToReplaceFileIds` and write their merged replacement
  * slices in the same instant (exactly the fixture shape
  * [[HudiTimelineResolver]] already resolves).
  */
object HudiTimelineWriter {
  private def jstr(s: String): String =
    new ObjectMapper().writeValueAsString(s)

  private val InstantRe = """(\d+)\.(commit|replacecommit)""".r

  /** Column-mapping physical-name annotation — the Hudi leg of the
    * format trio (Delta `delta.columnMapping.physicalName`, Iceberg
    * field-id `physical`): once a rename/drop has happened, every
    * field of the TIMELINE schema carries the parquet column name its
    * slices physically hold; appends arrive logical and land
    * physical, reads scan physical and project to logical.
    */
  private[graft] val PhysNameKey = "hudi.columnMapping.physicalName"

  private[graft] def mappingOf(schema: org.apache.spark.sql.types.StructType)
      : Map[String, String] =
    schema.fields.flatMap { f =>
      if (f.metadata.contains(PhysNameKey)) {
        val p = f.metadata.getString(PhysNameKey)
        if (p != f.name) Some(f.name -> p) else None
      } else None
    }.toMap

  private[graft] def isMapped(schema: org.apache.spark.sql.types.StructType): Boolean =
    schema.fields.exists(_.metadata.contains(PhysNameKey))

  private def physOf(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysNameKey)) f.metadata.getString(PhysNameKey) else f.name

  private def annotate(f: org.apache.spark.sql.types.StructField,
      phys: String): org.apache.spark.sql.types.StructField =
    f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata).putString(PhysNameKey, phys).build())

  /** Newest recorded timeline schema (json form preferred — DDL
    * loses the mapping annotations) + the retired-column ledger,
    * from the given completed-instant listing.
    */
  private def schemaState(fs: org.apache.hadoop.fs.FileSystem,
      instants: Seq[org.apache.hadoop.fs.FileStatus])
      : (Option[org.apache.spark.sql.types.StructType], Seq[(String, String)]) = {
    val mapper = new ObjectMapper()
    instants.sortBy(_.getPath.getName)(Ordering[String].reverse)
      .iterator.map { st =>
        val in = fs.open(st.getPath)
        val node = try mapper.readTree(in) finally in.close()
        Option(node.get("extraMetadata"))
      }.collectFirst { case Some(em) if em.has("graft-schema") || em.has("graft-schema-json") =>
        val schema = Option(em.get("graft-schema-json")).map(_.asText())
          .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
          .orElse(Option(em.get("graft-schema")).map(_.asText())
            .map(org.apache.spark.sql.types.StructType.fromDDL))
        val retired = Option(em.get("graft-retired")).map(_.asText()).toSeq.flatMap { j =>
          val n = mapper.readTree(j)
          n.elements().asScala.toSeq.flatMap { e =>
            for (nm <- Option(e.get("name")); ph <- Option(e.get("physical")))
              yield (nm.asText(), ph.asText())
          }
        }
        (schema, retired)
      }.getOrElse((None, Nil))
  }

  private def retiredJson(retired: Seq[(String, String)]): String =
    retired.map { case (n, p) =>
      s"""{"name": ${jstr(n)}, "physical": ${jstr(p)}}"""
    }.mkString("[", ", ", "]")

  /** Write `df` as the table's next completed instant. Returns the
    * instant string. `replaceFileIds` (partitionPath -> fileIds)
    * turns the instant into a replacecommit retiring those groups.
    */
  def commit(spark: org.apache.spark.sql.SparkSession, location: String,
      df: org.apache.spark.sql.DataFrame, partitionBy: Seq[String] = Nil,
      replaceFileIds: Map[String, Seq[String]] = Map.empty,
      extraMetadata: Map[String, String] = Map.empty): String =
    commitInternal(spark, location, df, partitionBy, replaceFileIds,
      extraMetadata, txn = None, onBeforePublish = () => ())
      .getOrElse(throw new IllegalStateException(
        "unreachable: only txn commits recognize replays"))

  /** [[commit]] with an (appId, batchId) txn mark folded into the
    * ATOMIC instant publish — exactly-once under CONCURRENT replaying
    * writers, matching the Delta sink's guarantee. The replay check
    * reads the SAME timeline listing the target instant derives from,
    * and the instant rename-CAS validates that listing: a successful
    * rename at instant N proves every instant < N was already visible
    * to the check (no commit can land at an instant >= N until N is
    * taken), while a lost rename re-lists, re-checks the mark, and
    * either aborts as a recognized replay (returns None, deleting
    * this call's never-published slices) or retries at the next free
    * instant. `onBeforePublish` is a test-injection point (fires
    * between mark check and CAS) for the race spec in StreamingSpec.
    */
  def commitTxn(spark: org.apache.spark.sql.SparkSession, location: String,
      df: org.apache.spark.sql.DataFrame, appId: String, batchId: Long,
      partitionBy: Seq[String] = Nil,
      onBeforePublish: () => Unit = () => ()): Option[String] =
    commitInternal(spark, location, df, partitionBy, Map.empty,
      Map("graft-txn-app" -> appId, "graft-txn-batch" -> batchId.toString),
      txn = Some((appId, batchId)), onBeforePublish = onBeforePublish)

  private def commitInternal(spark: org.apache.spark.sql.SparkSession, location: String,
      df: org.apache.spark.sql.DataFrame, partitionBy: Seq[String],
      replaceFileIds: Map[String, Seq[String]],
      extraMetadata: Map[String, String],
      txn: Option[(String, Long)], onBeforePublish: () => Unit): Option[String] = {
    val root = location.stripSuffix("/")
    val conf = org.apache.spark.sql.graft.Shim.classic(spark)
      .sparkContext.hadoopConfiguration
    val tl = new Path(s"$root/.hoodie")
    val fs = tl.getFileSystem(conf)
    fs.mkdirs(tl)

    def listInstants(): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(tl).toSeq
        .filter(st => InstantRe.pattern.matcher(st.getPath.getName).matches())

    // replay check BEFORE paying the data write; sound because any
    // commit that lands after this listing forces our instant rename
    // to lose, and the retry path re-checks
    val initialListing = listInstants()
    if (txn.exists { case (appId, batchId) =>
        timelineMark(fs, initialListing, appId).exists(_ >= batchId) })
      return None

    // next instant: numeric successor of the newest completed one,
    // padded to the timeline's existing width (instants sort as
    // STRINGS — mixed widths would reorder the timeline)
    val existing = initialListing.flatMap(_.getPath.getName match {
      case InstantRe(i, _) => Some(i)
      case _               => None
    })
    val width = existing.map(_.length).maxOption.getOrElse(14)
    val next = existing.map(BigInt(_)).maxOption.getOrElse(BigInt(0)) + 1
    val instant = {
      val digits = next.toString
      require(digits.length <= width,
        s"instant $digits overflows the timeline's $width-char width at $root")
      ("0" * (width - digits.length)) + digits
    }

    // COLUMN MAPPING: when the timeline schema is mapped (a rename/
    // drop happened), bind each batch column to its timeline field —
    // by LOGICAL name (normal appends), or by PHYSICAL name (DML
    // rewrites re-commit slices they read physically) — and write
    // the data under the PHYSICAL names; the recorded schema stays
    // the LOGICAL one with its annotations, extended by any additive
    // new fields (fresh physical names honoring the retired ledger).
    val (priorSchema, retired) = schemaState(fs, initialListing)
    val (recordedSchema, physDf) = priorSchema match {
      case Some(ps) if isMapped(ps) =>
        val byName = ps.fields.map(f => f.name -> f).toMap
        val byPhys = ps.fields.map(f => physOf(f) -> f).toMap
        val livePhys = ps.fields.map(physOf).toSet ++ retired.map(_._2)
        // Fields another batch column already claims by LOGICAL name
        // are off-limits to the byPhys fallback: after rename a->b
        // (phys stays 'a'), an additive append carrying both 'b' and
        // a fresh 'a' must bind 'b'->b byName and send 'a' down the
        // additive path — a byPhys bind of 'a' onto b would duplicate
        // the field (ADVICE r13 medium). DML rewrites (the fallback's
        // purpose) carry ONLY physical names, so their binds survive.
        val namedClaims = df.schema.fields
          .flatMap(c => byName.get(c.name).map(_.name)).toSet
        val bound = df.schema.fields.map { c =>
          byName.get(c.name).map(f => (f, physOf(f), c.name != physOf(f)))
            .orElse(byPhys.get(c.name)
              .filterNot(f => namedClaims.contains(f.name))
              .map(f => (f, physOf(f), false)))
            .getOrElse {
              // additive new column: fresh physical name, never one a
              // dropped column's bytes still occupy
              var k = retired.count(_._1 == c.name) + 1
              var ph = if (livePhys(c.name)) s"${c.name}_$k" else c.name
              while (livePhys(ph)) { k += 1; ph = s"${c.name}_$k" }
              (annotate(c, ph), ph, c.name != ph)
            }
        }
        // one SELECT with aliases, never chained withColumnRenamed:
        // sequential renames are order-dependent when a target
        // physical name collides with a still-unrenamed source column
        // (rename b->'a' while batch column 'a' awaits its own
        // 'a'->'a_1' rename would rename both)
        val renamed = df.select(df.schema.fields.zip(bound).map {
          case (c, (_, ph, _)) => df.col("`" + c.name + "`").as(ph)
        }.toSeq: _*)
        (org.apache.spark.sql.types.StructType(bound.map(_._1)), renamed)
      case _ => (df.schema, df)
    }
    // data files: write with the partition layout, then move each
    // part file to its Hudi slice name under the partition dir.
    // The per-attempt random token covers BOTH the tmp dir and the
    // final slice names (via the fileId): two writers racing the same
    // instant place disjoint data files, so the ONLY contention point
    // is the .hoodie instant rename — never a destination-file
    // collision that would strand already-renamed slices
    val token = java.util.UUID.randomUUID().toString.take(8)
    val tmp = s"$root/.tmp_${instant}_$token"
    val w = physDf.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(tmp)
    def walk(p: Path): Seq[Path] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st.getPath)
        else Nil
      }
    val tmpPath = new Path(tmp)
    val tmpUri = tmpPath.toUri.getPath
    val moved = walk(tmpPath).sortBy(_.toString).zipWithIndex.map { case (p, idx) =>
      val relDir = p.getParent.toUri.getPath.stripPrefix(tmpUri).stripPrefix("/")
      val fileId = s"f$instant-$idx-$token"
      val name = s"${fileId}_0-0-0_$instant.parquet"
      val destDir = if (relDir.isEmpty) new Path(root) else new Path(s"$root/$relDir")
      fs.mkdirs(destDir)
      val dest = new Path(destDir, name)
      if (!fs.rename(p, dest))
        throw new IllegalStateException(s"cannot place Hudi data file $dest")
      val rel = (if (relDir.isEmpty) "" else s"$relDir/") + name
      (relDir, fileId, rel, fs.getFileStatus(dest).getLen)
    }
    fs.delete(tmpPath, true)

    val statsByPartition = moved.groupBy(_._1).map { case (part, fsz) =>
      val stats = fsz.map { case (_, fileId, rel, size) =>
        s"""{"fileId": ${jstr(fileId)}, "path": ${jstr(rel)}, "fileSizeInBytes": $size}"""
      }
      s"${jstr(part)}: [${stats.mkString(", ")}]"
    }.mkString("{", ", ", "}")
    val replaceJson =
      if (replaceFileIds.isEmpty) ""
      else {
        val m = replaceFileIds.map { case (part, ids) =>
          s"${jstr(part)}: [${ids.map(jstr).mkString(", ")}]"
        }.mkString("{", ", ", "}")
        s""""partitionToReplaceFileIds": $m, """
      }
    val kind = if (replaceFileIds.isEmpty) "commit" else "replacecommit"
    // `extraMetadata` is Hudi's own slot for writer bookkeeping (the
    // streaming checkpoint key lives there in real Hudi; so does the
    // TABLE SCHEMA, which real Hudi records per commit) — the
    // exactly-once sink records its (appId, batchId) mark here, and
    // every commit records the batch schema so the reader resolves
    // columns from the TIMELINE instead of one sampled file (the
    // additive-evolution contract: a column added by a later writer
    // must read back as nulls from older slices, not vanish)
    val withSchema = extraMetadata ++
      Map("graft-schema" -> recordedSchema.toDDL) ++
      (if (isMapped(recordedSchema))
         Map("graft-schema-json" -> recordedSchema.json) else Map.empty) ++
      (if (retired.nonEmpty) Map("graft-retired" -> retiredJson(retired)) else Map.empty)
    val extraJson = {
      val m = withSchema.map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }
        .mkString("{", ", ", "}")
      s""""extraMetadata": $m, """
    }
    val body = s"""{$extraJson$replaceJson"partitionToWriteStats": $statsByPartition}"""

    // publish: the commit body references data files only by path/
    // fileId (both token-unique), so an INSERT-only commit that loses
    // the instant rename race republishes the SAME body at the next
    // free instant — optimistic concurrency, like Delta's blind
    // appends. A replacecommit's read-set (the groups it retires) may
    // have been invalidated by the winner, so it surfaces the
    // conflict instead.
    var attempt = 0
    var cur = instant
    while (true) {
      val dst = new Path(tl, s"$cur.$kind")
      if (Publish(fs, dst, body, onBeforePublish)) return Some(cur)
      if (replaceFileIds.nonEmpty || attempt >= 4)
        throw new IllegalStateException(
          s"instant $cur already published at $dst" +
            (if (replaceFileIds.isEmpty) " after 5 attempts"
             else " — re-resolve and reapply (replacecommits are not blindly retryable)"))
      val listing = listInstants()
      // txn replay re-check against the SAME listing the retry
      // instant derives from — the winner that beat us to `cur` may
      // have been a replay of this very batch
      val superseded = txn.exists { case (appId, batchId) =>
        timelineMark(fs, listing, appId).exists(_ >= batchId)
      }
      if (superseded) {
        // drop this call's never-published slices: readers resolve
        // data files through the timeline and cannot see them, so
        // deleting just skips the wait for cleanHudiTable
        moved.foreach { case (_, _, rel, _) =>
          fs.delete(new Path(s"$root/$rel"), false)
        }
        return None
      }
      val taken = listing.flatMap(_.getPath.getName match {
        case InstantRe(i, _) => Some(BigInt(i))
        case _               => None
      })
      val nxt = (taken.maxOption.getOrElse(BigInt(0)) + 1).max(BigInt(cur) + 1)
      val digits = nxt.toString
      require(digits.length <= width,
        s"instant $digits overflows the timeline's $width-char width at $root")
      cur = ("0" * (width - digits.length)) + digits
      attempt += 1
    }
    None // unreachable
  }

  /** Highest batch id `appId` has recorded in the given completed
    * instants' `extraMetadata` — NEWEST first, stopping at the first
    * mark (a given app's batch ids increase along the timeline).
    * Shared by [[lastTxn]] and [[commitTxn]]'s in-loop replay check.
    */
  private def timelineMark(fs: org.apache.hadoop.fs.FileSystem,
      instants: Seq[org.apache.hadoop.fs.FileStatus], appId: String): Option[Long] = {
    val mapper = new ObjectMapper()
    instants.sortBy(_.getPath.getName)(Ordering[String].reverse).iterator.flatMap { st =>
      val in = fs.open(st.getPath)
      val node = try mapper.readTree(in) finally in.close()
      for {
        em <- Option(node.get("extraMetadata"))
        app <- Option(em.get("graft-txn-app")).map(_.asText()) if app == appId
        b <- Option(em.get("graft-txn-batch")).map(_.asText().toLong)
      } yield b
    }.nextOption()
  }

  /** ROLLBACK the table to an earlier instant as a NEW replacecommit
    * (Hudi's savepoint+restore outcome, expressed timeline-forward so
    * history stays intact — real Hudi's restore deletes instants; the
    * append-only form keeps every pre-rollback state time-travelable,
    * matching the Delta RESTORE / Iceberg rollback siblings): the
    * published instant retires every file group absent from the
    * target state via `partitionToReplaceFileIds`, and re-points
    * every group whose latest slice changed back to its target-time
    * slice via `partitionToWriteStats` (later instants win per file
    * group, so re-adding the OLD path restores the old slice —
    * nothing is copied or rewritten). Pure metadata: two timeline
    * replays and one atomic instant publish; `cleanHudiTable`
    * reclaims orphaned slices later. A rollback is a read-set
    * replacecommit, so losing the instant race surfaces the conflict
    * (no blind retry). Returns the published instant.
    */
  def rollback(spark: org.apache.spark.sql.SparkSession, location: String,
      versionOffset: Int): String = {
    require(versionOffset > 0, s"rollback needs a positive offset, got $versionOffset")
    val root = location.stripSuffix("/")
    val conf = org.apache.spark.sql.graft.Shim.classic(spark)
      .sparkContext.hadoopConfiguration
    val tl = new Path(s"$root/.hoodie")
    val fs = tl.getFileSystem(conf)
    val existing = (if (fs.exists(tl)) fs.listStatus(tl).toSeq else Nil)
      .flatMap(_.getPath.getName match {
        case InstantRe(i, _) => Some(i)
        case _               => None
      })
    require(versionOffset < existing.size,
      s"cannot rollback $location: offset $versionOffset outside ${existing.size} instants")
    val resolver = new HudiTimelineResolver(conf)
    val cur = resolver.dataFilesDetailed(root, 0)
    val tgt = resolver.dataFilesDetailed(root, versionOffset)
    val curById = cur.map(f => f.fileId -> f).toMap
    val tgtIds = tgt.map(_.fileId).toSet
    val rootUri = new Path(root).toUri.getPath
    def rel(abs: String): String = {
      val u = new Path(abs).toUri.getPath
      if (u.startsWith(rootUri)) u.stripPrefix(rootUri).stripPrefix("/") else abs
    }
    val retire = cur.filterNot(f => tgtIds(f.fileId))
    val reAdd = tgt.filter(f => curById.get(f.fileId).forall(_.path != f.path))
    val replaceJson = retire.groupBy(_.partitionPath).map { case (part, fsz) =>
      s"${jstr(part)}: [${fsz.map(f => jstr(f.fileId)).mkString(", ")}]"
    }.mkString("{", ", ", "}")
    val statsJson = reAdd.groupBy(_.partitionPath).map { case (part, fsz) =>
      val stats = fsz.map { f =>
        s"""{"fileId": ${jstr(f.fileId)}, "path": ${jstr(rel(f.path))}, "fileSizeInBytes": ${f.size}}"""
      }
      s"${jstr(part)}: [${stats.mkString(", ")}]"
    }.mkString("{", ", ", "}")
    val body =
      s"""{"extraMetadata": {"rollback.target.offset": ${jstr(versionOffset.toString)}}, """ +
        s""""partitionToReplaceFileIds": $replaceJson, "partitionToWriteStats": $statsJson}"""
    val width = existing.map(_.length).maxOption.getOrElse(14)
    val next = existing.map(BigInt(_)).maxOption.getOrElse(BigInt(0)) + 1
    val digits = next.toString
    require(digits.length <= width,
      s"instant $digits overflows the timeline's $width-char width at $root")
    val instant = ("0" * (width - digits.length)) + digits
    val dst = new Path(tl, s"$instant.replacecommit")
    if (!Publish(fs, dst, body, () => ())) {
      throw new IllegalStateException(
        s"rollback lost the instant race at $dst — re-resolve and retry")
    }
    instant
  }

  /** The table schema as of the (versionOffset)-newest instant — the
    * newest `graft-schema` mark at or before that instant (real Hudi
    * records the schema in every commit's extraMetadata the same
    * way). None for tables written before schemas were recorded; the
    * engine then falls back to single-file inference.
    */
  def dataSchemaAt(spark: org.apache.spark.sql.SparkSession, location: String,
      versionOffset: Int = 0): Option[org.apache.spark.sql.types.StructType] = {
    val tl = new Path(s"${location.stripSuffix("/")}/.hoodie")
    val conf = org.apache.spark.sql.graft.Shim.classic(spark)
      .sparkContext.hadoopConfiguration
    val fs = tl.getFileSystem(conf)
    if (!fs.exists(tl)) return None
    val mapper = new ObjectMapper()
    fs.listStatus(tl).toSeq
      .filter(st => InstantRe.pattern.matcher(st.getPath.getName).matches())
      .sortBy(_.getPath.getName)(Ordering[String].reverse)
      .drop(versionOffset) // schema AS OF the time-traveled instant
      .iterator.flatMap { st =>
        val in = fs.open(st.getPath)
        val node = try mapper.readTree(in) finally in.close()
        Option(node.get("extraMetadata")).flatMap(schemaOf)
      }.nextOption()
  }

  /** The schema one commit's extraMetadata records, if any. */
  private[listing] def schemaOf(extraMetadata: JsonNode)
      : Option[org.apache.spark.sql.types.StructType] =
    // json form first: DDL loses the column-mapping annotations
    Option(extraMetadata.get("graft-schema-json")).map(_.asText())
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .orElse(Option(extraMetadata.get("graft-schema")).map(_.asText())
        .map(org.apache.spark.sql.types.StructType.fromDDL))

  /** RENAME a column as a METADATA-ONLY instant — zero slices
    * rewritten: the timeline schema (the reader's authority) renames
    * the field while its physical-name annotation keeps binding to
    * what the parquet slices hold; later appends arrive logical and
    * land physical. Returns the published instant.
    */
  def renameColumn(spark: org.apache.spark.sql.SparkSession, location: String,
      oldName: String, newName: String): String =
    evolveSchema(spark, location, "rename") { (schema, retired) =>
      require(schema.fieldNames.contains(oldName),
        s"cannot rename $oldName at $location: no such column")
      require(!schema.fieldNames.contains(newName) && !retired.exists(_._1 == newName),
        s"cannot rename $oldName to $newName at $location: name already in use")
      val fields = schema.fields.map { f =>
        val ann = annotate(f, physOf(f)) // mode ON for every field
        if (f.name == oldName) ann.copy(name = newName) else ann
      }
      (org.apache.spark.sql.types.StructType(fields), retired)
    }

  /** DROP a column as a METADATA-ONLY instant: the field leaves the
    * timeline schema (readers stop projecting it; slices keep the
    * bytes, history still travels), and its (name, physical) joins
    * the RETIRED ledger so a later re-add binds to a FRESH physical
    * column — the resurrection guard shared with the Delta and
    * Iceberg legs. Returns the published instant.
    */
  def dropColumn(spark: org.apache.spark.sql.SparkSession, location: String,
      name: String): String =
    evolveSchema(spark, location, "drop") { (schema, retired) =>
      val victim = schema.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"cannot drop $name at $location: no such column"))
      require(schema.fields.length > 1,
        s"cannot drop $name at $location: it is the only column")
      val fields = schema.fields.filterNot(_.name == name)
        .map(f => annotate(f, physOf(f)))
      (org.apache.spark.sql.types.StructType(fields),
        retired :+ (victim.name, physOf(victim)))
    }

  /** Shared schema-evolution publish: a data-less instant whose
    * `extraMetadata` carries the evolved (annotated) schema and the
    * retired ledger — the timeline twin of Delta's metaData-only
    * commit and Iceberg's schema-only metadata version.
    */
  private def evolveSchema(spark: org.apache.spark.sql.SparkSession,
      location: String, what: String)(
      f: (org.apache.spark.sql.types.StructType, Seq[(String, String)]) =>
        (org.apache.spark.sql.types.StructType, Seq[(String, String)])): String = {
    val root = location.stripSuffix("/")
    val tl = new Path(s"$root/.hoodie")
    val conf = org.apache.spark.sql.graft.Shim.classic(spark)
      .sparkContext.hadoopConfiguration
    val fs = tl.getFileSystem(conf)
    require(fs.exists(tl), s"no Hudi timeline at $location — schema $what needs a table")
    val instants = fs.listStatus(tl).toSeq
      .filter(st => InstantRe.pattern.matcher(st.getPath.getName).matches())
    val (priorSchema, retired) = schemaState(fs, instants)
    val schema = priorSchema.getOrElse(throw new IllegalStateException(
      s"schema $what at $location: timeline records no schema"))
    val (newSchema, newRetired) = f(schema, retired)
    val existing = instants.flatMap(_.getPath.getName match {
      case InstantRe(i, _) => Some(i)
      case _               => None
    })
    val width = existing.map(_.length).maxOption.getOrElse(14)
    val next = existing.map(BigInt(_)).maxOption.getOrElse(BigInt(0)) + 1
    val digits = next.toString
    require(digits.length <= width,
      s"instant $digits overflows the timeline's $width-char width at $root")
    val instant = ("0" * (width - digits.length)) + digits
    val em = Map(
      "graft-schema" -> newSchema.toDDL,
      "graft-schema-json" -> newSchema.json) ++
      (if (newRetired.nonEmpty) Map("graft-retired" -> retiredJson(newRetired))
       else Map.empty)
    val emJson = em.map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }
      .mkString("{", ", ", "}")
    val body = s"""{"extraMetadata": $emJson, "partitionToWriteStats": {}}"""
    val dst = new Path(tl, s"$instant.commit")
    if (!Publish(fs, dst, body, () => ())) {
      throw new IllegalStateException(
        s"schema $what lost the publish race at $dst — re-resolve and retry")
    }
    instant
  }

  /** Highest batch id the given streaming app has recorded in any
    * completed instant's `extraMetadata` — the replay-detection read
    * for [[graft.streaming.EventStreams.commitHudiBatchIdempotent]].
    * None for a fresh table or a foreign app.
    */
  def lastTxn(spark: org.apache.spark.sql.SparkSession, location: String,
      appId: String): Option[Long] = {
    val tl = new Path(s"${location.stripSuffix("/")}/.hoodie")
    val conf = org.apache.spark.sql.graft.Shim.classic(spark)
      .sparkContext.hadoopConfiguration
    val fs = tl.getFileSystem(conf)
    if (!fs.exists(tl)) return None
    // NEWEST instant first, stop at the app's first mark — steady-
    // state this is one read per micro-batch, not O(timeline)
    timelineMark(fs,
      fs.listStatus(tl).toSeq
        .filter(st => InstantRe.pattern.matcher(st.getPath.getName).matches()),
      appId)
  }
}
