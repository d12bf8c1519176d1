package graft.listing

import com.fasterxml.jackson.databind.{JsonNode => Json, ObjectMapper}
import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** Iceberg v2 snapshot WRITER — append-only commits readable by
  * [[IcebergSnapshotResolver]] (round-trip spec-proven) and by any
  * reader of the public spec (format-version 2, Avro manifests /
  * manifest lists, spec Appendix-D single-value bound serialization).
  * The Delta counterpart is [[DeltaLogWriter]]; together the engine
  * WRITES both major lakehouse formats, not just reads them.
  *
  * Each [[commit]]:
  *  1. writes the batch's parquet files under `data_s<seq>/`;
  *  2. reads back only their FOOTERS for per-file, per-column
  *     lower/upper bounds (little-endian per the spec) and null
  *     evidence — int/long/string/date/timestamptz columns only
  *     (float/double bounds are omitted: without NaN counts a
  *     written bound could unsoundly prune NaN rows);
  *  3. writes one manifest Avro for the batch and a manifest LIST
  *     that carries every previous live manifest plus the new one
  *     (append snapshot semantics);
  *  4. publishes `v<seq>.metadata.json` (previous snapshots + the
  *     new one, `last-sequence-number` = seq) via temp-file +
  *     atomic rename — a reader never sees a half commit, and data
  *     files without a published metadata json are invisible.
  */
/** Iceberg's bucket partition transform (spec Appendix B): 32-bit
  * Murmur3 (x86 variant, seed 0) of the value's canonical bytes —
  * int/long hash as 8 little-endian bytes (ints PROMOTE to long, so
  * `bucket(x: int)` == `bucket(x: long)` across type evolution),
  * strings as UTF-8 — then `(hash & Int.MaxValue) % N`. Implemented
  * from the public algorithm (Appleby's MurmurHash3, public domain)
  * so writer, pruner, and specs share one definition with no
  * dependence on any library's seed/variant choices.
  */
object IcebergBucket {
  def murmur3x86(bytes: Array[Byte], seed: Int = 0): Int = {
    val c1 = 0xcc9e2d51; val c2 = 0x1b873593
    var h = seed
    val n = bytes.length
    var i = 0
    while (i + 4 <= n) {
      var k = (bytes(i) & 0xff) | ((bytes(i + 1) & 0xff) << 8) |
        ((bytes(i + 2) & 0xff) << 16) | ((bytes(i + 3) & 0xff) << 24)
      k *= c1; k = Integer.rotateLeft(k, 15); k *= c2
      h ^= k; h = Integer.rotateLeft(h, 13); h = h * 5 + 0xe6546b64
      i += 4
    }
    var k = 0
    (n & 3) match {
      case 3 => k ^= (bytes(i + 2) & 0xff) << 16; k ^= (bytes(i + 1) & 0xff) << 8; k ^= bytes(i) & 0xff
      case 2 => k ^= (bytes(i + 1) & 0xff) << 8; k ^= bytes(i) & 0xff
      case 1 => k ^= bytes(i) & 0xff
      case _ => ()
    }
    if ((n & 3) != 0) { k *= c1; k = Integer.rotateLeft(k, 15); k *= c2; h ^= k }
    h ^= n
    h ^= h >>> 16; h *= 0x85ebca6b; h ^= h >>> 13; h *= 0xc2b2ae35; h ^= h >>> 16
    h
  }

  def hashLong(v: Long): Int = {
    val b = new Array[Byte](8)
    var i = 0
    while (i < 8) { b(i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
    murmur3x86(b)
  }

  def hashString(s: String): Int = murmur3x86(s.getBytes("UTF-8"))

  /** Bucket number of one value. Int/long/string only — the types the
    * engine's bucketed writer accepts.
    */
  def of(v: Any, n: Int): Int = {
    val h = v match {
      case l: Long               => hashLong(l)
      case i: Int                => hashLong(i.toLong)
      case i: java.lang.Integer  => hashLong(i.longValue())
      case l: java.lang.Long     => hashLong(l.longValue())
      case s: String             => hashString(s)
      case u: UTF8String         => hashString(u.toString)
      case other => throw new IllegalArgumentException(
        s"bucket transform supports int/long/string, got ${other.getClass.getName}")
    }
    (h & Int.MaxValue) % n
  }
}

/** Iceberg's truncate partition transform (spec §Partition
  * Transforms): integers truncate to `v - (((v % W) + W) % W)` (the
  * floor of the W-wide window, correct for negatives), strings to
  * their first W code points, so a value is always a UTF-8 prefix of
  * its source (a surrogate pair is never split). Unlike bucket,
  * truncate PRESERVES ORDER, so hidden-partition pruning can serve
  * range predicates, not just equality.
  */
object IcebergTruncate {
  def ofLong(v: Long, w: Int): Long = v - (((v % w) + w) % w)
  def ofString(s: String, w: Int): String =
    if (s.codePointCount(0, s.length) <= w) s else s.substring(0, s.offsetByCodePoints(0, w))
}

object IcebergWriter {
  private val mapper = new ObjectMapper()

  private val boundKv: Schema = SchemaBuilder.record("k_v").fields()
    .requiredInt("key").requiredBytes("value").endRecord()
  private val countKv: Schema = SchemaBuilder.record("k_c").fields()
    .requiredInt("key").requiredLong("value").endRecord()
  /** The data_file record; partitioned tables get the spec-required
    * `partition` record of union(null, T) identity values, whose
    * Avro shape depends on the partition columns — built per table.
    */
  private def dataFileSchema(partSchema: Option[Schema]): Schema = {
    val b = SchemaBuilder.record("iw_data_file").fields()
      .requiredString("file_path").requiredLong("file_size_in_bytes")
      .requiredLong("record_count") // spec-required; -1 = unknown
    val withPart = partSchema.fold(b)(ps => b.name("partition").`type`(ps).noDefault())
    withPart
      .name("lower_bounds").`type`().array().items(boundKv).noDefault()
      .name("upper_bounds").`type`().array().items(boundKv).noDefault()
      .name("null_value_counts").`type`().array().items(countKv).noDefault()
      .name("nan_value_counts").`type`().array().items(countKv).noDefault()
      .endRecord()
  }
  private def entrySchema(dataFileS: Schema): Schema =
    SchemaBuilder.record("manifest_entry").fields()
      .name("data_file").`type`(dataFileS).noDefault().endRecord()
  private val mlS: Schema = SchemaBuilder.record("manifest_file").fields()
    .requiredString("manifest_path").endRecord()

  /** Avro schema + value converter for one identity-partition
    * column. Kept to the types Hive-style path segments round-trip
    * exactly; anything else fails loudly rather than writing a
    * partition value the resolver would mis-decode.
    */
  private def partitionAvro(name: String, dt: DataType): (Schema, String => AnyRef) = {
    val (base, conv): (Schema, String => AnyRef) = dt match {
      case LongType    => (Schema.create(Schema.Type.LONG), s => java.lang.Long.valueOf(s))
      case IntegerType => (Schema.create(Schema.Type.INT), s => java.lang.Integer.valueOf(s))
      case StringType  => (Schema.create(Schema.Type.STRING), s => s)
      case other => throw new IllegalArgumentException(
        s"partition column $name: unsupported type ${other.simpleString} " +
          "(identity partitions support long/int/string)")
    }
    (Schema.createUnion(Schema.create(Schema.Type.NULL), base), conv)
  }

  /** Iceberg type string for a Spark type we write bounds for. */
  private def icebergType(dt: DataType): Option[String] = dt match {
    case LongType      => Some("long")
    case IntegerType   => Some("int")
    case StringType    => Some("string")
    case DateType      => Some("date")
    case TimestampType => Some("timestamptz")
    // Every reader-supported primitive must be a SCHEMA type: mapped
    // mode makes the published schema AUTHORITATIVE for reads
    // (GlueTableEngine mapped scan), so a type absent here would make
    // a table's boolean/decimal/... columns vanish from all reads
    // after any rename/drop (ADVICE r13 medium). BOUNDS for the types
    // below float stay unwritten — boundBytes returns None (NaN
    // soundness for float/double; no bound encoding for the rest).
    case DoubleType       => Some("double")
    case FloatType        => Some("float")
    case BooleanType      => Some("boolean")
    case BinaryType       => Some("binary")
    case TimestampNTZType => Some("timestamp")
    case d: DecimalType   => Some(s"decimal(${d.precision},${d.scale})")
    case _                => None // nested/complex: unsupported
  }

  /** One published schema column: field id, current LOGICAL name, the
    * PHYSICAL name the parquet files hold (the serialization this
    * engine gives Iceberg's `schema.name-mapping.default` concept —
    * these files carry no embedded field ids, so ids resolve through
    * a name mapping), and the Iceberg primitive type.
    */
  private final case class PubCol(id: Int, name: String, phys: String, tp: String)

  private def currentSchemaNode(meta: Json)
      : Option[Json] = {
    val elems = Option(meta.get("schemas")).toSeq
      .flatMap(_.elements().asScala.toSeq)
    Option(meta.get("current-schema-id")).map(_.asInt()) match {
      case Some(id) =>
        elems.find(e => Option(e.get("schema-id")).exists(_.asInt() == id))
          .orElse(elems.headOption)
      case None => elems.headOption
    }
  }

  private def pubColsOf(meta: Json): Seq[PubCol] =
    currentSchemaNode(meta).toSeq
      .flatMap(s => Option(s.get("fields")).toSeq.flatMap(_.elements().asScala.toSeq))
      .flatMap { f =>
        for {
          id <- Option(f.get("id")).map(_.asInt())
          nm <- Option(f.get("name")).map(_.asText())
          tp <- Option(f.get("type")).filter(_.isTextual).map(_.asText())
        } yield PubCol(id, nm,
          Option(f.get("physical")).filter(_.isTextual).map(_.asText()).getOrElse(nm), tp)
      }

  /** (logical name, physical name) of columns DROPPED from the schema
    * — a later re-add of the same name must bind to a FRESH physical
    * name or the dropped bytes resurrect out of the old files.
    */
  private def retiredOf(meta: Json): Seq[(String, String)] =
    Option(meta.get("retired-columns")).toSeq
      .flatMap(_.elements().asScala.toSeq)
      .flatMap { f =>
        for {
          nm <- Option(f.get("name")).map(_.asText())
          ph <- Option(f.get("physical")).map(_.asText())
        } yield (nm, ph)
      }

  private def mappedMode(meta: Json): Boolean =
    Option(meta.get("column-mapping")).exists(_.asText() == "name")

  private def lastColIdOf(meta: Json,
      pub: Seq[PubCol]): Int =
    math.max(Option(meta.get("last-column-id")).map(_.asInt()).getOrElse(0),
      if (pub.isEmpty) 0 else pub.map(_.id).max)

  /** Evolution-state keys every metadata publish must carry forward
    * (the schema itself travels in `schemas`): the id high-water mark,
    * the retired-column ledger, and the mapped-mode flag. Returns
    * either "" or a leading-comma JSON fragment.
    */
  private def evolutionCarryJson(lastColId: Int, retired: Seq[(String, String)],
      mapped: Boolean): String = {
    val retiredJson =
      if (retired.isEmpty) ""
      else s""", "retired-columns": ${retired.map { case (n, p) =>
        s"""{"name": ${mapper.writeValueAsString(n)}, "physical": ${mapper.writeValueAsString(p)}}"""
      }.mkString("[", ", ", "]")}"""
    val mappedJson = if (mapped) """, "column-mapping": "name"""" else ""
    s""", "last-column-id": $lastColId$retiredJson$mappedJson"""
  }

  /** Snapshot REFS (Iceberg spec v2 §refs): named pointers into the
    * snapshots array. Absent refs = main is the array's last element
    * (this writer's pre-refs behavior, still the common case); a
    * BRANCH commit appends its snapshot without moving `main`, which
    * is what makes write-audit-publish possible — the staged data is
    * invisible to every main reader until the fast-forward publish.
    */
  /** One ref: head snapshot id + (branches only) the MAIN id the
    * branch was staged from — the divergence guard
    * [[publishBranch]] checks before fast-forwarding.
    */
  private final case class Ref(id: Long, base: Option[Long])

  private def refsOf(meta: Json): Map[String, Ref] =
    Option(meta.get("refs")).toSeq.flatMap(_.properties().asScala.toSeq.flatMap { e =>
      Option(e.getValue.get("snapshot-id")).map(id => e.getKey ->
        Ref(id.asLong(), Option(e.getValue.get("base")).map(_.asLong())))
    }).toMap

  private def refsJson(refs: Map[String, Ref]): String =
    if (refs.isEmpty) ""
    else s""", "refs": ${refs.toSeq.sortBy(_._1).map { case (n, r) =>
      val base = r.base.map(b => s""", "base": $b""").getOrElse("")
      s"""${mapper.writeValueAsString(n)}: {"snapshot-id": ${r.id}$base}"""
    }.mkString("{", ", ", "}")}"""

  /** Refs after a snapshot-creating commit: the targeted ref moves to
    * `seq`; everything else carries. A branch commit PINS main where
    * it was (materializing it from array-last if refs didn't exist
    * yet — a branch needs a base to leave undisturbed).
    */
  private def refsVerbatim(prior: Json): String =
    Option(prior.get("refs"))
      .map(n => s""", "refs": ${mapper.writeValueAsString(n)}""").getOrElse("")

  private def refsAfterCommit(prior: Option[Json],
      seq: Long, branch: Option[String]): Map[String, Ref] = {
    val priorRefs = prior.map(refsOf).getOrElse(Map.empty[String, Ref])
    branch match {
      case Some(b) =>
        val mainId = priorRefs.get("main").map(_.id).orElse(prior.flatMap { n =>
          Option(n.get("snapshots")).toSeq.flatMap(_.elements().asScala.toSeq)
            .lastOption.flatMap(s => Option(s.get("snapshot-id")).map(_.asLong()))
        }).getOrElse(throw new IllegalArgumentException(
          s"branch $b needs an existing base snapshot"))
        // a chained branch commit keeps its ORIGINAL base — the
        // divergence check must compare against where staging began
        val base = priorRefs.get(b).flatMap(_.base).getOrElse(mainId)
        priorRefs ++ Map("main" -> Ref(mainId, None), b -> Ref(seq, Some(base)))
      case None if priorRefs.nonEmpty => priorRefs + ("main" -> Ref(seq, None))
      case None => Map.empty
    }
  }

  private def schemaFieldsJson(pub: Seq[PubCol]): String =
    pub.map { c =>
      val phys =
        if (c.phys != c.name) s""", "physical": ${mapper.writeValueAsString(c.phys)}"""
        else ""
      s"""{"id": ${c.id}, "name": ${mapper.writeValueAsString(c.name)}, "type": "${c.tp}"$phys}"""
    }.mkString("[", ", ", "]")

  private def boundBytes(tp: String, v: Any): Option[Array[Byte]] = {
    import java.nio.{ByteBuffer, ByteOrder}
    (tp, v) match {
      case ("long" | "timestamptz", l: Long) =>
        Some(ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(l).array())
      case ("int" | "date", i: Int) =>
        Some(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(i).array())
      case ("string", s: UTF8String) => Some(s.getBytes)
      case _ => None
    }
  }


  /** A batch's written-once artifacts: its data dir and the manifest
    * entries (with their Avro schema) describing the files in it.
    */
  private final case class Written(dataDir: String, entryS: Schema, entries: Seq[GenericRecord])

  private def hadoopConf(spark: SparkSession) =
    org.apache.spark.sql.graft.Shim.classic(spark).sparkContext.hadoopConfiguration

  /** `(root, metadata dir, its filesystem)` of the table at `location`. */
  private def metaDirOf(spark: SparkSession, location: String): (String, Path, FileSystem) = {
    val root = location.stripSuffix("/")
    val metaDir = new Path(s"$root/metadata")
    (root, metaDir, metaDir.getFileSystem(hadoopConf(spark)))
  }

  /** The newest metadata JSON; `what` names the commit that needs one. */
  private def headOf(fs: FileSystem, metaDir: Path, location: String, what: String): Json =
    IcebergSnapshotResolver.metadataAt(fs, metaDir, 0).getOrElse(throw new IllegalStateException(
      s"no Iceberg metadata at $location — $what needs an existing table"))

  /** The sequence number the next commit on top of `prior` publishes. */
  private def nextSeq(prior: Json): Long = prior.path("last-sequence-number").asLong(0L) + 1L

  private def snapshotsOf(prior: Json): Seq[Json] =
    Option(prior.get("snapshots")).toSeq.flatMap(_.elements().asScala.toSeq)

  /** The manifests of MAIN's head: with refs present, main's snapshot —
    * never a staged branch snapshot that happened to publish last.
    */
  private def mainManifests(fs: FileSystem, prior: Json): Seq[String] = {
    val all = snapshotsOf(prior)
    refsOf(prior).get("main").map(_.id)
      .flatMap(id => all.find(s => Option(s.get("snapshot-id")).exists(_.asLong() == id)))
      .orElse(all.lastOption)
      .flatMap(s => Option(s.get("manifest-list")).map(_.asText())).toSeq
      .flatMap(ml => readAvro(fs, new Path(ml)).map(_.get("manifest_path").toString))
  }

  /** `(name, type)` of the first schema's columns — what an exact-schema
    * batch must match.
    */
  private def declaredColumns(prior: Json): Seq[(String, String)] =
    Option(prior.get("schemas")).flatMap(_.elements().asScala.toSeq.headOption)
      .flatMap(s => Option(s.get("fields"))).toSeq
      .flatMap(_.elements().asScala.toSeq.flatMap { f =>
        for {
          nm <- Option(f.get("name")).map(_.asText())
          tp <- Option(f.get("type")).filter(_.isTextual).map(_.asText())
        } yield (nm, tp)
      })

  /** A metadata version that carries `prior`'s schemas, evolution state
    * and partition specs, with the given refs fragment and snapshots.
    */
  private def carried(prior: Json, seq: Long, refs: String, snapshots: Seq[String]): String = {
    val schemasJson = Option(prior.get("schemas")).map(mapper.writeValueAsString)
      .getOrElse("""[{"schema-id": 0, "fields": []}]""")
    val specsJson = Option(prior.get("partition-specs"))
      .map(n => s""",\n"partition-specs": ${mapper.writeValueAsString(n)}""").getOrElse("")
    s"""{"format-version": 2, "last-sequence-number": $seq${evolutionCarryJson(
          lastColIdOf(prior, pubColsOf(prior)), retiredOf(prior), mappedMode(prior))}$refs,
       |"current-schema-id": ${prior.path("current-schema-id").asInt(0)},
       |"schemas": $schemasJson$specsJson,
       |"snapshots": [${snapshots.mkString(", ")}]}""".stripMargin
  }

  /** The manifest entries of the parquet files a batch wrote under
    * `dir`: size, row count and column bounds from ONE footer read per
    * file, and the identity partition record parsed from its Hive `k=v`
    * path. Entry construction can fail after the data is written
    * (footer read, partition-value conversion): the dir is then
    * removed rather than left as orphan parquet.
    */
  private def manifestOf(spark: SparkSession, fs: FileSystem, dir: String, schema: StructType,
      partitionBy: Seq[String], pub: Seq[PubCol]): Written = try {
    val conf = hadoopConf(spark)
    val partCols = partitionBy.map { c =>
      val f = schema.find(_.name == c).getOrElse(throw new IllegalArgumentException(
        s"partition column $c not in the batch schema"))
      (c, partitionAvro(c, f.dataType))
    }
    val partSchemaOpt: Option[Schema] =
      if (partCols.isEmpty) None
      else Some {
        val b = SchemaBuilder.record("r102").fields()
        partCols.foldLeft(b) { case (acc, (c, (s, _))) =>
          acc.name(c).`type`(s).withDefault(null)
        }.endRecord()
      }
    val dataFileS = dataFileSchema(partSchemaOpt)
    val entryS = entrySchema(dataFileS)
    def walkParquet(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) walkParquet(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st)
        else Nil
      }
    val entries = walkParquet(new Path(dir)).sortBy(_.getPath.toString).map { st =>
      val (stats, nRows) = FooterStats.readWithCount(conf, st.getPath.toString)
      val d = new GenericData.Record(dataFileS)
      d.put("file_path", st.getPath.toString) // full URI: authority kept so object-store reads resolve
      d.put("file_size_in_bytes", st.getLen)
      d.put("record_count", nRows.getOrElse(-1L))
      partSchemaOpt.foreach { ps =>
        // k=v path segments -> typed identity values
        val segs = st.getPath.getParent.toUri.getPath.split('/')
          .filter(_.contains('=')).map { seg =>
            val Array(k, v) = seg.split("=", 2)
            k -> java.net.URLDecoder.decode(v, "UTF-8")
          }.toMap
        val pr = new GenericData.Record(ps)
        partCols.foreach { case (c, (_, conv)) =>
          // a null partition value writes the Hive sentinel segment:
          // store a real null in the manifest partition record, not
          // the sentinel literal (string) or a conv throw (int/long)
          segs.get(c).filter(_ != "__HIVE_DEFAULT_PARTITION__")
            .foreach(v => pr.put(c, conv(v)))
        }
        d.put("partition", pr)
      }
      val lows = new java.util.ArrayList[GenericRecord]()
      val highs = new java.util.ArrayList[GenericRecord]()
      val nulls = new java.util.ArrayList[GenericRecord]()
      pub.foreach { c =>
        // footer stats key on what the file holds: the PHYSICAL name
        stats.get(c.phys).foreach { r =>
          if (!r.allNulls)
            for (lo <- boundBytes(c.tp, r.min); hi <- boundBytes(c.tp, r.max)) {
              def kv(b: Array[Byte]) = {
                val k = new GenericData.Record(boundKv)
                k.put("key", c.id); k.put("value", java.nio.ByteBuffer.wrap(b)); k
              }
              lows.add(kv(lo)); highs.add(kv(hi))
            }
          if (r.noNulls) {
            val k = new GenericData.Record(countKv)
            k.put("key", c.id); k.put("value", 0L); nulls.add(k)
          }
        }
      }
      d.put("lower_bounds", lows); d.put("upper_bounds", highs)
      d.put("null_value_counts", nulls)
      d.put("nan_value_counts", new java.util.ArrayList[GenericRecord]())
      val e = new GenericData.Record(entryS)
      e.put("data_file", d)
      e
    }
    Written(dir, entryS, entries)
  } catch { case t: Throwable => fs.delete(new Path(dir), true); throw t }

  /** Append `df` as a new snapshot of the Iceberg table at
    * `location` (first commit creates the table). Returns the new
    * sequence number. The publish is a rename-CAS on the versioned
    * metadata file: losing the race on an APPEND re-reads the table
    * state and retries (a blind append is always reapplicable, like
    * Delta appends and Hudi insert-only commits), while a REWRITE
    * surfaces the conflict — its read-set (the file set it replaces)
    * may have been invalidated by the winner.
    */
  def commit(spark: SparkSession, location: String, df: org.apache.spark.sql.DataFrame,
      partitionBy: Seq[String] = Nil, rewriteAll: Boolean = false,
      summary: Map[String, String] = Map.empty,
      allowAdditive: Boolean = false,
      transforms: Map[String, (String, String)] = Map.empty,
      branch: Option[String] = None): Long =
    commitInternal(spark, location, df, partitionBy, rewriteAll, summary,
      txn = None, onBeforePublish = () => (), allowAdditive = allowAdditive,
      transforms = transforms, branch = branch)
      .getOrElse(throw new IllegalStateException(
        "unreachable: only txn commits recognize replays"))

  /** [[commit]] with an (appId, batchId) txn mark folded into the
    * ATOMIC publish — exactly-once that survives CONCURRENT replaying
    * writers, matching the Delta sink's guarantee (where the mark
    * rides inside the atomically-renamed commit file). The replay
    * check parses the SAME metadata read the new sequence number
    * derives from, and the rename-CAS publish validates that read: a
    * writer that loses the race re-reads, re-checks the mark, and
    * either aborts as a recognized replay (returns None, deleting its
    * never-published files) or retries its append against the new
    * state. Any interleaving of two writers replaying the same batch
    * therefore appends it exactly once — spec-proven in StreamingSpec
    * via `onBeforePublish`, a test-injection point that fires between
    * the mark check and the CAS.
    */
  def commitTxn(spark: SparkSession, location: String, df: org.apache.spark.sql.DataFrame,
      appId: String, batchId: Long, partitionBy: Seq[String] = Nil,
      onBeforePublish: () => Unit = () => (),
      branch: Option[String] = None): Option[Long] =
    commitInternal(spark, location, df, partitionBy, rewriteAll = false,
      summary = Map("graft-txn-app" -> appId, "graft-txn-batch" -> batchId.toString),
      txn = Some((appId, batchId)), onBeforePublish = onBeforePublish,
      branch = branch)

  private def commitInternal(spark: SparkSession, location: String,
      df: org.apache.spark.sql.DataFrame, partitionBy: Seq[String],
      rewriteAll: Boolean, summary: Map[String, String],
      txn: Option[(String, Long)], onBeforePublish: () => Unit,
      allowAdditive: Boolean = false,
      transforms: Map[String, (String, String)] = Map.empty,
      branch: Option[String] = None): Option[Long] = {
    val (root, metaDir, fs) = metaDirOf(spark, location)
    fs.mkdirs(metaDir)
    // unique per commit CALL: two writers racing the same sequence
    // number must never share (and overwrite) a data dir, manifest,
    // or manifest list — only the published metadata decides whose
    // files join the table
    val token = java.util.UUID.randomUUID().toString.take(8)

    // field ids by schema position (stable across appends with the
    // same schema — the caller's contract, as in Iceberg itself).
    // HIDDEN partition columns (non-identity transforms, e.g. the
    // engine-computed bucket value) are NOT table columns: they are
    // excluded from the schema/ids and must TRAIL the data columns so
    // the positional ids of real columns never shift.
    val hidden = transforms.keySet
    require(df.schema.fields.map(_.name).filter(hidden.contains).toSet == hidden,
      s"transform fields ${hidden.mkString(",")} must be present in the batch")
    require(df.schema.fields.dropWhile(f => !hidden.contains(f.name))
        .forall(f => hidden.contains(f.name)),
      "hidden (transform) partition columns must trail every data column")
    val idFields = df.schema.fields.filterNot(f => hidden.contains(f.name))
      .zipWithIndex.flatMap { case (f, i) =>
        icebergType(f.dataType).map(tp => (i + 1, f.name, tp))
      }

    // data files + their manifest entries are written ONCE, by the
    // first attempt that passes the replay check; retried publishes
    // reuse them (the manifest, its list and the metadata json bind to
    // the re-read prior state's sequence number)
    var written: Option[Written] = None

    var attempt = 0
    while (attempt < 5) {
      val prior = IcebergSnapshotResolver.metadataAt(fs, metaDir, 0)
      // replay check against the SAME read `seq` derives from — the
      // CAS below validates that read, so a mark published by a
      // racing winner is seen here on the retry and never
      // double-appended
      val replay = txn.exists { case (appId, batchId) =>
        txnMarks(prior, appId).exists(_ >= batchId)
      }
      if (replay) {
        // a racing writer committed this batch: drop this call's
        // never-published files (readers resolve through metadata
        // and cannot see them; deleting just skips the expiry wait)
        written.foreach(w => fs.delete(new Path(w.dataDir), true))
        return None
      }
      val seq = prior.fold(1L)(nextSeq)
      val out = commitAttempt(spark, fs, root, metaDir, df, partitionBy,
        rewriteAll, summary, token, prior, seq, idFields,
        written, onBeforePublish, transforms, allowAdditive, branch)
      out match {
        case Right(published) => return Some(published)
        case Left(w) =>
          written = Some(w)
          if (rewriteAll)
            throw new IllegalStateException(
              s"snapshot $seq already published at $root — this rewrite's " +
                "read-set may be invalid; re-resolve and retry")
      }
      attempt += 1
    }
    throw new IllegalStateException(
      s"could not publish to $root after 5 attempts (persistent publish races)")
  }

  /** One publish attempt against one observed prior state. Returns
    * Right(seq) on success; Left(written) when the rename-CAS lost
    * (the written-once data and manifest entries carry to the retry).
    */
  private def commitAttempt(spark: SparkSession, fs: FileSystem,
      root: String, metaDir: Path, df: org.apache.spark.sql.DataFrame,
      partitionBy: Seq[String], rewriteAll: Boolean, summary: Map[String, String],
      token: String, prior: Option[Json], seq: Long,
      idFields: Array[(Int, String, String)],
      written0: Option[Written],
      onBeforePublish: () => Unit,
      transforms: Map[String, (String, String)],
      allowAdditive: Boolean, branch: Option[String]): Either[Written, Long] = {
    val priorSnapshots = prior.toSeq.flatMap(snapshotsOf).map(mapper.writeValueAsString)
    val priorRefs: Map[String, Ref] = prior.map(refsOf).getOrElse(Map.empty[String, Ref])
    // BASE snapshot this commit extends: the targeted ref's head when
    // refs exist (a main append must never absorb an unpublished
    // audit branch's manifests, and a second branch commit chains on
    // the branch, not on whatever published last); array-last
    // otherwise — the pre-refs behavior.
    val priorManifests: Seq[String] = prior.toSeq.flatMap { n =>
      val all = snapshotsOf(n)
      val baseId = priorRefs.get(branch.getOrElse("main")).map(_.id)
        .orElse(if (branch.isDefined) priorRefs.get("main").map(_.id) else None)
      val base = baseId match {
        case Some(id) =>
          all.find(s => Option(s.get("snapshot-id")).exists(_.asLong() == id))
        case None => all.lastOption
      }
      base.flatMap(s => Option(s.get("manifest-list")).map(_.asText())).toSeq
        .flatMap(ml => readAvro(fs, new Path(ml))
          .map(r => r.get("manifest_path").toString))
    }

    // ids are POSITIONAL, so an appended batch whose columns are
    // reordered, renamed, or retyped would silently bind manifest
    // bounds to the wrong field ids — enforce exact-schema appends
    // loudly instead (schema evolution is a metadata operation, not
    // an accidental batch shape)
    prior.foreach { n =>
      val declared = declaredColumns(n)
      val mine = idFields.map { case (_, nm, tp) => (nm, tp) }.toSeq
      // ADDITIVE evolution (opt-in): appending columns at the END
      // keeps every existing positional field id stable, so the new
      // schema may extend the declared one as a strict prefix — the
      // published metadata then carries the evolved schema, and the
      // reader's metadata-schema extension surfaces the new columns
      // as nulls in pre-evolution files. Anything else (reorder,
      // retype, drop, insert) still fails loudly.
      val additive = allowAdditive && mine.size > declared.size &&
        mine.take(declared.size) == declared
      if (declared.nonEmpty && declared != mine && !additive)
        throw new IllegalArgumentException(
          s"append schema mismatch for Iceberg table at $root: table declares " +
            s"${declared.map { case (a, b) => s"$a:$b" }.mkString("[", ", ", "]")}, batch has " +
            s"${mine.map { case (a, b) => s"$a:$b" }.mkString("[", ", ", "]")}")
    }

    // the partition SPEC must be stable across appends — values
    // bind by field name in the partition record
    prior.foreach { n =>
      val declaredSpec = Option(n.get("partition-specs")).toSeq
        .flatMap(_.elements().asScala.toSeq.headOption)
        .flatMap(s => Option(s.get("fields")).toSeq.flatMap(_.elements().asScala.toSeq
          .flatMap(f => Option(f.get("name")).map(_.asText()))))
      if (declaredSpec != partitionBy)
        throw new IllegalArgumentException(
          s"partition spec mismatch for Iceberg table at $root: table declares " +
            s"${declaredSpec.mkString("[", ",", "]")}, batch uses ${partitionBy.mkString("[", ",", "]")}")
    }
    // Published columns: bind ids by NAME against the prior current
    // schema (positional binding breaks the moment a drop leaves a
    // hole in the id space), allocating fresh ids past the table's
    // id high-water mark for additive columns. A re-added name whose
    // physical name was ever used (live or retired) gets a FRESH
    // physical name — the resurrection guard, same rule as Delta
    // column mapping.
    val retired: Seq[(String, String)] = prior.toSeq.flatMap(retiredOf)
    val mapped: Boolean = prior.exists(mappedMode)
    val pub: Seq[PubCol] = prior.map(pubColsOf).filter(_.nonEmpty) match {
      case Some(pp) =>
        val byName = pp.map(c => c.name -> c).toMap
        var nextId = lastColIdOf(prior.get, pp)
        val takenPhys = pp.map(_.phys).toSet ++ retired.map(_._2)
        idFields.toSeq.map { case (_, nm, tp) =>
          byName.get(nm) match {
            case Some(c) => c
            case None => // additive trailing column (validated above)
              nextId += 1
              PubCol(nextId, nm, if (takenPhys(nm)) s"${nm}_$nextId" else nm, tp)
          }
        }
      case None => idFields.toSeq.map { case (id, nm, tp) => PubCol(id, nm, nm, tp) }
    }
    val lastColId = math.max(
      prior.map(p => lastColIdOf(p, pub)).getOrElse(0),
      if (pub.isEmpty) 0 else pub.map(_.id).max)
    // files hold PHYSICAL names — one SELECT with aliases, never
    // chained withColumnRenamed: sequential renames are order-
    // dependent when a physical name collides with a still-unrenamed
    // batch column (after rename a->b the batch re-adds 'a': renaming
    // b->'a' first would make the later 'a'->'a_N' rename hit BOTH
    // columns; ADVICE r13 medium)
    val physByName = pub.map(c => c.name -> c.phys).toMap
    val physDf = df.select(df.schema.fields.map { f =>
      df.col("`" + f.name + "`").as(physByName.getOrElse(f.name, f.name))
    }.toSeq: _*)
    // 1. data files (Hive k=v layout under the snapshot dir when
    // partitioned; the identity values ALSO go into each data_file's
    // spec-required partition record, which is what the resolver and
    // the planner prune on) and their manifest entries — written ONCE
    // per commit call; a lost-CAS retry reuses them (the entries bind
    // only to the data, never to the prior state)
    val written = written0.getOrElse {
      val dd = s"$root/data_s${seq}_$token"
      val w0 = physDf.write.mode("overwrite")
      (if (partitionBy.nonEmpty) w0.partitionBy(partitionBy: _*) else w0).parquet(dd)
      manifestOf(spark, fs, dd, df.schema, partitionBy, pub)
    }
    // 2+3. the batch's manifest, named for THIS attempt: the trailing
    // `_s<seq>` scopes equality deletes against it (a retry publishes
    // at a later sequence number), and the token before it keeps a
    // racing writer from overwriting it
    val manifestPath = s"$root/metadata/manifest_${token}_s$seq.avro"
    writeAvro(fs, new Path(manifestPath), written.entryS, written.entries)
    // the manifest LIST binds to the observed prior state, so each
    // attempt writes its own (token-unique: a racing writer must
    // never overwrite the list a published snapshot references)
    val mlPath = s"$root/metadata/ml_s${seq}_$token.avro"
    // a REWRITE snapshot (compaction / MOR-delete application)
    // replaces the whole live set: its manifest list carries ONLY
    // the new manifest, so retired data and delete files simply stop
    // being referenced — earlier snapshots still time-travel through
    // their own metadata versions, and expireIcebergSnapshots later
    // reclaims the physical files
    val mlManifests = if (rewriteAll) Seq(manifestPath) else priorManifests :+ manifestPath
    writeAvro(fs, new Path(mlPath), mlS, mlManifests.map { mp =>
      val r = new GenericData.Record(mlS)
      r.put("manifest_path", mp)
      r
    })

    // 4. publish atomically
    val schemaJson = schemaFieldsJson(pub)
    // spec snapshot `summary` (operation + caller extras) — the
    // standard place a streaming sink records its (appId, batchId)
    // txn high-water mark for exactly-once replay detection
    val summaryJson =
      (Map("operation" -> (if (rewriteAll) "replace" else "append")) ++ summary)
        .map { case (k, v) =>
          s"${mapper.writeValueAsString(k)}: ${mapper.writeValueAsString(v)}"
        }.mkString("{", ", ", "}")
    val snapJson = s"""{"snapshot-id": $seq, "manifest-list": ${mapper.writeValueAsString(mlPath)}, "summary": $summaryJson}"""
    val idByName = pub.map(c => c.name -> c.id).toMap
    val specJson = partitionBy.zipWithIndex.map { case (c, i) =>
      // non-identity transforms (bucket[N]) name their SOURCE column:
      // the spec field is hidden metadata, the source is a real column
      val (tr, srcId) = transforms.get(c) match {
        case Some((t, src)) => (t, idByName.getOrElse(src,
          throw new IllegalArgumentException(
            s"transform source column $src not in the table schema")))
        case None => ("identity", idByName.getOrElse(c, -1))
      }
      s"""{"name": ${mapper.writeValueAsString(c)}, "transform": "$tr", """ +
        s""""source-id": $srcId, "field-id": ${1000 + i}}"""
    }.mkString("[", ", ", "]")
    val body =
      s"""{"format-version": 2, "last-sequence-number": $seq${evolutionCarryJson(lastColId, retired, mapped)}${refsJson(
            refsAfterCommit(prior, seq, branch))},
         |"current-schema-id": 0,
         |"schemas": [{"schema-id": 0, "fields": $schemaJson}],
         |"partition-specs": [{"spec-id": 0, "fields": $specJson}],
         |"snapshots": [${(priorSnapshots :+ snapJson).mkString(", ")}]}""".stripMargin
    val dst = new Path(metaDir, s"v$seq.metadata.json")
    if (Publish(fs, dst, body, onBeforePublish)) Right(seq)
    else {
      // lost the CAS: another writer published v$seq first — drop
      // this attempt's manifest + manifest list and report the
      // written-once artifacts back for the retry
      fs.delete(new Path(manifestPath), false)
      fs.delete(new Path(mlPath), false)
      Left(written)
    }
  }

  /** ROLLBACK the table to an earlier snapshot as a NEW snapshot
    * (Iceberg's `rollback_to_snapshot` shape, expressed in this
    * writer's append-only metadata model): the published snapshot's
    * manifest-list IS the target snapshot's — the rolled-back file
    * set becomes current again without rewriting, re-listing, or even
    * re-reading any manifest. Earlier snapshots (including the one
    * being rolled back) still time-travel through the preserved
    * snapshots array, and `expireIcebergSnapshots` reclaims orphaned
    * data later, exactly like any replace. Schemas and partition
    * specs carry over verbatim from the current metadata. The
    * snapshot summary records `operation: rollback` plus the target
    * snapshot id, the observability hook a real pipeline audits.
    *
    * `snapshotOffset` counts back from the current snapshot (the g7
    * time-travel convention): offset 1 reinstates the state just
    * before the last commit. Pure metadata: one JSON read, one
    * atomic JSON publish.
    */
  def rollback(spark: SparkSession, location: String, snapshotOffset: Int): Long = {
    require(snapshotOffset > 0, s"rollback needs a positive offset, got $snapshotOffset")
    val (_, metaDir, fs) = metaDirOf(spark, location)
    val prior = headOf(fs, metaDir, location, "rollback")
    val seq = nextSeq(prior)
    val snaps = snapshotsOf(prior)
    require(snapshotOffset < snaps.size,
      s"cannot rollback $location: offset $snapshotOffset outside ${snaps.size} snapshots")
    val target = snaps(snaps.size - 1 - snapshotOffset)
    val targetId = target.get("snapshot-id").asLong()
    val targetMl = target.get("manifest-list").asText()
    val snapJson =
      s"""{"snapshot-id": $seq, "manifest-list": ${mapper.writeValueAsString(targetMl)}, """ +
        s""""summary": {"operation": "rollback", "rolled-back-to": "$targetId"}}"""
    val body = carried(prior, seq, refsJson(refsAfterCommit(Some(prior), seq, None)),
      snaps.map(mapper.writeValueAsString) :+ snapJson)
    val dst = new Path(metaDir, s"v$seq.metadata.json")
    if (!Publish(fs, dst, body, () => ()))
      throw new IllegalStateException(s"rollback lost the publish race at $dst — re-resolve and retry")
    seq
  }

  /** RENAME a column as a METADATA-ONLY commit — zero files rewritten
    * however large the table. Iceberg resolves columns by FIELD ID, so
    * a rename only changes the id's display name; because this
    * writer's parquet files carry no embedded ids, the binding
    * survives through the field's `physical` name (the serialization
    * of Iceberg's `schema.name-mapping.default`): files keep holding
    * the original physical column, readers scan physical and project
    * to the new logical name, and later appends write logical batches
    * back under the fixed physical names. Partition/transform-source
    * columns are rejected (their names are baked into file layout and
    * spec records). Returns the new sequence number.
    */
  def renameColumn(spark: SparkSession, location: String,
      oldName: String, newName: String): Long =
    evolveSchema(spark, location, "rename") { (pub, retired) =>
      require(pub.exists(_.name == oldName),
        s"cannot rename $oldName at $location: no such column")
      require(!pub.exists(_.name == newName) && !retired.exists(_._1 == newName),
        s"cannot rename $oldName to $newName at $location: name already in use")
      (pub.map(c => if (c.name == oldName) c.copy(name = newName) else c), retired)
    }

  /** DROP a column as a METADATA-ONLY commit: the field leaves the
    * current schema (readers stop projecting it; the bytes stay in
    * the files and history still time-travels to the pre-drop
    * metadata), and its (name, physical) pair joins the RETIRED
    * ledger so a later re-add of the same name binds to a FRESH
    * physical column instead of resurrecting the dropped bytes —
    * the exact hazard [[DeltaLogWriter.dropColumn]] guards with
    * fresh physical names. Returns the new sequence number.
    */
  def dropColumn(spark: SparkSession, location: String, name: String): Long =
    evolveSchema(spark, location, "drop") { (pub, retired) =>
      val victim = pub.find(_.name == name).getOrElse(throw new IllegalArgumentException(
        s"cannot drop $name at $location: no such column"))
      require(pub.size > 1, s"cannot drop $name at $location: it is the only column")
      (pub.filterNot(_.name == name), retired :+ (victim.name, victim.phys))
    }

  /** TAG the current main snapshot — an immutable named ref (spec v2
    * tags): later commits move main past it while the tag keeps
    * naming the exact snapshot, giving pipelines an auditable,
    * human-named restore/compare point (`v1-training-cut`) that
    * survives any number of subsequent writes. Metadata-only; reads
    * resolve through [[IcebergSnapshotResolver.dataFilesForRef]].
    * Returns the tagged snapshot id.
    */
  def tagSnapshot(spark: SparkSession, location: String, tag: String): Long = {
    require(tag != "main", "main is not a taggable name")
    val (_, metaDir, fs) = metaDirOf(spark, location)
    val prior = headOf(fs, metaDir, location, "tagging")
    val refs = refsOf(prior)
    require(!refs.contains(tag), s"ref $tag already exists at $location")
    val mainId = refs.get("main").map(_.id).orElse {
      snapshotsOf(prior).lastOption.flatMap(s => Option(s.get("snapshot-id")).map(_.asLong()))
    }.getOrElse(throw new IllegalStateException(
      s"cannot tag $location: table has no snapshots"))
    val newRefs = refs ++ Map("main" -> Ref(mainId, None), tag -> Ref(mainId, None))
    val seq = nextSeq(prior)
    val body = carried(prior, seq, refsJson(newRefs), snapshotsOf(prior).map(mapper.writeValueAsString))
    val dst = new Path(metaDir, s"v$seq.metadata.json")
    if (!Publish(fs, dst, body, () => ()))
      throw new IllegalStateException(s"tag lost the publish race at $dst — re-resolve and retry")
    mainId
  }

  /** DROP a named ref (tag or staged branch) — a new metadata version
    * with the ref removed; snapshots array untouched, zero data
    * movement. This is ALSO the documented recovery path for a
    * DANGLING ref (ADVICE r14): [[IcebergSnapshotResolver
    * .refReachableFiles]] fails loudly when any named ref points at a
    * snapshot the current metadata no longer lists (hand-edited
    * metadata, an older writer), which makes every subsequent expiry
    * run fail — dropping the dangling ref is the supported way for an
    * operator to repair the table and let maintenance proceed.
    * Returns the new sequence number.
    */
  def dropRef(spark: SparkSession, location: String, name: String): Long = {
    require(name != "main", "main is not a droppable ref")
    val (_, metaDir, fs) = metaDirOf(spark, location)
    val prior = headOf(fs, metaDir, location, "dropping a ref")
    val refs = refsOf(prior)
    require(refs.contains(name), s"ref $name does not exist at $location")
    val newRefs = refs - name
    val seq = nextSeq(prior)
    val body = carried(prior, seq, refsJson(newRefs), snapshotsOf(prior).map(mapper.writeValueAsString))
    val dst = new Path(metaDir, s"v$seq.metadata.json")
    if (!Publish(fs, dst, body, () => ()))
      throw new IllegalStateException(s"dropRef lost the publish race at $dst — re-resolve and retry")
    seq
  }

  /** PUBLISH a staged branch — the write-audit-publish endgame: a
    * metadata-only FAST-FORWARD of `main` to the branch's head (the
    * staged snapshots become visible to every main reader atomically)
    * and retirement of the branch ref. Zero data movement; the
    * snapshots array is untouched, so the pre-publish main state
    * still time-travels through earlier metadata versions. Returns
    * the new sequence number.
    */
  def publishBranch(spark: SparkSession, location: String, branchName: String): Long = {
    require(branchName != "main", "main is not a publishable branch")
    val (_, metaDir, fs) = metaDirOf(spark, location)
    val prior = headOf(fs, metaDir, location, "publish")
    val refs = refsOf(prior)
    val head = refs.getOrElse(branchName, throw new IllegalArgumentException(
      s"no branch $branchName at $location (refs: ${refs.keys.mkString(", ")})"))
    // DIVERGENCE guard: a fast-forward is only sound when main still
    // sits where staging began — the branch's manifest list extends
    // that exact state, so publishing over a moved main would
    // silently drop main's newer snapshots. Real Iceberg refuses the
    // same way (fast_forward requires an ancestor); re-stage on the
    // current main instead.
    val mainId = refs.get("main").map(_.id)
    head.base.foreach { b =>
      require(mainId.contains(b),
        s"cannot fast-forward: main moved from $b to ${mainId.getOrElse("?")} " +
          s"since $branchName was staged at $location — re-stage on the current main")
    }
    val newRefs = (refs - branchName) + ("main" -> Ref(head.id, None))
    val seq = nextSeq(prior)
    val body = carried(prior, seq, refsJson(newRefs), snapshotsOf(prior).map(mapper.writeValueAsString))
    val dst = new Path(metaDir, s"v$seq.metadata.json")
    if (!Publish(fs, dst, body, () => ()))
      throw new IllegalStateException(s"publish lost the race at $dst — re-resolve and retry")
    seq
  }

  /** EVOLVE the partition spec as a METADATA-ONLY commit — Iceberg's
    * signature layout feature (spec v2 §Partition Evolution): specs
    * are versioned metadata, never a data rewrite. Existing files
    * keep their old layout and, carrying no value for the new spec
    * fields, are simply never pruned by them (the engine's
    * keep-on-unknown rule keeps them sound); files appended AFTER the
    * evolution land partitioned under the new spec and prune.
    * `fields` are `(specFieldName, transform, sourceColumnName)`.
    * Returns the new sequence number.
    */
  def updateSpec(spark: SparkSession, location: String,
      fields: Seq[(String, String, String)]): Long = {
    require(fields.nonEmpty, "updateSpec needs at least one spec field")
    val (_, metaDir, fs) = metaDirOf(spark, location)
    val prior = headOf(fs, metaDir, location, "spec evolution")
    val pub = pubColsOf(prior)
    val idByName = pub.map(c => c.name -> c.id).toMap
    // Partition evolution ADDS fields: the prior spec's fields carry
    // forward ahead of the new ones (Iceberg's addField shape), so a
    // table partitioned by an identity key that adopts a hidden
    // transform keeps BOTH dimensions — appends keep landing under
    // the identity key and new files additionally carry the transform
    // value. Dropping the prior fields would silently flip appends to
    // the new field alone, leaving post-evolution files without the
    // catalog key's partition record.
    val carried = Option(prior.get("partition-specs")).toSeq
      .flatMap(_.elements().asScala.toSeq.headOption)
      .flatMap(s => Option(s.get("fields")).toSeq.flatMap(_.elements().asScala.toSeq))
      .flatMap { f =>
        for {
          nm <- Option(f.get("name")).map(_.asText())
          tr <- Option(f.get("transform")).map(_.asText())
          sid <- Option(f.get("source-id")).map(_.asInt())
        } yield (nm, tr, sid)
      }
    val carriedNames = carried.map(_._1).toSet
    val added = fields.map { case (nm, tr, src) =>
      require(!carriedNames.contains(nm),
        s"spec field $nm already exists in the partition spec at $location")
      val sid = idByName.getOrElse(src, throw new IllegalArgumentException(
        s"spec source column $src not in the table schema at $location"))
      (nm, tr, sid)
    }
    val specJson = (carried ++ added).zipWithIndex.map { case ((nm, tr, sid), i) =>
      s"""{"name": ${mapper.writeValueAsString(nm)}, "transform": "$tr", """ +
        s""""source-id": $sid, "field-id": ${1000 + i}}"""
    }.mkString("[", ", ", "]")
    val seq = nextSeq(prior)
    val schemasJson = Option(prior.get("schemas")).map(mapper.writeValueAsString)
      .getOrElse("""[{"schema-id": 0, "fields": []}]""")
    val body =
      s"""{"format-version": 2, "last-sequence-number": $seq${evolutionCarryJson(
            lastColIdOf(prior, pub), retiredOf(prior), mappedMode(prior))}${refsVerbatim(prior)},
         |"current-schema-id": ${prior.path("current-schema-id").asInt(0)},
         |"schemas": $schemasJson,
         |"partition-specs": [{"spec-id": 0, "fields": $specJson}],
         |"snapshots": [${snapshotsOf(prior).map(mapper.writeValueAsString).mkString(", ")}]}""".stripMargin
    val dst = new Path(metaDir, s"v$seq.metadata.json")
    if (!Publish(fs, dst, body, () => ()))
      throw new IllegalStateException(s"spec evolution lost the publish race at $dst — re-resolve and retry")
    seq
  }

  /** Shared schema-evolution publish: read the latest metadata, let
    * `f` rewrite (current columns, retired ledger), publish a new
    * metadata version with the SAME snapshots/specs at the next
    * sequence number (rename-CAS, like every other commit), mapped
    * mode ON from the first evolution onward.
    */
  private def evolveSchema(spark: SparkSession, location: String, what: String)(
      f: (Seq[PubCol], Seq[(String, String)]) => (Seq[PubCol], Seq[(String, String)])): Long = {
    val (_, metaDir, fs) = metaDirOf(spark, location)
    val prior = headOf(fs, metaDir, location, s"schema $what")
    val pub = pubColsOf(prior)
    require(pub.nonEmpty, s"schema $what at $location: table metadata carries no schema")
    // partition and transform-source columns are structural: their
    // names live in file paths, partition records, and spec fields
    val specFields = Option(prior.get("partition-specs")).toSeq
      .flatMap(_.elements().asScala.toSeq)
      .flatMap(s => Option(s.get("fields")).toSeq.flatMap(_.elements().asScala.toSeq))
    val protectedIds = specFields.flatMap(f => Option(f.get("source-id")).map(_.asInt())).toSet
    val protectedNames = specFields.flatMap(f => Option(f.get("name")).map(_.asText())).toSet
    val (newPub, newRetired) = f(pub, retiredOf(prior))
    val touched = (pub.toSet -- newPub.toSet).map(_.id) ++
      (newPub.toSet -- pub.toSet).map(_.id)
    touched.foreach { id =>
      val c = pub.find(_.id == id).getOrElse(
        throw new IllegalStateException(s"schema $what invented field id $id"))
      require(!protectedIds.contains(id) && !protectedNames.contains(c.name),
        s"cannot $what ${c.name} at $location: it is a partition/transform-source column")
    }
    val seq = nextSeq(prior)
    val specsJson = Option(prior.get("partition-specs"))
      .map(n => s""",\n"partition-specs": ${mapper.writeValueAsString(n)}""").getOrElse("")
    val body =
      s"""{"format-version": 2, "last-sequence-number": $seq${evolutionCarryJson(
            lastColIdOf(prior, pub), newRetired, mapped = true)}${refsVerbatim(prior)},
         |"current-schema-id": 0,
         |"schemas": [{"schema-id": 0, "fields": ${schemaFieldsJson(newPub)}}]$specsJson,
         |"snapshots": [${snapshotsOf(prior).map(mapper.writeValueAsString).mkString(", ")}]}""".stripMargin
    val dst = new Path(metaDir, s"v$seq.metadata.json")
    if (!Publish(fs, dst, body, () => ()))
      throw new IllegalStateException(s"schema $what lost the publish race at $dst — re-resolve and retry")
    seq
  }

  private val delFileS: Schema = SchemaBuilder.record("iw_delete_file").fields()
    .requiredString("file_path").requiredLong("file_size_in_bytes")
    .requiredInt("content")
    .name("equality_ids").`type`().nullable().array().items().intType().noDefault()
    .endRecord()
  private val delEntryS: Schema = SchemaBuilder.record("manifest_entry").fields()
    .name("data_file").`type`(delFileS).noDefault().endRecord()

  /** Publish already-written DELETE files as a new snapshot — the
    * write half of merge-on-read: deletion cost is the delete files
    * themselves, NO data file rewrites anywhere. `deleteFiles` are
    * (absolute parquet path, content) with content 1 = position
    * deletes (`file_path`,`pos` rows) or 2 = equality deletes whose
    * `equalityCols` name the matched columns (resolved to field ids
    * through the CURRENT schema). Returns the new sequence number.
    */
  def commitDeletes(spark: SparkSession, location: String,
      deleteFiles: Seq[(String, Int, Seq[String])]): Long = {
    require(deleteFiles.nonEmpty, "commitDeletes needs at least one delete file")
    val (root, metaDir, fs) = metaDirOf(spark, location)
    val prior = headOf(fs, metaDir, location, "commitDeletes")
    val seq = nextSeq(prior)
    // token-unique: a racing writer of the same seq must never
    // overwrite the manifests the winner's snapshot references
    val token = java.util.UUID.randomUUID().toString.take(8)
    // field ids come from the CURRENT schema (same position rule as commit)
    val idByName: Map[String, Int] = Option(prior.get("schemas")).toSeq.flatMap { arr =>
      arr.elements().asScala.toSeq.flatMap { sch =>
        Option(sch.get("fields")).toSeq.flatMap(_.elements().asScala.toSeq.flatMap { f =>
          for (id <- Option(f.get("id")); nm <- Option(f.get("name")))
            yield nm.asText() -> id.asInt()
        })
      }
    }.toMap
    val entries = deleteFiles.map { case (path, content, eqCols) =>
      val d = new GenericData.Record(delFileS)
      d.put("file_path", new Path(path).toString)
      d.put("file_size_in_bytes", fs.getFileStatus(new Path(path)).getLen)
      d.put("content", content)
      d.put("equality_ids",
        if (eqCols.isEmpty) null
        else java.util.List.of(eqCols.map(c => java.lang.Integer.valueOf(
          idByName.getOrElse(c, throw new IllegalArgumentException(
            s"equality column $c not in the table schema")))): _*))
      val e = new GenericData.Record(delEntryS)
      e.put("data_file", d)
      e
    }
    val manifestPath = s"$root/metadata/manifest_del${token}_s$seq.avro"
    writeAvro(fs, new Path(manifestPath), delEntryS, entries)
    // deletes target MAIN's head
    val mlPath = s"$root/metadata/ml_s${seq}_$token.avro"
    writeAvro(fs, new Path(mlPath), mlS, (mainManifests(fs, prior) :+ manifestPath).map { mp =>
      val r = new GenericData.Record(mlS)
      r.put("manifest_path", mp)
      r
    })
    val snapJson = s"""{"snapshot-id": $seq, "manifest-list": ${mapper.writeValueAsString(mlPath)}}"""
    // carries the partition spec: a MOR delete must not strip the
    // table's layout metadata (hidden-transform pruning and the
    // append-time spec-stability check both read the CURRENT json)
    val body = carried(prior, seq, refsJson(refsAfterCommit(Some(prior), seq, None)),
      snapshotsOf(prior).map(mapper.writeValueAsString) :+ snapJson)
    val dst = new Path(metaDir, s"v$seq.metadata.json")
    if (!Publish(fs, dst, body, () => ())) {
      fs.delete(new Path(manifestPath), false)
      fs.delete(new Path(mlPath), false)
      throw new IllegalStateException(s"snapshot $seq already published at $dst")
    }
    seq
  }

  /** ONE-SNAPSHOT MERGE (upsert) by `keyCols`: publish the source
    * batch's data files AND an equality delete over its keys at the
    * SAME sequence number. The spec's strict scoping (an equality
    * delete applies only to data files with a strictly SMALLER data
    * sequence) makes a single snapshot exactly MERGE: every prior
    * row matching a source key dies, every source row lives, and a
    * reader can never observe the delete without the insert — the
    * atomicity the two-commit equivalence (equality-delete then
    * append) gives up. No data file is rewritten; cost is
    * proportional to the source batch (the copy-on-write trade is
    * the Delta merge). Unpartitioned tables only; exact-schema
    * batches only (merge is not evolution). Returns the new
    * sequence number.
    */
  def commitMerge(spark: SparkSession, location: String,
      df: org.apache.spark.sql.DataFrame, keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val (root, metaDir, fs) = metaDirOf(spark, location)
    val prior = headOf(fs, metaDir, location, "commitMerge")
    // Identity-partitioned tables merge like unpartitioned ones: the
    // batch lands in the declared partition layout (records in the
    // manifest partition field, Hive k=v paths) and the equality
    // delete stays GLOBAL — one delete file applying across
    // partitions by key, the scan path's existing semantics. Hidden
    // transforms (bucket/truncate) are refused: their partition
    // records need transform evaluation at write time.
    val partitionBy: Seq[String] = Option(prior.get("partition-specs")).toSeq
      .flatMap(_.elements().asScala.toSeq.headOption)
      .flatMap(s => Option(s.get("fields")).toSeq.flatMap(_.elements().asScala.toSeq))
      .map { f =>
        val tr = Option(f.get("transform")).map(_.asText()).getOrElse("identity")
        require(tr == "identity",
          s"commitMerge supports identity partition specs; $location declares $tr")
        Option(f.get("name")).map(_.asText()).getOrElse(
          throw new IllegalStateException(s"unnamed partition-spec field at $location"))
      }
    val seq = nextSeq(prior)
    // exact-schema rule, as on appends: positional ids must bind to
    // the same columns
    val idFields = df.schema.fields.zipWithIndex.flatMap { case (f, i) =>
      icebergType(f.dataType).map(tp => (i + 1, f.name, tp))
    }
    val declared = declaredColumns(prior)
    val mine = idFields.map { case (_, nm, tp) => (nm, tp) }.toSeq
    require(declared.isEmpty || declared == mine,
      s"merge schema mismatch for Iceberg table at $root: table declares " +
        s"${declared.map { case (a, b) => s"$a:$b" }.mkString("[", ", ", "]")}, batch has " +
        s"${mine.map { case (a, b) => s"$a:$b" }.mkString("[", ", ", "]")}")
    // bind ids by NAME against the prior schema (exact-schema batches
    // make this positional in the common case, but a dropped column
    // leaves an id hole and a renamed one a physical name to honor)
    val pub: Seq[PubCol] = {
      val pp = pubColsOf(prior)
      if (pp.isEmpty) idFields.toSeq.map { case (id, nm, tp) => PubCol(id, nm, nm, tp) }
      else idFields.toSeq.map { case (_, nm, tp) =>
        pp.find(_.name == nm).getOrElse(throw new IllegalArgumentException(
          s"merge column $nm not in the table schema at $root"))
      }
    }
    // files (data AND the key delete file) hold PHYSICAL names — one
    // SELECT with aliases (chained withColumnRenamed is order-
    // dependent on physical/logical name collisions, same fix as the
    // append path)
    val physByName = pub.map(c => c.name -> c.phys).toMap
    val physDf = df.select(df.schema.fields.map { f =>
      df.col("`" + f.name + "`").as(physByName.getOrElse(f.name, f.name))
    }.toSeq: _*)
    val token = java.util.UUID.randomUUID().toString.take(8)

    // 1. the source batch's data files + their manifest (one footer
    // read per written file yields bounds and record_count)
    val dd = s"$root/data_s${seq}_$token"
    val w0 = physDf.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w0.partitionBy(partitionBy: _*) else w0).parquet(dd)
    val written = manifestOf(spark, fs, dd, df.schema, partitionBy, pub)
    val dataManifest = s"$root/metadata/manifest_${token}_s$seq.avro"
    writeAvro(fs, new Path(dataManifest), written.entryS, written.entries)

    // 2. the equality delete file over the source keys
    val delDir = s"$root/deletes_s${seq}_$token"
    physDf.select(keyCols.map(c =>
        org.apache.spark.sql.functions.col(physByName.getOrElse(c, c))): _*).distinct()
      .coalesce(1).write.mode("overwrite").parquet(delDir)
    val delParquet = fs.listStatus(new Path(delDir)).toSeq
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val idByName = pub.map(c => c.name -> c.id).toMap
    val delEntries = Seq {
      val d = new GenericData.Record(delFileS)
      d.put("file_path", delParquet.toString)
      d.put("file_size_in_bytes", fs.getFileStatus(delParquet).getLen)
      d.put("content", 2)
      d.put("equality_ids", java.util.List.of(keyCols.map(c =>
        java.lang.Integer.valueOf(idByName.getOrElse(c,
          throw new IllegalArgumentException(
            s"merge key $c not in the table schema")))): _*))
      val e = new GenericData.Record(delEntryS)
      e.put("data_file", d)
      e
    }
    val delManifest = s"$root/metadata/manifest_del${token}_s$seq.avro"
    writeAvro(fs, new Path(delManifest), delEntryS, delEntries)

    // 3+4. one manifest list referencing main's manifests + BOTH of
    // this snapshot's, one atomic metadata publish
    val mlPath = s"$root/metadata/ml_s${seq}_$token.avro"
    writeAvro(fs, new Path(mlPath), mlS,
      (mainManifests(fs, prior) :+ dataManifest :+ delManifest).map { mp =>
        val r = new GenericData.Record(mlS)
        r.put("manifest_path", mp)
        r
      })
    val snapJson = s"""{"snapshot-id": $seq, "manifest-list": ${mapper.writeValueAsString(mlPath)}, "summary": {"operation": "merge"}}"""
    // carries the partition spec VERBATIM: a partitioned table whose
    // merge dropped the spec would stop pruning (and mis-bind the
    // next append's spec-stability check)
    val body = carried(prior, seq, refsJson(refsAfterCommit(Some(prior), seq, None)),
      snapshotsOf(prior).map(mapper.writeValueAsString) :+ snapJson)
    val dst = new Path(metaDir, s"v$seq.metadata.json")
    if (!Publish(fs, dst, body, () => ())) {
      fs.delete(new Path(mlPath), false)
      throw new IllegalStateException(
        s"merge lost the publish race at $dst — its read-set may be " +
          "invalid; re-resolve and retry")
    }
    seq
  }

  /** Highest batch id the given streaming app has committed into the
    * table — read from the snapshots' `summary` maps in the LATEST
    * metadata json. None for a fresh table or a foreign app. The
    * exactly-once contract mirrors Delta's txn actions: commit IFF
    * `batchId > lastTxn`.
    */
  def lastTxn(spark: SparkSession, location: String, appId: String): Option[Long] = {
    // per-micro-batch read: the head read reads only the newest json
    // (which carries every prior snapshot) when the names allow
    val (_, metaDir, fs) = metaDirOf(spark, location)
    txnMarks(IcebergSnapshotResolver.metadataAt(fs, metaDir, 0), appId).maxOption
  }

  /** Txn marks `appId` has recorded in a metadata json's snapshot
    * summaries — the replay-detection read shared by [[lastTxn]] and
    * [[commitTxn]]'s in-loop check (the latter parses the same
    * JsonNode its sequence number derives from, which is what makes
    * the mark check atomic with the rename-CAS publish).
    */
  private def txnMarks(metadata: Option[Json],
      appId: String): Seq[Long] =
    metadata.toSeq.flatMap { n =>
      Option(n.get("snapshots")).toSeq.flatMap(_.elements().asScala.toSeq).flatMap { s =>
        for {
          sm <- Option(s.get("summary"))
          app <- Option(sm.get("graft-txn-app")).map(_.asText()) if app == appId
          b <- Option(sm.get("graft-txn-batch")).map(_.asText().toLong)
        } yield b
      }
    }

  private def writeAvro(fs: FileSystem, path: Path,
      schema: Schema, rows: Seq[GenericRecord]): Unit = {
    val local = java.io.File.createTempFile("graft-iw", ".avro")
    try {
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, local)
      try rows.foreach(w.append) finally w.close()
      val in = new java.io.FileInputStream(local)
      val out = fs.create(path, true)
      try {
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      } finally { in.close(); out.close() }
    } finally local.delete()
  }

  private def readAvro(fs: FileSystem, path: Path): Seq[GenericRecord] = {
    val local = java.io.File.createTempFile("graft-iw-r", ".avro")
    try {
      val out = new java.io.FileOutputStream(local)
      val in = fs.open(path)
      try {
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      } finally { in.close(); out.close() }
      val r = new DataFileReader[GenericRecord](local, new GenericDatumReader[GenericRecord]())
      try r.iterator().asScala.toSeq finally r.close()
    } finally local.delete()
  }
}
