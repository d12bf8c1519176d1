package graft.listing

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Iceberg snapshot → data-file resolution, without an Iceberg
  * runtime.
  *
  * Port of the reference's pure-metadata pipeline (reference:
  * src/util/iceberg.ts:11-36, executed at
  * src/glue-table-cache.ts:349-414):
  *   1. among the metadata-dir JSON files, pick the newest — the
  *      one with the max `last-sequence-number` ([[newestFirst]]);
  *      `versionOffset` versions back = time travel (the reference's
  *      OFFSET n);
  *   2. take `snapshots[last]["manifest-list"]` — an Avro file whose
  *      rows carry `manifest_path`;
  *   3. read each manifest Avro; rows carry
  *      `data_file { file_path }` — those are the data files.
  *
  * Manifests are tiny (KBs) regardless of table size, so this walk
  * is driver-side on purpose — at 100 TB the data files never move
  * through the driver, only their paths do, identical to how the
  * reference materializes a file-listing table for DuckDB.
  */
object IcebergSnapshotResolver {
  /** Column-mapping physical-name annotation, the Iceberg twin of
    * Delta's `delta.columnMapping.physicalName`: when a table has
    * been renamed/dropped metadata-only ([[IcebergWriter.renameColumn]]
    * / [[IcebergWriter.dropColumn]]), each schema field carries the
    * PHYSICAL column name its id binds to in the parquet files (the
    * serialization this engine gives Iceberg's
    * `schema.name-mapping.default` concept — files written without
    * embedded field ids resolve through a name mapping). Fields of
    * unmapped tables carry no annotation.
    */
  private[graft] val PhysNameKey = "iceberg.columnMapping.physicalName"

  /** logical → physical for the fields whose names differ. */
  private[graft] def mappingOf(schema: org.apache.spark.sql.types.StructType)
      : Map[String, String] =
    schema.fields.flatMap { f =>
      if (f.metadata.contains(PhysNameKey)) {
        val p = f.metadata.getString(PhysNameKey)
        if (p != f.name) Some(f.name -> p) else None
      } else None
    }.toMap

  /** True when the schema carries column-mapping annotations (mapped
    * mode on) — the metadata schema is then AUTHORITATIVE for reads:
    * a dropped column's bytes still sit in the files, and single-file
    * inference would resurrect it.
    */
  private[graft] def isMapped(schema: org.apache.spark.sql.types.StructType): Boolean =
    schema.fields.exists(_.metadata.contains(PhysNameKey))

  private val mapper = new ObjectMapper()
  private val VersionName = """v(\d+)\.metadata\.json""".r

  /** The metadata JSONs under `metaDir`, newest first, each parsed on
    * demand — the one head read of every Iceberg reader and writer.
    * When every JSON is named `v<n>.metadata.json` (this engine's
    * writer names version `n` so, with `"last-sequence-number": n`),
    * they order by `n` and only the JSONs asked for are read.
    * Otherwise (foreign naming, e.g. `00001-<uuid>.metadata.json`)
    * every JSON is read and they order by `last-sequence-number`
    * (reference: src/util/iceberg.ts:20-27).
    */
  private[graft] def newestFirst(fs: FileSystem, metaDir: Path): Seq[(Path, () => JsonNode)] = {
    if (!fs.exists(metaDir)) return Nil
    val jsons = fs.listStatus(metaDir).toSeq.map(_.getPath).filter(_.getName.endsWith(".json"))
    def read(p: Path): JsonNode = { val in = fs.open(p); try mapper.readTree(in) finally in.close() }
    val named = jsons.flatMap(p => p.getName match {
      case VersionName(n) => Some(n.toLong -> p)
      case _              => None
    })
    if (named.size == jsons.size) named.sortBy(-_._1).map { case (_, p) => p -> (() => read(p)) }
    else jsons.map(p => p -> read(p))
      .sortBy(-_._2.path("last-sequence-number").asLong(0L))
      .map { case (p, n) => p -> (() => n) }
  }

  /** The metadata JSON `offset` versions back from the newest. */
  private[graft] def metadataAt(fs: FileSystem, metaDir: Path, offset: Int): Option[JsonNode] =
    newestFirst(fs, metaDir).lift(offset).map(_._2())
}

final class IcebergSnapshotResolver(hadoopConf: Configuration) {
  private val mapper = new ObjectMapper()

  /** @return data file paths of the selected snapshot (sorted). */
  def dataFiles(location: String, versionOffset: Int = 0): Seq[String] =
    dataFilesWithSize(location, versionOffset).map(_._1)

  /** (path, size) pairs; see [[dataFilesDetailed]]. */
  def dataFilesWithSize(location: String, versionOffset: Int = 0): Seq[(String, Long)] =
    dataFilesDetailed(location, versionOffset).map(f => (f.path, f.size))

  /** One resolved data file: path, size, the manifest's
    * `data_file.partition` record rendered as name→string values
    * (identity-transform partition columns; empty when the table is
    * unpartitioned or the manifest omits the field), and per-column
    * min/max ranges decoded from `lower_bounds`/`upper_bounds` —
    * Iceberg's own data-skipping metadata, free with the manifest
    * read (empty when the manifest omits them) — narrowed by the
    * file's hidden partition values ([[hiddenFact]]).
    */
  final case class IcebergDataFile(path: String, size: Long,
      partition: Map[String, String], bounds: Map[String, ColRange],
      /** Manifest `record_count` (spec-required in real manifests) —
        * lets metadata COUNT(*) answer with zero per-file I/O; None
        * for simplified fixtures that omit it.
        */
      rowCount: Option[Long],
      /** Data sequence number (entry-level when the manifest carries
        * it, else the manifest's own) — scopes equality deletes, which
        * apply only to files with a strictly smaller one. 0 = unknown.
        */
      seq: Long)

  /** One live DELETE file (Iceberg v2 merge-on-read): `content` 1 =
    * position deletes (parquet rows of `file_path`, `pos`), 2 =
    * equality deletes over `equalityCols` (field ids resolved to
    * column names through the table schema).
    */
  final case class IcebergDeleteFile(path: String, content: Int, equalityCols: Seq[String],
      /** The delete's sequence number; 0 = unknown (applies unscoped). */
      seq: Long = 0L)

  /** Everything one metadata version yields in one pass: its live
    * data files (manifests carry `data_file.file_size_in_bytes` and
    * `data_file.partition`, so the read path builds `FileStatus`es
    * AND prunes identity partitions without touching the filesystem
    * again), its live delete files, and the schema of the same
    * metadata JSON. At 100 TB this is the difference between planning
    * from KB-scale manifests and a million-object LIST+HEAD storm.
    */
  final case class IcebergVersion(files: Seq[IcebergDataFile],
      deletes: Seq[IcebergDeleteFile],
      schema: Option[org.apache.spark.sql.types.StructType])

  /** Metadata passes (list, parse and order the metadata JSONs) made
    * by this resolver — test instrumentation for the one-pass-per-
    * version contract. */
  private[graft] val resolveCount = new java.util.concurrent.atomic.AtomicLong()

  def dataFilesDetailed(location: String, versionOffset: Int = 0): Seq[IcebergDataFile] =
    resolve(location, versionOffset).files

  /** Table schema at a snapshot, decoded from the metadata JSON's
    * current schema — authoritative under schema evolution (a column
    * added by a later writer exists in the metadata before any data
    * file carries it; single-file inference would silently drop it,
    * the same gap fixed for Delta). Returns None when any field uses
    * a type this decoder doesn't model (nested/complex) — absence
    * falls back to inference, never a truncated schema.
    */
  def dataSchemaAt(location: String, versionOffset: Int = 0)
      : Option[org.apache.spark.sql.types.StructType] =
    metadataAt(location, versionOffset).flatMap(schemaOf)

  private def schemaOf(meta: JsonNode): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types._
    val DecimalRe = """decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r
    def sparkType(t: String): Option[DataType] = t match {
      case "boolean"         => Some(BooleanType)
      case "int"             => Some(IntegerType)
      case "long"            => Some(LongType)
      case "float"           => Some(FloatType)
      case "double"          => Some(DoubleType)
      case "string" | "uuid" => Some(StringType)
      case "date"            => Some(DateType)
      case "timestamptz"     => Some(TimestampType)
      case "timestamp"       => Some(TimestampNTZType)
      case "binary"          => Some(BinaryType)
      case DecimalRe(p, s)   => Some(DecimalType(p.toInt, s.toInt))
      case _                 => None // fixed[n], nested, unknown
    }
    // Mapped mode (a rename/drop happened): every field carries its
    // physical-name annotation so [[GlueTableEngine]] scans with the
    // names the files hold and projects physical→logical — the
    // exact machinery Delta column mapping uses.
    val mapped = Option(meta.get("column-mapping")).exists(_.asText() == "name")
    currentSchemaFields(meta).flatMap { fs =>
      val fields = fs.map { f =>
        for {
          nm <- Option(f.get("name")).map(_.asText())
          tp <- Option(f.get("type")).filter(_.isTextual).map(_.asText())
          dt <- sparkType(tp)
        } yield {
          val base = StructField(nm,
            dt, nullable = !Option(f.get("required")).exists(_.asBoolean()))
          if (!mapped) base
          else {
            val phys = Option(f.get("physical")).filter(_.isTextual)
              .map(_.asText()).getOrElse(nm)
            base.copy(metadata = new MetadataBuilder()
              .putString(IcebergSnapshotResolver.PhysNameKey, phys).build())
          }
        }
      }
      if (fields.exists(_.isEmpty)) None else Some(StructType(fields.flatten))
    }
  }

  /** The field nodes of the metadata JSON's current schema. */
  private def currentSchemaFields(meta: JsonNode): Option[Seq[JsonNode]] =
    Option(meta.get("schemas")).flatMap { arr =>
      val elems = arr.elements().asScala.toSeq
      Option(meta.get("current-schema-id")).map(_.asInt()) match {
        case Some(id) => elems.find(e => Option(e.get("schema-id")).exists(_.asInt() == id))
        case None     => elems.headOption
      }
    }.orElse(Option(meta.get("schema")))
      .flatMap(s => Option(s.get("fields"))).map(_.elements().asScala.toSeq)

  /** Data file paths at a named REF's head snapshot — the AUDIT read
    * of write-audit-publish: a branch reader validates the staged
    * snapshots before [[IcebergWriter.publishBranch]] fast-forwards
    * main onto them. Delete-content and DELETED-status entries are
    * skipped (branch staging is append-only by this engine's
    * contract; MOR application is main-read machinery).
    */
  def dataFilesForRef(location: String, ref: String): Seq[String] =
    metadataAt(location, 0).toSeq.flatMap { meta =>
      val id = Option(meta.get("refs")).flatMap(r => Option(r.get(ref)))
        .flatMap(m => Option(m.get("snapshot-id")).map(_.asLong()))
        .getOrElse(throw new IllegalArgumentException(s"no ref $ref at $location"))
      snapshotFiles(meta, id, ref, dataOnly = true)
    }.distinct.sorted

  /** Every file path (data AND delete content) live at one snapshot's
    * head, by manifest walk. `dataOnly` restricts to content==0 (the
    * branch-audit read); expiry keeps everything. */
  private def snapshotFiles(meta: JsonNode, id: Long, ref: String,
      dataOnly: Boolean): Seq[String] = {
    val snap = Option(meta.get("snapshots")).toSeq
      .flatMap(_.elements().asScala.toSeq)
      .find(s => Option(s.get("snapshot-id")).exists(_.asLong() == id))
      .getOrElse(throw new IllegalStateException(
        s"ref $ref points at missing snapshot $id"))
    Option(snap.get("manifest-list")).map(_.asText()).toSeq.flatMap { ml =>
      readAvroField(ml, _.get("manifest_path").toString).flatMap { mp =>
        readAvroField(mp, { r =>
          val deleted = Option(r.getSchema.getField("status")).exists { f =>
            r.get(f.pos()) match {
              case i: java.lang.Integer => i.intValue() == 2
              case l: java.lang.Long    => l.longValue() == 2L
              case _                    => false
            }
          }
          if (deleted) None
          else {
            val df = r.get("data_file").asInstanceOf[GenericRecord]
            val content = Option(df.getSchema.getField("content")).map { f =>
              df.get(f.pos()) match {
                case i: java.lang.Integer => i.intValue()
                case l: java.lang.Long    => l.intValue()
                case _                    => 0
              }
            }.getOrElse(0)
            if (!dataOnly || content == 0) Some(df.get("file_path").toString) else None
          }
        }).flatten
      }
    }
  }

  /** Every file path (data AND delete parquet) reachable from ANY
    * named ref — branches and tags alike — in the LATEST metadata.
    * Snapshot expiry must union this into its keep-set: a staged WAP
    * branch or an old tag keeps its snapshot entry in the current
    * metadata JSON (so its MANIFESTS were always retained via
    * [[manifestFiles]]), but its data files are reachable through no
    * retained version's main head, and expiry would otherwise orphan-
    * delete them — publishing the branch later would fast-forward
    * main onto snapshots whose parquet is gone (silent data loss).
    * `refs.main` is included too (harmless: already in the keep-set
    * via the version walk); a ref pointing at a snapshot the current
    * metadata no longer lists fails loudly rather than silently
    * under-protecting — the documented recovery is
    * [[graft.listing.IcebergWriter.dropRef]] (engine:
    * `dropIcebergRef`), which removes the dangling ref so expiry can
    * run again.
    */
  def refReachableFiles(location: String): Seq[String] =
    metadataAt(location, 0).toSeq.flatMap { meta =>
      Option(meta.get("refs")).toSeq.flatMap { refs =>
        refs.fieldNames().asScala.toSeq.flatMap { name =>
          val id = Option(refs.get(name)).flatMap(m =>
            Option(m.get("snapshot-id")).map(_.asLong()))
          id.toSeq.flatMap(snapshotFiles(meta, _, name, dataOnly = false))
        }
      }
    }.distinct.sorted

  /** The Avro metadata files (manifest list + manifests, every
    * snapshot) backing one version — the set snapshot expiry must
    * retain alongside the version's data files.
    */
  def manifestFiles(location: String, versionOffset: Int = 0): Seq[String] =
    metadataAt(location, versionOffset).toSeq.flatMap { meta =>
      val mls = Option(meta.get("snapshots")).toSeq.flatMap(_.elements().asScala.toSeq)
        .flatMap(s => Option(s.get("manifest-list")).map(_.asText()))
      mls ++ mls.flatMap(ml =>
        try readAvroField(ml, r => r.get("manifest_path").toString)
        catch { case _: java.io.IOException => Nil })
    }.distinct

  /** The metadata JSON of the selected version (latest − offset),
    * by the one head read ([[IcebergSnapshotResolver.metadataAt]]).
    */
  private[graft] def metadataAt(location: String, versionOffset: Int): Option[JsonNode] = {
    resolveCount.incrementAndGet()
    val metaDir = new Path(s"${location.stripSuffix("/")}/metadata")
    IcebergSnapshotResolver.metadataAt(metaDir.getFileSystem(hadoopConf), metaDir, versionOffset)
  }

  /** The current partition spec's fields IN SPEC ORDER, identity
    * included: `(spec field name, source column name, transform)`.
    * This is the append path's authority for how new files must land
    * after a partition-spec evolution — the spec, not the catalog,
    * holds the evolved layout (a table partitioned by an identity key
    * that adopts a hidden transform keeps both dimensions).
    */
  def specFields(location: String, versionOffset: Int = 0): Seq[(String, String, String)] =
    metadataAt(location, versionOffset).toSeq.flatMap(specFieldsOf)

  private def specFieldsOf(meta: JsonNode): Seq[(String, String, String)] = {
    val nameById: Map[Int, String] =
      Option(meta.get("schemas")).toSeq.flatMap(_.elements().asScala.toSeq.headOption)
        .flatMap(s => Option(s.get("fields")).toSeq)
        .flatMap(_.elements().asScala.toSeq.flatMap { f =>
          for (id <- Option(f.get("id")); nm <- Option(f.get("name")))
            yield id.asInt() -> nm.asText()
        }).toMap
    specOf(meta).flatMap { case (nm, tr, srcId) =>
      // identity fields name themselves when the source id is
      // unresolvable (hand-built fixtures use source-id -1)
      nameById.get(srcId).orElse(if (tr == "identity") Some(nm) else None).map((nm, _, tr))
    }
  }

  /** The current spec's `(field name, transform, source field-id)`,
    * in spec order; -1 for a missing source id.
    */
  private def specOf(meta: JsonNode): Seq[(String, String, Int)] =
    Option(meta.get("partition-specs")).toSeq
      .flatMap(_.elements().asScala.toSeq.headOption)
      .flatMap(s => Option(s.get("fields")).toSeq)
      .flatMap(_.elements().asScala.toSeq.flatMap { f =>
        for (nm <- Option(f.get("name")); tr <- Option(f.get("transform")))
          yield (nm.asText(), tr.asText(), Option(f.get("source-id")).fold(-1)(_.asInt()))
      })

  /** One metadata pass over the selected version, then its manifest
    * walk (reference: src/util/iceberg.ts:11-36).
    */
  def resolve(location: String, versionOffset: Int = 0): IcebergVersion =
    metadataAt(location, versionOffset).fold(IcebergVersion(Nil, Nil, None)) { meta =>
      val (files, deletes) = liveFiles(meta)
      IcebergVersion(files, deletes, schemaOf(meta))
    }

  private def liveFiles(meta: JsonNode): (Seq[IcebergDataFile], Seq[IcebergDeleteFile]) = {
    // field-id → (name, primitive type) from the current schema — the
    // key space of the manifests' lower_bounds/upper_bounds maps.
    // Nested/complex types have non-textual type nodes and are skipped
    // (Iceberg only tracks bounds for primitives anyway).
    val fieldById: Map[Int, (String, String)] =
      currentSchemaFields(meta).getOrElse(Nil).flatMap { f =>
        for {
          id <- Option(f.get("id")).map(_.asInt())
          nm <- Option(f.get("name")).map(_.asText())
          tp <- Option(f.get("type")).filter(_.isTextual).map(_.asText())
          // PHYSICAL name when mapped (rename/drop happened): bounds
          // and equality columns must bind to what the files hold —
          // the scan schema — not the current logical name
        } yield id -> (Option(f.get("physical")).filter(_.isTextual)
          .map(_.asText()).getOrElse(nm), tp)
      }.toMap
    val hidden = specOf(meta).filter(_._2 != "identity")

    // the CURRENT snapshot: refs.main when refs exist (a staged
    // branch snapshot may have published last in the array and must
    // stay invisible to main readers until its fast-forward publish —
    // write-audit-publish), array-last otherwise (reference:
    // src/util/iceberg.ts:28-29 — last element; the reference has no
    // refs support).
    val allSnaps = Option(meta.get("snapshots")).toSeq
      .flatMap(_.elements().asScala.toSeq)
    val mainId = Option(meta.get("refs")).flatMap(r => Option(r.get("main")))
      .flatMap(m => Option(m.get("snapshot-id")).map(_.asLong()))
    val lastSnap: Option[JsonNode] = mainId match {
      case Some(id) =>
        allSnaps.find(s => Option(s.get("snapshot-id")).exists(_.asLong() == id))
      case None => allSnaps.lastOption
    }
    val manifestList = lastSnap.flatMap(s => Option(s.get("manifest-list")).map(_.asText()))
    manifestList match {
      case None => (Nil, Nil)
      case Some(ml) =>
        // manifest-list avro → (manifest_path, sequence number)
        //    rows (reference: src/util/iceberg.ts:30-31). The
        //    sequence number scopes equality deletes (they apply
        //    only to data files with a STRICTLY smaller one): real
        //    manifest lists carry `sequence_number` per manifest;
        //    this engine's own writer encodes it in the manifest
        //    file name (`manifest[_del]_s<seq>.avro`); 0 = unknown,
        //    which keeps the unscoped read-latest behavior.
        val SeqName = """.*_s(\d+)\.avro$""".r
        val manifestPaths: Seq[(String, Long)] = readAvroField(ml, { r =>
          val p = r.get("manifest_path").toString
          val mseq = Option(r.getSchema.getField("sequence_number")).flatMap { f =>
            r.get(f.pos()) match {
              case l: java.lang.Long    => Some(l.longValue())
              case i: java.lang.Integer => Some(i.longValue())
              case _                    => None
            }
          }.getOrElse(p match {
            case SeqName(s) => s.toLong
            case _          => 0L
          })
          (p, mseq)
        })
        // each manifest avro → data_file.{file_path, file_size_in_bytes}
        //    rows (reference: src/util/iceberg.ts:32-33). NOTE:
        //    GenericRecord.get(String) THROWS on a field the writer
        //    schema lacks, so probe the schema first.
        val files = manifestPaths.flatMap { case (mp, mseq) =>
          readAvroField(mp, { r =>
            // entry-level sequence_number (real v2 manifests; null =
            // inherit the manifest's, per the inheritance rule)
            val entrySeq = Option(r.getSchema.getField("sequence_number")).flatMap { f =>
              r.get(f.pos()) match {
                case l: java.lang.Long    => Some(l.longValue())
                case i: java.lang.Integer => Some(i.longValue())
                case _                    => None
              }
            }.getOrElse(mseq)
            // manifest_entry.status: 1=ADDED, 0=EXISTING, 2=DELETED —
            // a DELETED entry records a file REMOVED by this snapshot
            // (compaction, overwrite, row-delete rewrite); including
            // it would resurrect dropped data. Absent field (minimal
            // or pre-spec manifests) means live.
            val deleted = Option(r.getSchema.getField("status")).exists { f =>
              r.get(f.pos()) match {
                case i: java.lang.Integer => i.intValue() == 2
                case l: java.lang.Long    => l.longValue() == 2L
                case _ => false
              }
            }
            if (deleted) None else Some {
            val df = r.get("data_file").asInstanceOf[GenericRecord]
            // Iceberg v2: data_file.content — 0/absent = data, 1 =
            // position deletes, 2 = equality deletes
            val content: Int = Option(df.getSchema.getField("content")).map { f =>
              df.get(f.pos()) match {
                case i: java.lang.Integer => i.intValue()
                case l: java.lang.Long    => l.intValue()
                case _ => 0
              }
            }.getOrElse(0)
            val equalityCols: Seq[String] =
              Option(df.getSchema.getField("equality_ids")).toSeq.flatMap { f =>
                df.get(f.pos()) match {
                  case l: java.util.List[_] => l.asScala.toSeq.collect {
                    case i: java.lang.Integer => fieldById.get(i.intValue()).map(_._1)
                  }.flatten
                  case _ => Nil
                }
              }
            val sizeField = Option(df.getSchema.getField("file_size_in_bytes"))
            val size: Long = sizeField match {
              case Some(f) => df.get(f.pos()) match {
                // spec-required long; a present-but-wrong-typed value
                // means a malformed manifest — fail loudly, a silent 0
                // would poison planner statistics downstream.
                case l: java.lang.Long    => l.longValue()
                case i: java.lang.Integer => i.longValue()
                case other => throw new IllegalStateException(
                  s"malformed Iceberg manifest $mp: file_size_in_bytes is " +
                    s"${if (other == null) "null" else other.getClass.getName}, expected long")
              }
              // Pre-spec / simplified manifests (e.g. older fixtures):
              // mark unknown; the caller stats the file once at listing
              // time, so the size invariant still holds downstream.
              case None => -1L
            }
            // record_count: spec-required, but absence (simplified
            // fixtures) or a writer's explicit -1 sentinel only
            // costs the footer fallback — never guessed
            val rowCount: Option[Long] =
              Option(df.getSchema.getField("record_count")).flatMap { f =>
                df.get(f.pos()) match {
                  case l: java.lang.Long    => Some(l.longValue())
                  case i: java.lang.Integer => Some(i.longValue())
                  case _                    => None
                }
              }.filter(_ >= 0L)
            // identity-transform partition values ride along in the
            // spec-required `partition` record; field names are the
            // partition column names. Values stringify (the engine's
            // typed listing casts them to the catalog-declared type).
            val partition: Map[String, String] =
              Option(df.getSchema.getField("partition")).map { f =>
                df.get(f.pos()) match {
                  case r: GenericRecord =>
                    r.getSchema.getFields.asScala.flatMap { pf =>
                      Option(r.get(pf.pos())).map(v =>
                        pf.name() -> decodePartitionValue(mp, pf.name(), pf.schema(), v))
                    }.toMap
                  case _ => Map.empty[String, String]
                }
              }.getOrElse(Map.empty)
            val lower = boundsBytes(df, "lower_bounds")
            val upper = boundsBytes(df, "upper_bounds")
            val nulls = countsMap(df, "null_value_counts")
            val nans = countsMap(df, "nan_value_counts")
            val bounds = lower.keySet.intersect(upper.keySet).flatMap { id =>
              fieldById.get(id).flatMap { case (nm, tp) =>
                // float/double bounds EXCLUDE NaN per spec — usable
                // only when nan_value_counts proves the file NaN-free
                val floaty = tp == "float" || tp == "double"
                if (floaty && !nans.get(id).contains(0L)) None
                else for (lo <- decodeBound(tp, lower(id)); hi <- decodeBound(tp, upper(id)))
                  yield nm -> ColRange(lo, hi, allNulls = false,
                    noNulls = nulls.get(id).contains(0L))
              }
            }.toMap
            // a hidden spec value is a fact about every row's source
            // value: the file-level stats prune on it like on a bound
            val facts = hidden.flatMap { case (field, tr, src) =>
              for ((nm, tp) <- fieldById.get(src); pv <- partition.get(field); r <- hiddenFact(tr, tp, pv))
                yield nm -> r
            }
            val stats = facts.foldLeft(bounds) { case (acc, (nm, r)) =>
              acc.updated(nm, acc.get(nm).fold(r)(_.intersect(r)))
            }
            (content, equalityCols,
              IcebergDataFile(df.get("file_path").toString, size, partition, stats,
                rowCount, entrySeq))
            }
          }).flatten
        }
        val deletes = files.distinct.collect { case (c, eq, f) if c != 0 =>
          IcebergDeleteFile(f.path, c, eq, f.seq)
        }.sortBy(_.path)
        // Resolve any unknown sizes with one driver-side stat per
        // file. Real manifests always carry the field (required by
        // the Iceberg spec), so at scale this branch never runs.
        val resolved = files.distinct.collect { case (c, _, f) if c == 0 => f }.map {
          case f if f.size == -1L =>
            val hp = new Path(f.path)
            f.copy(size = hp.getFileSystem(hadoopConf).getFileStatus(hp).getLen)
          case ok => ok
        }
        (resolved.sortBy(_.path), deletes)
    }
  }

  /** Render one `data_file.partition` field as the string the typed
    * listing will cast to the catalog-declared partition type.
    *
    * Per the Iceberg spec, identity partition values are stored in
    * their Avro PHYSICAL form — date as int days since epoch,
    * timestamp as long micros/millis, decimal as big-endian unscaled
    * bytes — so raw `toString` yields e.g. `"19700"` for a date,
    * which the engine's cast-to-declared-type then turns into null
    * and an equality filter silently prunes EVERY file. Decode by the
    * field's Avro logical type instead; physical types with no
    * logical annotation stringify only when that string round-trips
    * through a Spark cast (string/int/long/boolean/float/double),
    * and anything else fails loudly like the mistyped-size path —
    * a wrong partition value must never become a silent
    * prune-everything.
    */
  private def decodePartitionValue(manifest: String, field: String,
      fieldSchema: org.apache.avro.Schema, v: AnyRef): String = {
    import org.apache.avro.{LogicalTypes, Schema}
    // identity partitions on nullable columns arrive as union(null, T)
    val s = if (fieldSchema.getType == Schema.Type.UNION)
      fieldSchema.getTypes.asScala.find(_.getType != Schema.Type.NULL).getOrElse(fieldSchema)
    else fieldSchema
    // The rendered string is later cast to the declared type in the
    // SPARK SESSION timezone. Iceberg stores timestamptz
    // (adjust-to-utc=true) as an instant — format it in the session
    // zone so the cast round-trips the same instant in any session;
    // plain timestamp (adjust-to-utc absent/false) is a wall-clock
    // value with no zone, rendered as-is.
    def micros(us: Long, adjustToUtc: Boolean): String = {
      val zone =
        if (!adjustToUtc) java.time.ZoneOffset.UTC
        else java.time.ZoneId.of(
          org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
      java.time.Instant
        .ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
        .atZone(zone)
        .toLocalDateTime
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
    }
    def adjustToUtc(sch: Schema): Boolean =
      Option(sch.getObjectProp("adjust-to-utc")).exists {
        case b: java.lang.Boolean => b.booleanValue()
        case other                => other.toString == "true"
      }
    def decimal(unscaled: Array[Byte], scale: Int): String =
      new java.math.BigDecimal(new java.math.BigInteger(unscaled), scale).toPlainString
    def bad(what: String): Nothing = throw new IllegalStateException(
      s"malformed Iceberg manifest $manifest: partition field $field has $what " +
        "— cannot render a partition value the engine could cast correctly")
    (s.getLogicalType, v) match {
      case (_: LogicalTypes.Date, i: java.lang.Integer) =>
        java.time.LocalDate.ofEpochDay(i.longValue()).toString
      case (_: LogicalTypes.TimestampMicros, l: java.lang.Long) =>
        micros(l.longValue(), adjustToUtc(s))
      case (_: LogicalTypes.TimestampMillis, l: java.lang.Long) =>
        micros(l.longValue() * 1000L, adjustToUtc(s))
      case (d: LogicalTypes.Decimal, bb: java.nio.ByteBuffer) =>
        val arr = new Array[Byte](bb.remaining()); bb.duplicate().get(arr)
        decimal(arr, d.getScale)
      case (d: LogicalTypes.Decimal, fx: org.apache.avro.generic.GenericFixed) =>
        decimal(fx.bytes(), d.getScale)
      case (null, _) => s.getType match {
        case Schema.Type.STRING | Schema.Type.INT | Schema.Type.LONG |
             Schema.Type.BOOLEAN | Schema.Type.FLOAT | Schema.Type.DOUBLE => v.toString
        case other => bad(s"unsupported Avro type $other")
      }
      case (lt, _) => bad(s"unsupported Avro logical type $lt over ${s.getType}")
    }
  }

  /** The range a hidden partition value `pv` puts on its source column
    * of Iceberg type `tp`: `truncate[W]` of an integer `t` is the window
    * [t, t+W-1]; of a string `p`, every string with prefix `p` (up to
    * `p` + 0xFF, a byte no UTF-8 string holds); `bucket[N]` of an
    * int/long/string column, bucket `pv`. None for any other shape.
    */
  private def hiddenFact(transform: String, tp: String, pv: String): Option[ColRange] = {
    val Bucket = """bucket\[(\d+)\]""".r
    val Truncate = """truncate\[(\d+)\]""".r
    (transform, tp) match {
      case (Bucket(n), "int" | "long" | "string") =>
        pv.toIntOption.map(b => ColRange(null, null, allNulls = false, bucket = Some((n.toInt, b))))
      case (Truncate(w), "int") =>
        pv.toIntOption.map(t => ColRange(t, math.min(t.toLong + w.toInt - 1, Int.MaxValue).toInt, allNulls = false))
      case (Truncate(w), "long") =>
        pv.toLongOption.map(t => ColRange(t, if (t > Long.MaxValue - w.toInt + 1) Long.MaxValue
          else t + w.toInt - 1, allNulls = false))
      case (Truncate(_), "string") =>
        val p = pv.getBytes("UTF-8")
        Some(ColRange(UTF8String.fromBytes(p), UTF8String.fromBytes(p :+ 0xFF.toByte), allNulls = false))
      case _ => None
    }
  }

  /** Extract a `lower_bounds`/`upper_bounds` field-id→bytes map from
    * a `data_file` record. Iceberg serializes these `map<int, binary>`
    * fields in Avro as an array of key/value records (non-string map
    * keys); a plain Avro map with stringified integer keys is
    * tolerated too. Anything unparseable is simply absent — bounds
    * only ever ADD skipping, never correctness.
    */
  private def boundsBytes(df: GenericRecord, fieldName: String): Map[Int, Array[Byte]] = {
    def bytesOf(v: Any): Option[Array[Byte]] = v match {
      case bb: java.nio.ByteBuffer =>
        val d = bb.duplicate(); val a = new Array[Byte](d.remaining()); d.get(a); Some(a)
      case ab: Array[Byte] => Some(ab)
      case fx: org.apache.avro.generic.GenericFixed => Some(fx.bytes())
      case _ => None
    }
    Option(df.getSchema.getField(fieldName)).map(f => df.get(f.pos())).map {
      case arr: java.util.Collection[_] =>
        arr.asScala.flatMap {
          case kv: GenericRecord =>
            (Option(kv.getSchema.getField("key")).map(f => kv.get(f.pos())),
             Option(kv.getSchema.getField("value")).map(f => kv.get(f.pos()))) match {
              case (Some(k: java.lang.Integer), Some(v)) => bytesOf(v).map(k.intValue -> _)
              case _ => None
            }
          case _ => None
        }.toMap
      case m: java.util.Map[_, _] =>
        m.asScala.flatMap { case (k, v) =>
          for (ki <- scala.util.Try(k.toString.toInt).toOption; vb <- bytesOf(v))
            yield ki -> vb
        }.toMap
      case _ => Map.empty[Int, Array[Byte]]
    }.getOrElse(Map.empty)
  }

  /** Extract a `null_value_counts`/`nan_value_counts` field-id→count
    * map (same two Avro encodings as [[boundsBytes]]).
    */
  private def countsMap(df: GenericRecord, fieldName: String): Map[Int, Long] = {
    def longOf(v: Any): Option[Long] = v match {
      case l: java.lang.Long    => Some(l.longValue)
      case i: java.lang.Integer => Some(i.longValue)
      case _ => None
    }
    Option(df.getSchema.getField(fieldName)).map(f => df.get(f.pos())).map {
      case arr: java.util.Collection[_] =>
        arr.asScala.flatMap {
          case kv: GenericRecord =>
            (Option(kv.getSchema.getField("key")).map(f => kv.get(f.pos())),
             Option(kv.getSchema.getField("value")).map(f => kv.get(f.pos()))) match {
              case (Some(k: java.lang.Integer), Some(v)) => longOf(v).map(k.intValue -> _)
              case _ => None
            }
          case _ => None
        }.toMap
      case m: java.util.Map[_, _] =>
        m.asScala.flatMap { case (k, v) =>
          for (ki <- scala.util.Try(k.toString.toInt).toOption; vl <- longOf(v))
            yield ki -> vl
        }.toMap
      case _ => Map.empty[Int, Long]
    }.getOrElse(Map.empty)
  }

  /** Decode an Iceberg single-value binary bound (spec Appendix D:
    * little-endian for numerics, UTF-8 for strings) into the Catalyst
    * internal form [[FooterStats]] comparisons use. Types whose
    * Catalyst comparison semantics don't line up byte-for-byte
    * (decimals, uuid, fixed, binary, nanosecond timestamps) return
    * None — no bound beats a wrong bound. float/double are decoded
    * here but the CALLER must gate them on `nan_value_counts == 0`:
    * the spec excludes NaN from bounds, and Spark's NaN-is-largest
    * comparisons would match rows a NaN-hiding range conceals.
    */
  private def decodeBound(icebergType: String, bytes: Array[Byte]): Option[Any] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    icebergType match {
      case "int" | "date" if bytes.length == 4 => Some(le.getInt)
      case "long" | "timestamp" | "timestamptz" if bytes.length == 8 => Some(le.getLong)
      case "float" if bytes.length == 4 =>
        val f = le.getFloat; if (f.isNaN) None else Some(f)
      case "double" if bytes.length == 8 =>
        val d = le.getDouble; if (d.isNaN) None else Some(d)
      case "string" => Some(UTF8String.fromBytes(bytes))
      case _ => None
    }
  }

  /** Read one projected field from every record of a (small) Avro
    * file. Copies to a local temp file first so the plain Avro
    * DataFileReader works against any Hadoop FileSystem.
    */
  private def readAvroField[T](path: String, f: GenericRecord => T): Seq[T] = {
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val local = java.io.File.createTempFile("graft-manifest", ".avro")
    try {
      val out = new java.io.FileOutputStream(local)
      val in = fs.open(p)
      try {
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      } finally { in.close(); out.close() }
      val reader = new DataFileReader[GenericRecord](local, new GenericDatumReader[GenericRecord]())
      val rows = ArrayBuffer.empty[T]
      try while (reader.hasNext) rows += f(reader.next())
      finally reader.close()
      rows.toSeq
    } finally local.delete()
  }
}
