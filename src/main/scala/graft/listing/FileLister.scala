package graft.listing

import graft.model.S3FileInfo
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}

import scala.collection.mutable.ArrayBuffer

/** Recursive data-file listing for a table location.
  *
  * Port of the reference's S3 lister semantics (reference:
  * src/util/s3.ts:4-58): trailing `/` normalization, recursive
  * enumeration with pagination (Hadoop's RemoteIterator handles the
  * equivalent of ListObjectsV2 continuation tokens), `*_$folder$`
  * marker filtering, and per-key partition-value extraction with
  * `key=([^/]+)` (reference: src/util/s3.ts:15-25).
  *
  * Uses the Hadoop FileSystem API so the same code serves file://
  * locally (a `listStatus` directory walk) and s3a:// on a cluster
  * (one recursive `listFiles`). Listing happens once per TTL
  * window and is cached (see [[graft.cache.TtlCache]]) — at 100 TB
  * scale the listing for a large table is still only O(file count)
  * driver-side metadata, same strategy Spark's own
  * InMemoryFileIndex uses.
  */
trait FileLister {
  def list(location: String, partitionKeys: Seq[String]): Seq[S3FileInfo]
}

final class HadoopFileLister(hadoopConf: Configuration) extends FileLister {

  override def list(location: String, partitionKeys: Seq[String]): Seq[S3FileInfo] = {
    // Ensure trailing slash like the reference (src/util/s3.ts:34-37).
    val loc = if (location.endsWith("/")) location else location + "/"
    val root = new Path(loc)
    val fs = root.getFileSystem(hadoopConf)
    if (!fs.exists(root)) return Nil
    val out = ArrayBuffer.empty[(String, Long, Long)]
    def visit(status: FileStatus): Unit = {
      val p = status.getPath
      val name = p.getName
      // Skip S3 folder markers (reference: src/util/s3.ts:51-53) and —
      // a deliberate DIVERGENCE beyond the reference's rule —
      // Spark/Hadoop metadata files (`_SUCCESS`, `.crc`, hidden
      // dotfiles) and zero-length objects. Spark-written directories
      // always contain such files and feeding them to a reader fails
      // or skews row counts; an exotic layout whose real data files
      // are `_`/`.`-prefixed or empty would need a custom FileLister.
      val skip = name.endsWith("_$folder$") || name.startsWith("_") ||
        name.startsWith(".") || status.getLen == 0
      if (!skip) out += ((p.toString, status.getLen, status.getModificationTime))
    }
    if (fs.getScheme == "file") {
      // Local filesystem: walk with plain listStatus. listFiles wraps
      // each file in a LocatedFileStatus, whose constructor reads
      // permission, owner and group — without Hadoop native IO each
      // read forks `ls`, which costs far more than the listing itself.
      // Spark's HadoopFSUtils lists non-HDFS filesystems the same way.
      // Like listFiles, the walk enters every directory, hidden ones
      // too.
      def walk(dir: Path): Unit =
        fs.listStatus(dir).foreach(st => if (st.isFile) visit(st) else walk(st.getPath))
      walk(root)
    } else {
      // Object stores answer the recursive listFiles with one flat
      // paged LIST (ListObjectsV2 over the prefix; S3A since
      // HADOOP-13208); a per-directory walk would issue one LIST per
      // partition.
      val it = fs.listFiles(root, true)
      while (it.hasNext) visit(it.next())
    }
    val sorted = out.toSeq.sortBy(_._1) // deterministic order
    sorted.map { case (p, len, mod) =>
      S3FileInfo(p, PartitionValues.extract(p, partitionKeys), len, mod,
        bounds = Map.empty, rowCount = None)
    }
  }
}

object PartitionValues {
  /** `key=value` extraction from a path, per key (reference:
    * src/util/s3.ts:15-25).
    */
  def extract(path: String, keys: Seq[String]): Map[String, String] =
    keys.flatMap { k =>
      val re = (java.util.regex.Pattern.quote(k) + "=([^/]+)").r
      re.findFirstMatchIn(path).map(m => k -> m.group(1))
    }.toMap
}
