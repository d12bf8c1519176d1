package graft

import graft.listing.{HadoopFileLister, PartitionValues}
import graft.model.S3FileInfo
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path => JPath}
import scala.collection.mutable.ArrayBuffer

/** The local-filesystem listing walk must list exactly what Hadoop's
  * recursive `listFiles` lists under the same skip rule: same paths,
  * sizes, mtimes, partition values and order.
  */
class FileListerSpec extends AnyFunSuite {
  private val conf = new Configuration()

  /** The reference listing: `fs.listFiles(root, recursive = true)`
    * plus the lister's skip rule, sorted by path.
    */
  private def viaListFiles(location: String, keys: Seq[String]): Seq[S3FileInfo] = {
    val root = new Path(location)
    val it = root.getFileSystem(conf).listFiles(root, true)
    val out = ArrayBuffer.empty[S3FileInfo]
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      val skip = name.endsWith("_$folder$") || name.startsWith("_") ||
        name.startsWith(".") || st.getLen == 0
      if (!skip) out += S3FileInfo(st.getPath.toString,
        PartitionValues.extract(st.getPath.toString, keys), st.getLen,
        st.getModificationTime, bounds = Map.empty, rowCount = None)
    }
    out.toSeq.sortBy(_.path)
  }

  private def write(root: JPath, rel: String, bytes: Int, mtime: Long): Unit = {
    val f = root.resolve(rel)
    Files.createDirectories(f.getParent)
    Files.write(f, Array.fill[Byte](bytes)(1))
    assert(f.toFile.setLastModified(mtime))
  }

  test("the local walk lists what recursive listFiles lists, under the same skip rule") {
    val root = Files.createTempDirectory("lister-spec")
    try {
      write(root, "k=a/j=1/part-0.parquet", 10, 1000000L)
      write(root, "k=a/j=1/_SUCCESS", 0, 1001000L)
      write(root, "k=a/j=1/.part-0.parquet.crc", 12, 1002000L)
      write(root, "k=a/j=2/part-1.parquet", 11, 1003000L)
      write(root, "k=a/.hidden", 5, 1004000L)
      write(root, "k=b/part-2.parquet", 12, 1005000L)
      write(root, "k=b/empty.parquet", 0, 1006000L)
      write(root, "k=b/sub_$folder$", 3, 1007000L)
      write(root, "_tmp/part-3.parquet", 13, 1008000L)
      write(root, ".staging/part-4.parquet", 14, 1009000L)
      write(root, "top.parquet", 15, 1010000L)
      val keys = Seq("k", "j")
      val location = root.toUri.toString // file:/... with a trailing slash
      val got = new HadoopFileLister(conf).list(location.stripSuffix("/"), keys)
      assert(got == viaListFiles(location, keys))
      // the skip rule drops the metadata, hidden, empty and marker
      // files but not data files in `_`/`.`-prefixed directories
      assert(got.map(f => new Path(f.path).getName).sorted == Seq(
        "part-0.parquet", "part-1.parquet", "part-2.parquet", "part-3.parquet",
        "part-4.parquet", "top.parquet"))
      assert(got.find(_.path.endsWith("j=2/part-1.parquet")).map(_.partitionValues)
        .contains(Map("k" -> "a", "j" -> "2")))
      assert(got.find(_.path.endsWith("top.parquet")).map(f => (f.size, f.modTime))
        .contains((15L, 1010000L)))
      assert(new HadoopFileLister(conf).list(root.resolve("missing").toUri.toString, keys).isEmpty)
    } finally {
      Files.walk(root).sorted(java.util.Comparator.reverseOrder[JPath]())
        .forEach(p => Files.delete(p))
    }
  }
}
