package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.catalog.FixtureCatalog
import graft.engine.GlueTableEngine
import graft.listing.{IcebergSnapshotResolver, Publish}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim
import org.scalatest.funsuite.AnyFunSuite

/** The two steps every table format's commit shares: the atomic
  * publish (a Delta commit JSON, a Hudi instant, an Iceberg metadata
  * version) and the Iceberg head read (the metadata JSON at an
  * offset back from the newest).
  */
class PublishSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def conf = Shim.classic(spark).sparkContext.hadoopConfiguration
  private val mapper = new ObjectMapper()

  private def tempDir(prefix: String): Path =
    new Path(java.nio.file.Files.createTempDirectory(prefix).toString)

  private def read(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  test("two writers staging one version: exactly one publishes its body, no staged file stays") {
    val dir = tempDir("graft-publish")
    val fs = dir.getFileSystem(conf)
    val dst = new Path(dir, "00000000000000000001.json")
    // the second writer stages and publishes between the first one's
    // staging and its rename
    var second: Option[Boolean] = None
    val first = Publish(fs, dst, "first body", () => {
      second = Some(Publish(fs, dst, "second body", () => ()))
    })
    assert(second.contains(true) && !first, s"first=$first second=$second")
    assert(read(fs, dst) == "second body")
    val left = fs.listStatus(dir).map(_.getPath.getName).toSeq
    assert(left.filterNot(_.endsWith(".crc")) == Seq(dst.getName), left)
    assert(!left.exists(_.contains(".tmp")), left)
    fs.delete(dir, true)
  }

  /** Every metadata JSON under `metaDir`, newest first by content. */
  private def byContent(fs: FileSystem, metaDir: Path): Seq[JsonNode] =
    fs.listStatus(metaDir).toSeq.map(_.getPath).filter(_.getName.endsWith(".json"))
      .map(p => mapper.readTree(read(fs, p)))
      .sortBy(n => -n.get("last-sequence-number").asLong())

  test("the head read picks the content-sorted JSON at every offset, through every commit kind") {
    val sp = Shim.classic(spark)
    import sp.implicits._
    val loc = tempDir("graft-head-read").toString
    val eng = new GlueTableEngine(spark, new FixtureCatalog())
    def batch(ks: Seq[Long]) = ks.map(k => (k, s"r$k")).toDF("k", "v").coalesce(1)
    eng.writeIcebergTable(batch(0L until 10L), "d", "h", loc)
    eng.appendIcebergTable(batch(10L until 20L), "d", "h")
    eng.deleteIcebergWhere("d", "h", col("k") === 3L)
    eng.deleteIcebergMatching("d", "h", Seq(4L).toDF("k"), Seq("k"))
    eng.mergeIceberg("d", "h", Seq((5L, "u5"), (30L, "u30")).toDF("k", "v"), "k")
    eng.rollbackIcebergTable("d", "h", 1)
    eng.tagIcebergSnapshot("d", "h", "cut")
    eng.evolveIcebergPartitionSpec("d", "h", "k", "bucket[4]")
    eng.renameIcebergColumn("d", "h", "v", "value")
    val metaDir = new Path(s"$loc/metadata")
    val fs = metaDir.getFileSystem(conf)
    val want = byContent(fs, metaDir)
    assert(want.size == 9)
    (0 to want.size).foreach { off =>
      assert(IcebergSnapshotResolver.metadataAt(fs, metaDir, off) == want.lift(off), s"offset $off")
    }
    // the table reads back through the same head read
    assert(eng.tableDF("d", "h").count() == 18L)
    fs.delete(new Path(loc), true)
  }

  test("foreign metadata names fall back to the content sort") {
    val dir = tempDir("graft-foreign-meta")
    val fs = dir.getFileSystem(conf)
    // numeric name prefixes in the REVERSE of the sequence order, so a
    // by-name order would pick the oldest version
    val seqs = Seq(1L, 2L, 3L)
    seqs.foreach { s =>
      val out = fs.create(new Path(dir, f"${4 - s}%05d-${java.util.UUID.randomUUID()}.metadata.json"))
      try out.write(s"""{"last-sequence-number": $s, "snapshots": []}""".getBytes("UTF-8"))
      finally out.close()
    }
    val want = byContent(fs, dir)
    assert(want.map(_.get("last-sequence-number").asLong()) == Seq(3L, 2L, 1L))
    (0 to 3).foreach { off =>
      assert(IcebergSnapshotResolver.metadataAt(fs, dir, off) == want.lift(off), s"offset $off")
    }
    // one writer-named JSON among foreign ones still falls back
    val out = fs.create(new Path(dir, "v9.metadata.json"))
    try out.write("""{"last-sequence-number": 0, "snapshots": []}""".getBytes("UTF-8"))
    finally out.close()
    assert(IcebergSnapshotResolver.metadataAt(fs, dir, 0) == want.headOption)
    fs.delete(dir, true)
  }
}
