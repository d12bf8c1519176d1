package graft

import graft.listing.ColRange
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, GreaterThan, Literal, ScalarSubquery}
import org.apache.spark.sql.graft.PreListedFileIndex
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Unit behavior of the pre-listed FileIndex: partition pruning via
  * bound predicates, safe-superset fallback for unbindable filters,
  * and real-size statistics.
  */
class PreListedFileIndexSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("m", IntegerType)))
  private val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)

  private def part(k: String, m: Integer, sizes: Long*): (InternalRow, Seq[FileStatus]) =
    (toCatalyst(Row(k, m)).asInstanceOf[InternalRow],
      sizes.zipWithIndex.map { case (sz, i) =>
        new FileStatus(sz, false, 1, 1L, 42L, new Path(s"/data/k=$k/m=$m/f$i.parquet"))
      })

  private val index = new PreListedFileIndex(
    schema,
    Seq(part("a", 1, 10L, 20L), part("a", 2, 30L), part("b", 1, 40L), part(null, 3, 50L)),
    Seq(new Path("/data")))

  private val kAttr = AttributeReference("k", StringType)()
  private val mAttr = AttributeReference("m", IntegerType)()

  test("no filters returns every partition") {
    assert(index.listFiles(Nil, Nil).size == 4)
    assert(index.inputFiles.length == 5)
  }

  test("partition filters prune, typed and null-safe") {
    val byK = index.listFiles(Seq(EqualTo(kAttr, Literal("a"))), Nil)
    assert(byK.size == 2 && byK.flatMap(_.files).map(_.getLen).sum == 60L)
    val byBoth = index.listFiles(
      Seq(EqualTo(kAttr, Literal("a")), GreaterThan(mAttr, Literal(1))), Nil)
    assert(byBoth.size == 1 && byBoth.head.files.map(_.getLen).sum == 30L)
    // null partition value never satisfies an equality predicate
    assert(!index.listFiles(Seq(EqualTo(kAttr, Literal("a"))), Nil)
      .exists(_.values.isNullAt(0)))
  }

  test("unbindable filters fall back to the full (safe superset) listing") {
    // a subquery-bearing predicate can't be evaluated driver-side here
    val sub = ScalarSubquery(org.apache.spark.sql.catalyst.plans.logical.LocalRelation(kAttr))
    assert(index.listFiles(Seq(EqualTo(kAttr, sub)), Nil).size == 4)
    // a filter referencing a non-partition column likewise
    val other = AttributeReference("not_a_key", StringType)()
    assert(index.listFiles(Seq(EqualTo(other, Literal("x"))), Nil).size == 4)
  }

  test("sizeInBytes is the real on-disk total (broadcast statistics)") {
    // default fileCompressionFactor is 1.0 → exact byte sum
    assert(index.sizeInBytes == 150L)
  }

  test("stats are asked for only with a data filter, and only for the pruned files") {
    val asked = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val x = AttributeReference("x", IntegerType)()
    val withStats = new PreListedFileIndex(schema,
      Seq(part("a", 1, 10L, 20L), part("a", 2, 30L), part("b", 1, 40L)),
      Seq(new Path("/data")),
      paths => {
        asked += paths
        // only /data/k=a/m=1/f0.parquet has a range: x in [0, 10]
        paths.map(p => if (p.endsWith("k=a/m=1/f0.parquet"))
          Map("x" -> ColRange(0, 10, allNulls = false)) else Map.empty[String, ColRange])
      })
    val byK = Seq(EqualTo(kAttr, Literal("a")))
    assert(withStats.listFiles(byK, Nil).flatMap(_.files).size == 3)
    assert(asked.isEmpty, "no data filter, no stats")
    val kept = withStats.listFiles(byK, Seq(GreaterThan(x, Literal(500))))
      .flatMap(_.files.map(_.getPath.toString))
    assert(asked.map(_.toSet) == Seq(Set("/data/k=a/m=1/f0.parquet",
      "/data/k=a/m=1/f1.parquet", "/data/k=a/m=2/f0.parquet")))
    assert(kept.toSet == Set("/data/k=a/m=1/f1.parquet", "/data/k=a/m=2/f0.parquet"))
  }

  test("file statuses preserve listing-time size and mtime (no re-stat)") {
    val statuses = index.listFiles(Nil, Nil).flatMap(_.files)
    assert(statuses.forall(_.getModificationTime == 42L))
    assert(statuses.map(_.getLen).sorted == Seq(10L, 20L, 30L, 40L, 50L))
  }
}
