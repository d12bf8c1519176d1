package graft

import graft.catalog.CatalogProvider
import graft.engine.GlueTableEngine
import graft.model._
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger

/** AWS-shaped fake provider: a paged GetPartitions surface (NextToken
  * protocol) plus injectable getTable faults. Proves the
  * [[CatalogProvider]] contract documented in `GlueCatalog.scala`
  * from the OUTSIDE — any SDK-backed implementation must behave like
  * this fake's `getPartitions`: drain the token chain (the reference
  * stops after the first page — reference: src/util/glue.ts:114),
  * preserve order, and let the engine layer own retry/bail/caching.
  */
class PagedFakeGlueCatalog(
    pageSize: Int,
    parts: Seq[PartitionInfo],
    tableFaults: Iterator[Option[Throwable]] = Iterator.continually(None))
  extends CatalogProvider {

  val tableCalls = new AtomicInteger(0)
  val pageCalls = new AtomicInteger(0)
  private val root = TestSpark.scratch("paged_glue")

  /** The simulated AWS paged call: one page + the continuation token. */
  def getPartitionsPage(token: Option[Int]): (Seq[PartitionInfo], Option[Int]) = {
    pageCalls.incrementAndGet()
    val from = token.getOrElse(0)
    val next = Some(from + pageSize).filter(_ < parts.size)
    (parts.slice(from, from + pageSize), next)
  }

  override def getTable(database: String, table: String): GlueTable = {
    tableCalls.incrementAndGet()
    tableFaults.next().foreach(e => throw e)
    GlueTable(database, table, Some(s"$root/$database/$table"),
      partitionKeys = Seq(ColumnDef("k")))
  }

  override def getPartitions(database: String, table: String): Seq[PartitionInfo] = {
    val out = Seq.newBuilder[PartitionInfo]
    var token: Option[Int] = None
    var more = true
    while (more) {
      val (page, next) = getPartitionsPage(token)
      out ++= page
      token = next
      more = next.nonEmpty
    }
    out.result()
  }
}

class CatalogConformanceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def parts(n: Int) =
    (1 to n).map(i => PartitionInfo(Seq(f"k$i%03d"), None))

  test("getPartitions drains the NextToken chain; the engine sees every page") {
    val fake = new PagedFakeGlueCatalog(10, parts(25))
    val got = fake.getPartitions("db", "t")
    assert(got.size == 25 && fake.pageCalls.get == 3)
    assert(got.map(_.values.head) == parts(25).map(_.values.head)) // order preserved
    // through the engine: the cached metadata carries all 25 values,
    // not the reference's first page
    val meta = new GlueTableEngine(spark, fake).tableMetadata("db", "t")
    assert(meta.partitionMetadata.exists(_.values.size == 25))
  }

  test("transient getTable failures retry with backoff; one metadata result") {
    val flaky = new PagedFakeGlueCatalog(10, parts(3),
      Iterator[Option[Throwable]](
        Some(new RuntimeException("connection reset")),
        Some(new RuntimeException("connection reset"))) ++ Iterator.continually(None))
    val eng = new GlueTableEngine(spark, flaky)
    val meta = eng.tableMetadata("db", "t")
    assert(meta.partitionMetadata.exists(_.values.size == 3))
    assert(flaky.tableCalls.get == 3) // 2 transient failures + 1 success
    // cached: further metadata calls don't touch the provider
    eng.tableMetadata("db", "t")
    assert(flaky.tableCalls.get == 3)
  }

  test("client errors (4xx) bail after exactly one call, no retries") {
    val denied = new PagedFakeGlueCatalog(10, Nil,
      Iterator.continually(Some(new RuntimeException(
        "AccessDeniedException: User is not authorized (status code: 403)"))))
    val e = intercept[RuntimeException](
      new GlueTableEngine(spark, denied).tableMetadata("db", "t"))
    assert(e.getMessage.contains("403"))
    assert(denied.tableCalls.get == 1)
  }

  test("partition keys shadowing reserved listing columns are rejected") {
    val fake = new PagedFakeGlueCatalog(10, Nil) {
      override def getTable(database: String, table: String): GlueTable =
        GlueTable(database, table, Some("/tmp/x"),
          partitionKeys = Seq(ColumnDef("size"), ColumnDef("dt")))
    }
    val e = intercept[IllegalArgumentException](
      new GlueTableEngine(spark, fake).tableMetadata("db", "t"))
    assert(e.getMessage.contains("size") && e.getMessage.contains("reserved"))
  }

  test("a getPartitions failure is non-fatal: metadata with empty partitions") {
    val broken = new PagedFakeGlueCatalog(10, parts(5)) {
      override def getPartitions(database: String, table: String): Seq[PartitionInfo] =
        throw new RuntimeException("ThrottlingException: Rate exceeded")
    }
    val meta = new GlueTableEngine(spark, broken).tableMetadata("db", "t")
    assert(meta.partitionMetadata.exists(_.values.isEmpty))
  }
}
