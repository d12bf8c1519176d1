package graft

import graft.catalog.FixtureCatalog
import graft.fixtures.TestFixtures
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ADVICE r12 (high): driver-side `canonPath` literals are compared
  * against column-side `canonPathCol` values in the Delta DV isin
  * filter, the changelog position legs, and the MOR-delete affected-
  * file mapping. The two rules MUST emit the same string for the same
  * URI — on object-store paths the old `host+path` driver rule
  * dropped the leading slash (`s3://b/k` → `b/k` vs the column's
  * `/b/k`), so the filters matched nothing and DV-deleted rows
  * silently reappeared. All local-FS tests pass either way (the rules
  * coincide for authority-less URIs), which is exactly why this spec
  * pins the scheme-qualified-with-authority cases.
  */
class PathCanonSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val engine = TestFixtures.engineFor(spark, TestSpark.sfDir)

  private def columnForm(p: String): String = {
    val sp = org.apache.spark.sql.graft.Shim.classic(spark)
    import sp.implicits._
    Seq(p).toDF("p").select(engine.canonPathCol(col("p"))).head().getString(0)
  }

  test("canonPath agrees with canonPathCol across schemes and authorities") {
    val uris = Seq(
      "s3://bucket/table/part=1/f.parquet",       // object store, authority
      "s3a://bucket/table/f.parquet",              // s3a scheme
      "s3a://bucket/deletes_s3_tok/x.parquet",     // writer sidecar shape
      "hdfs://namenode:8020/warehouse/t/f.parquet",// authority WITH port
      "file:/tmp/graft/t/f.parquet",               // single-slash file URI
      "file:///tmp/graft/t/f.parquet",             // triple-slash file URI
      "/tmp/graft/t/f.parquet",                    // bare absolute path
      "s3://bucket/t/k=2026-01-01/f.parquet"       // partition segment kept
    )
    uris.foreach { u =>
      assert(engine.canonPath(u) == columnForm(u),
        s"canonPath and canonPathCol disagree for $u: " +
          s"'${engine.canonPath(u)}' vs '${columnForm(u)}'")
    }
  }

  test("object-store URIs keep the bucket and the leading slash") {
    assert(engine.canonPath("s3://bucket/t/f.parquet") == "/bucket/t/f.parquet")
    assert(engine.canonPath("hdfs://nn:8020/a/b") == "/nn:8020/a/b")
    assert(engine.canonPath("file:/tmp/x") == "/tmp/x")
  }

  test("scheme variants of the same object collapse to one canonical form") {
    val forms = Seq("s3://bucket/t/f.parquet", "s3a://bucket/t/f.parquet",
      "s3n://bucket/t/f.parquet")
    assert(forms.map(engine.canonPath).distinct.size == 1)
  }

  test("URI-encoded and literal forms of one path canonicalize identically (r14)") {
    // `_metadata.file_path` is a PROPER URI: a space in a partition
    // value rides as %20 while manifests/logs carry the literal
    // writer path. Both forms must land on one canonical string, or
    // every path-keyed join silently misses the encoded files.
    val literal = "/t/o_orderpriority=4-NOT SPECIFIED/f.parquet"
    val encoded = "file:///t/o_orderpriority=4-NOT%20SPECIFIED/f.parquet"
    assert(engine.canonPath(literal) == columnForm(encoded),
      s"'${engine.canonPath(literal)}' vs '${columnForm(encoded)}'")
    assert(columnForm(literal) == columnForm(encoded))
    // literal '+' survives (url_decode alone would form-decode it)
    assert(columnForm("/t/k=a+b/f.parquet") == "/t/k=a+b/f.parquet")
    assert(engine.canonPath("/t/k=a+b/f.parquet") == "/t/k=a+b/f.parquet")
    // a stray '%' that is not a valid escape falls back, both sides
    assert(columnForm("/t/100%off/f.parquet") == engine.canonPath("/t/100%off/f.parquet"))
  }

  test("a proxied scan's file path canonicalizes to its listing path's key") {
    // With a proxy the scan reads `http://proxy:8080/bucket/...` where
    // the listing, the deletion-vector lists and the delete files
    // name `s3://bucket/...`; the scan side must land on the same key,
    // or merge-on-read anti-joins match nothing and deleted rows
    // come back.
    val sp = org.apache.spark.sql.graft.Shim.classic(spark)
    import sp.implicits._
    val proxy = "http://proxy:8080/"
    val proxiedEngine = new graft.engine.GlueTableEngine(spark, new FixtureCatalog(),
      graft.model.CacheConfig(proxyAddress = Some(proxy)))
    def scanForm(eng: graft.engine.GlueTableEngine, filePath: String, proxied: Boolean): String =
      Seq(filePath).toDF("p").select(eng.scanPathCol(col("p"), proxied)).head().getString(0)
    val raws = Seq(
      "s3://bucket/t/k=1/f.parquet",
      "s3://bucket/t/o_orderpriority=4-NOT SPECIFIED/f.parquet", // %20 in the scan's URI
      "s3://bucket/t/k=a+b/f.parquet")
    raws.foreach { raw =>
      // `_metadata.file_path` of the proxied file, as Spark reports it
      val scanned = org.apache.spark.paths.SparkPath
        .fromPath(new org.apache.hadoop.fs.Path(raw.replaceFirst("^s3://", proxy))).toString
      assert(scanned.startsWith(proxy))
      val key = engine.canonPath(raw) // deletion-vector list form
      assert(columnForm(raw) == key)  // delete-file and sequence key form
      assert(scanForm(proxiedEngine, scanned, proxied = true) == key, s"$raw read as $scanned")
      // unproxied reads, and engines without a proxy, are unchanged
      val plain = org.apache.spark.paths.SparkPath.fromPath(new org.apache.hadoop.fs.Path(raw)).toString
      assert(scanForm(proxiedEngine, plain, proxied = false) == key)
      assert(scanForm(engine, plain, proxied = true) == key)
    }
  }

  test("stored sidecar paths round-trip: canonPathCol(storedPathCol(p)) == p (ADVICE r15)") {
    // Delete/DV sidecars persist CANONICAL paths, and every reader
    // re-canonicalizes what it loads (externally-written delete files
    // carry raw writer paths, so it must). The stored form therefore
    // has to be a FIXED POINT of the read rule — a canonical path
    // holding a literal percent-escape ('50%25') would otherwise
    // decode twice, read back as '50%', and silently skip its rows.
    val sp = org.apache.spark.sql.graft.Shim.classic(spark)
    import sp.implicits._
    def roundTrip(p: String): String =
      Seq(p).toDF("p")
        .select(engine.canonPathCol(engine.storedPathCol(col("p"))))
        .head().getString(0)
    val canonicals = Seq(
      "/t/o_orderpriority=4-NOT SPECIFIED/f.parquet", // space (decoded)
      "/t/k=50%25/f.parquet",                         // literal percent-escape
      "/t/100%off/f.parquet",                         // stray % (no valid escape)
      "/t/k=a+b/f.parquet",                           // literal plus
      "/t/k=a+b%25c/f.parquet",                       // plus AND percent together
      "/bucket/t/f.parquet"                           // plain common case
    )
    canonicals.foreach { p =>
      assert(roundTrip(p) == p, s"stored form of $p read back as ${roundTrip(p)}")
    }
  }
}
