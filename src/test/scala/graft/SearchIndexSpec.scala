package graft

import graft.operators.Search
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted inverted-index lifecycle: score parity with the ad hoc
  * BM25, the only-probed-buckets-read guarantee, O(1) corpus stats
  * under appends, replay idempotence, and bounded batch dirs.
  */
class SearchIndexSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private val docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
  private val terms = Seq("spark", "vector", "merge")

  private def freshPath(tag: String) =
    TestSpark.scratch(s"search_index_$tag")

  private def scores(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("indexed BM25 equals the ad hoc corpus-scan BM25") {
    val path = freshPath("eq")
    Search.writeSearchIndex(docs, path)
    val got = scores(Search.bm25Indexed(spark, path, terms, 10))
    val want = scores(Search.bm25TopK(docs, terms, 10))
    assert(got == want)
  }

  test("probe reads only the term-bucket partitions") {
    val path = freshPath("prune")
    Search.writeSearchIndex(docs, path)
    def files(dir: java.io.File): Seq[java.io.File] =
      if (dir.isDirectory) dir.listFiles().toSeq.flatMap(files)
      else if (dir.getName.endsWith(".parquet")) Seq(dir) else Nil
    val totalFiles = files(new java.io.File(s"$path/postings")).size
    assert(totalFiles > 1, s"fixture degenerate: all terms in one bucket ($totalFiles files)")

    val termBuckets = terms.map(Search.termBucketOf(_, Search.IndexBuckets)).distinct
    val probedFiles = new java.io.File(s"$path/postings").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("batch="))
      .flatMap(b => termBuckets.map(tb => files(new java.io.File(b, s"bucket=$tb")).size))
      .sum

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = Search.bm25Indexed(spark, path, terms, 10)
      df.collect()
      val scans = df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty)
      val n = scans.map(_.metrics("numFiles").value).max
      assert(n == probedFiles && n < totalFiles,
        s"expected only the $probedFiles probed-bucket file(s) of $totalFiles, scanned $n")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("append extends the corpus exactly: indexed == ad hoc over the union") {
    val path = freshPath("append")
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    Search.writeSearchIndex(half1, path)
    Search.appendSearchIndex(half2, path, batchToken = "b1")
    val got = scores(Search.bm25Indexed(spark, path, terms, 10))
    val want = scores(Search.bm25TopK(docs, terms, 10))
    assert(got == want, "append must reproduce full-corpus scores (df, N, avgdl included)")

    // same-token replay: postings overwritten, sidecar overwritten —
    // scores unchanged
    Search.appendSearchIndex(half2, path, batchToken = "b1")
    assert(scores(Search.bm25Indexed(spark, path, terms, 10)) == want)
  }

  test("tiered compaction bounds batch dirs and preserves scores; compacted-token replay is a no-op") {
    val path = freshPath("compact")
    Search.writeSearchIndex(docs.filter(col("doc_id") < 100), path)
    val rest = docs.filter(col("doc_id") >= 100)
    val tokens = (0 until 4).map(i => s"t$i")
    tokens.zipWithIndex.foreach { case (tok, i) =>
      Search.appendSearchIndex(rest.filter(col("doc_id") % 4 === i), path,
        batchToken = tok, maxAppendBatches = 2)
    }
    val dirs = new java.io.File(s"$path/postings").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("batch=")).map(_.getName)
    assert(dirs.count(!_.startsWith("batch=compact-")) <= 3, // base + <=2 plain
      s"plain batch dirs unbounded: ${dirs.mkString(", ")}")
    val want = scores(Search.bm25TopK(docs, terms, 10))
    assert(scores(Search.bm25Indexed(spark, path, terms, 10)) == want)

    // a token folded into a compact dir must not re-append
    val folded = tokens.find(t => !dirs.contains(s"batch=$t"))
    assume(folded.nonEmpty, "no token was compacted; raise the batch count")
    Search.appendSearchIndex(rest.limit(50), path, batchToken = folded.get)
    assert(scores(Search.bm25Indexed(spark, path, terms, 10)) == want,
      "replaying a compacted token must be a no-op")
  }

  test("corpus stats count token-less documents (avgdl parity)") {
    import spark.implicits._
    val tiny = Seq((1L, "spark spark merge"), (2L, "vector"), (3L, ""))
      .toDF("doc_id", "text")
    val path = freshPath("stats")
    Search.writeSearchIndex(tiny, path)
    val got = scores(Search.bm25Indexed(spark, path, Seq("spark"), 10))
    val want = scores(Search.bm25TopK(tiny, Seq("spark"), 10))
    assert(got == want, "empty docs must still shape N and avgdl")
  }

  test("ensure is build-once; unreadable meta rebuilds") {
    val path = freshPath("ensure")
    Search.ensureSearchIndex(docs, path)
    val meta = new java.io.File(s"$path/_graft_search_meta.json")
    val mtime = meta.lastModified()
    Search.ensureSearchIndex(docs, path)
    assert(meta.lastModified() == mtime, "second ensure must not rebuild")
    // corrupt through the Hadoop FS so the checksum sidecar stays
    // consistent — the failure under test is a wrong layout, not IO
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      org.apache.spark.sql.graft.Shim.classic(spark).sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$path/_graft_search_meta.json"), true)
    try out.write("{\"layout\": 99}".getBytes) finally out.close()
    Search.ensureSearchIndex(docs, path)
    assert(new String(java.nio.file.Files.readAllBytes(meta.toPath)).contains("\"layout\": 1"),
      "corrupt meta must trigger a rebuild")
  }
}
