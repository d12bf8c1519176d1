package graft

import graft.operators.Similarity
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted ANN index: probe correctness against the ad-hoc
  * quantized ranking, the only-probed-buckets-read guarantee, and
  * build-once semantics.
  */
class AnnIndexSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val emb = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")

  private def freshPath(tag: String) =
    TestSpark.scratch(s"ann_index_$tag")

  test("probe equals the single-probe quantized ranking computed ad hoc") {
    val path = freshPath("eq")
    Similarity.writeAnnIndex(emb, path)
    val qvec = emb.filter(col("vec_id") === 0L).select("embedding")
      .head().getSeq[Float](0)
    val got = Similarity.queryAnnIndex(spark, path, qvec, 10, excludeVecId = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    // expected: quantize everything in-engine, keep the query's
    // bucket, rank by the same integer dot
    val q = Similarity.quantizeInt8(emb)
      .join(emb.select(col("vec_id"), Similarity.bucketId(col("embedding")).as("bucket")), "vec_id")
    val qq = Similarity.quantizeVec(qvec).toSeq
    val qb = Similarity.bucketOf(qvec)
    val dotInt = aggregate(
      zip_with(col("q"), typedLit(qq), (a, b) => a.cast("long") * b.cast("long")),
      lit(0L), (acc, v) => acc + v)
    val want = q.filter(col("bucket") === qb && col("vec_id") =!= 0L)
      .select(col("vec_id"), dotInt.as("score"))
      .orderBy(col("score").desc, col("vec_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    assert(got == want)
    assert(got.nonEmpty)
  }

  test("driver-side bucket and codes match the Spark-computed index rows") {
    val path = freshPath("drv")
    Similarity.writeAnnIndex(emb, path)
    val stored = spark.read.parquet(s"$path/lists")
      .select("vec_id", "q", "bucket").collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Int](1), r.getAs[Number](2).longValue()))).toMap
    val raw = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    raw.foreach { case (id, vec) =>
      val (qStored, bStored) = stored(id)
      assert(Similarity.bucketOf(vec) == bStored, s"bucket mismatch for vec $id")
      assert(Similarity.quantizeVec(vec).toSeq == qStored, s"codes mismatch for vec $id")
    }
  }

  test("probe reads only the probed bucket partitions") {
    val path = freshPath("prune")
    Similarity.writeAnnIndex(emb, path)
    def files(dir: java.io.File): Seq[java.io.File] =
      if (dir.isDirectory) dir.listFiles().toSeq.flatMap(files)
      else if (dir.getName.endsWith(".parquet")) Seq(dir) else Nil
    val totalFiles = files(new java.io.File(s"$path/lists")).size
    assert(totalFiles > 1, s"fixture degenerate: all vectors in one bucket ($totalFiles files)")

    val qvec = emb.filter(col("vec_id") === 0L).select("embedding")
      .head().getSeq[Float](0)
    val qb = Similarity.bucketOf(qvec)
    val probedFiles = new java.io.File(s"$path/lists").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("batch="))
      .map(b => files(new java.io.File(b, s"bucket=$qb")).size).sum

    // AQE off so executedPlan exposes the scan node's metrics directly
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = Similarity.queryAnnIndex(spark, path, qvec, 10, excludeVecId = 0L)
      df.collect()
      val scans = df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty)
      val n = scans.head.metrics("numFiles").value
      assert(n == probedFiles && n < totalFiles,
        s"expected only the $probedFiles probed-bucket file(s) of $totalFiles, scanned $n")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("multiprobe widens to the hamming-1 buckets and keeps single-probe results") {
    val path = freshPath("mp")
    Similarity.writeAnnIndex(emb, path)
    val qvec = emb.filter(col("vec_id") === 7L).select("embedding")
      .head().getSeq[Float](0)
    val single = Similarity.queryAnnIndex(spark, path, qvec, 500, excludeVecId = 7L)
      .collect().map(_.getLong(0)).toSet
    val multi = Similarity.queryAnnIndex(spark, path, qvec, 500, multiprobe = true,
      excludeVecId = 7L).collect().map(_.getLong(0)).toSet
    assert(single.subsetOf(multi))
    assert(multi.size >= single.size)
  }

  test("appended vectors are probe-visible; same-token replay never duplicates; batches stay bounded") {
    val path = freshPath("append")
    Similarity.writeAnnIndex(emb, path)
    val base = spark.read.parquet(s"$path/lists").count()

    // fresh vectors = copies of vec 0/1 shifted into fresh ids: they
    // land in known buckets and rank at the top for their originals
    val fresh = emb.filter(col("vec_id") < 2L)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    Similarity.appendAnnIndex(fresh, path, batchToken = "b1")
    val qvec = emb.filter(col("vec_id") === 0L).select("embedding")
      .head().getSeq[Float](0)
    val top = Similarity.queryAnnIndex(spark, path, qvec, 1, excludeVecId = 0L)
      .collect().head
    assert(top.getLong(0) == 100000L, s"appended duplicate vector must rank first, got $top")

    // replay with the same token: no growth
    Similarity.appendAnnIndex(fresh, path, batchToken = "b1")
    assert(spark.read.parquet(s"$path/lists").count() == base + 2)

    // many tiny appends tier-compact: dir count stays bounded
    (0 until 12).foreach { i =>
      Similarity.appendAnnIndex(
        emb.filter(col("vec_id") === 3L)
          .select((col("vec_id") + 200000L + i).as("vec_id"), col("embedding")),
        path, batchToken = s"t$i", maxAppendBatches = 4)
    }
    val batchDirs = new java.io.File(s"$path/lists").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("batch=")).map(_.getName).toSeq
    assert(batchDirs.size <= 6, s"append batches grew unbounded: $batchDirs")
    // nothing lost: every appended id still present exactly once
    val ids = spark.read.parquet(s"$path/lists")
      .groupBy("vec_id").count().filter(col("count") > 1).count()
    assert(ids == 0, "compaction duplicated vectors")
    assert(spark.read.parquet(s"$path/lists").count() == base + 2 + 12)
  }

  test("batch search equals per-vector probes") {
    val path = freshPath("batch")
    Similarity.writeAnnIndex(emb, path)
    val queries = emb.filter(col("vec_id") % 100 === 0L)
    val got = Similarity.annSearchBatch(spark, path, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    val want = queries.select("vec_id", "embedding").collect().flatMap { row =>
      val qid = row.getLong(0)
      Similarity.queryAnnIndex(spark, path, row.getSeq[Float](1), 5, excludeVecId = qid)
        .collect().zipWithIndex
        .map { case (r, i) => (qid, r.getLong(0), r.getLong(1), i + 1) }
    }.sortBy(t => (t._1, t._4))
    assert(got.toSeq == want.toSeq)
    assert(got.nonEmpty)
  }

  test("batch search plans dynamic partition pruning on the bucket join") {
    val path = freshPath("dpp")
    Similarity.writeAnnIndex(emb, path)
    val queries = emb.filter(col("vec_id") === 0L)
    val df = Similarity.annSearchBatch(spark, path, queries, 5)
    // the index scan's partition filters must carry a dynamicpruning
    // subquery seeded by the broadcast query batch, so only buckets a
    // query actually probes are read at scale
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning on the bucket join:\n$plan")
  }

  test("streaming annIngest keeps the index current and replay-safe") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val path = freshPath("stream")
    Similarity.writeAnnIndex(emb, path)
    val qvec = emb.filter(col("vec_id") === 1L).select("embedding")
      .head().getSeq[Float](0)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.EventStreams.annIngest(
      mem.toDF().toDF("vec_id", "embedding"), path)
    try {
      mem.addData((300001L, qvec.toArray))
      q.processAllAvailable()
    } finally q.stop()
    val top = Similarity.queryAnnIndex(spark, path, qvec, 1, excludeVecId = 1L)
      .collect().head
    assert(top.getLong(0) == 300001L, s"ingested exact duplicate must rank first, got $top")
  }

  test("replay of a batch already folded into a compact dir is a no-op") {
    val path = freshPath("replaycmp")
    Similarity.writeAnnIndex(emb, path)
    val base = spark.read.parquet(s"$path/lists").count()
    // 6 appends at maxAppendBatches=4 -> the first 5 compact away
    (0 until 6).foreach { i =>
      Similarity.appendAnnIndex(
        emb.filter(col("vec_id") === 3L)
          .select((col("vec_id") + 400000L + i).as("vec_id"), col("embedding")),
        path, batchToken = s"r$i", maxAppendBatches = 4)
    }
    val n = spark.read.parquet(s"$path/lists").count()
    assert(n == base + 6)
    // r0's dir is gone (compacted); replaying it must NOT re-append
    Similarity.appendAnnIndex(
      emb.filter(col("vec_id") === 3L)
        .select((col("vec_id") + 400000L).as("vec_id"), col("embedding")),
      path, batchToken = "r0", maxAppendBatches = 4)
    assert(spark.read.parquet(s"$path/lists").count() == n,
      "replayed compacted batch duplicated rows")
  }

  test("rebuilding an index clears previously appended batches") {
    val path = freshPath("rebuild")
    Similarity.writeAnnIndex(emb, path)
    Similarity.appendAnnIndex(
      emb.filter(col("vec_id") === 5L)
        .select((col("vec_id") + 500000L).as("vec_id"), col("embedding")),
      path, batchToken = "stale")
    val corpus = emb.count()
    assert(spark.read.parquet(s"$path/lists").count() == corpus + 1)
    Similarity.writeAnnIndex(emb, path) // rebuild: appended batch must go
    assert(spark.read.parquet(s"$path/lists").count() == corpus,
      "rebuild left stale appended vectors behind")
  }

  test("non-64-dim embeddings bucket identically on driver and executor") {
    import spark.implicits._
    val path = freshPath("dims")
    val vecs = Seq(
      (1L, Array(0.5f, -1.25f, 3.0f, 0.125f, -2.5f, 1.0f)),
      (2L, Array(-0.5f, 1.25f, -3.0f, -0.125f, 2.5f, -1.0f)),
      (3L, Array(1.5f, 2.25f, 0.5f, 1.125f, 0.25f, 2.0f)))
      .toDF("vec_id", "embedding")
    Similarity.writeAnnIndex(vecs, path)
    val stored = spark.read.parquet(s"$path/lists").select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue()).toMap
    vecs.collect().foreach { r =>
      val id = r.getLong(0)
      val v = r.getSeq[Float](1)
      assert(Similarity.bucketOf(v) == stored(id), s"bucket mismatch for 6-dim vec $id")
    }
    // and the probe actually finds a 6-dim duplicate
    val q = vecs.filter(col("vec_id") === 1L).select("embedding").head().getSeq[Float](0)
    val hit = Similarity.queryAnnIndex(spark, path, q, 1).collect()
    assert(hit.nonEmpty && hit.head.getLong(0) == 1L)
  }

  test("a non-default plane count round-trips through meta: build, probe, mine") {
    val path = freshPath("planes8")
    Similarity.writeAnnIndex(emb, path, planes = 8)
    // stored buckets use 8 planes — driver replica must agree
    val stored = spark.read.parquet(s"$path/lists").select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue()).toMap
    assert(stored.values.exists(_ >= 16), "8-plane index never used the high bits")
    val raw = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    raw.take(50).foreach { case (id, vec) =>
      assert(Similarity.bucketOf(vec, planes = 8) == stored(id), s"bucket mismatch vec $id")
    }
    // probe picks the plane count up from meta (no planes argument)
    val qvec = raw(0L)
    val got = Similarity.queryAnnIndex(spark, path, qvec, 5, excludeVecId = 0L)
      .collect().map(_.getLong(0)).toSet
    val qb = Similarity.bucketOf(qvec, planes = 8)
    val want = stored.filter { case (id, b) => b == qb && id != 0L }.keySet
    assert(got.subsetOf(want), "probe crossed bucket boundaries")
    // pair mining honors the wider bucketing too (all pairs intra/hamming-1)
    val pairs = Similarity.annNearDupPairs(spark, path, -1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs.take(100).foreach { case (a, b) =>
      val d = java.lang.Long.bitCount(stored(a) ^ stored(b))
      assert(d <= 1, s"pair ($a,$b) buckets differ by $d bits")
    }
  }

  test("meta without a layout stamp is accepted when the dirs are batch-shaped") {
    val path = freshPath("sniff")
    Similarity.writeAnnIndex(emb, path)
    // simulate a pre-stamp meta (same index, older writer version)
    val hp = new org.apache.hadoop.fs.Path(s"$path/_graft_ann_meta.json")
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(hp, true)
    try out.write("""{"planes": 4, "quant": "int8-sym-trunc"}""".getBytes("UTF-8"))
    finally out.close()
    val qvec = emb.filter(col("vec_id") === 0L).select("embedding")
      .head().getSeq[Float](0)
    // probe must work (dir sniff resolves layout 2), and ensure must
    // NOT rebuild — appended batches would be silently dropped
    assert(Similarity.queryAnnIndex(spark, path, qvec, 1, excludeVecId = 0L)
      .collect().nonEmpty)
    val mtime = new java.io.File(s"$path/_graft_ann_meta.json").lastModified()
    Similarity.ensureAnnIndex(emb, path)
    assert(new java.io.File(s"$path/_graft_ann_meta.json").lastModified() == mtime,
      "ensure rebuilt a compatible pre-stamp index")
  }

  test("ensureAnnIndex builds once; malformed meta fails loudly") {
    val path = freshPath("meta")
    Similarity.ensureAnnIndex(emb, path)
    val marker = new java.io.File(s"$path/_graft_ann_meta.json")
    assert(marker.exists())
    val mtime = marker.lastModified()
    Similarity.ensureAnnIndex(emb, path) // must be a no-op
    assert(marker.lastModified() == mtime, "ensure rebuilt an existing index")

    // meta without a plane count is corrupt — the probe must fail
    // with a named error, not guess a resolution. Written through the
    // Hadoop FS (not raw java.io) so the .crc sidecar stays consistent.
    val hp = new org.apache.hadoop.fs.Path(marker.getPath)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(hp, true)
    try out.write("""{"quant": "int8-sym-trunc", "layout": 2}""".getBytes("UTF-8"))
    finally out.close()
    val qvec = emb.filter(col("vec_id") === 0L).select("embedding")
      .head().getSeq[Float](0)
    val ex = intercept[IllegalStateException] {
      Similarity.queryAnnIndex(spark, path, qvec, 10)
    }
    assert(ex.getMessage.contains("malformed"))
    // and ensure treats it as unusable -> rebuilds
    Similarity.ensureAnnIndex(emb, path)
    assert(Similarity.queryAnnIndex(spark, path, qvec, 1, excludeVecId = 0L)
      .collect().nonEmpty)
  }

  test("PQ: seed vectors encode to their own centroids; a planted duplicate attains the ADC minimum") {
    import spark.implicits._
    val codes = Similarity.pqEncode(emb).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // seed i's subvectors ARE centroid i in every subspace -> packed
    // code = i * (1 + k + k^2 + k^3); distance 0 beats every tie
    val k = Similarity.PqK
    val unit = 1L + k + k.toLong * k + k.toLong * k * k
    (0 until 3).foreach(i => assert(codes(i.toLong) == i * unit, s"seed $i: ${codes(i.toLong)}"))
    assert(codes.values.forall(c => c >= 0 && c < math.pow(k, Similarity.PqM).toLong))

    // plant an exact duplicate of the query vector: its codes equal
    // the query's own argmin codes, so its ADC distance is the
    // attainable minimum -> first rank (ties by vec_id can only put
    // code-identical rows beside it at the same distance)
    val qvec = emb.filter(col("vec_id") === 7L).select("embedding").head().getSeq[Float](0)
    val planted = emb.select("vec_id", "embedding")
      .union(Seq((900000L, qvec)).toDF("vec_id", "embedding"))
    val top = Similarity.pqTopK(planted, 7L, 3).collect()
    val best = top.head.getDouble(1)
    assert(top.filter(_.getDouble(1) == best).exists(_.getLong(0) == 900000L),
      s"planted duplicate must attain the minimal ADC distance: ${top.mkString(", ")}")
  }

  test("PQ: k-means-trained codebooks reach at least seeded-codebook recall") {
    import graft.operators.Clustering
    // exact L2 top-k (ADC approximates L2, so L2 is the right truth set)
    def exactTopK(queryId: Long, k: Int): Set[Long] = {
      val q = emb.filter(col("vec_id") === queryId).select(col("embedding").as("qe"))
      emb.filter(col("vec_id") =!= queryId).crossJoin(broadcast(q))
        .select(col("vec_id"), Clustering.distSq(col("embedding"), col("qe")).as("d"))
        .orderBy(col("d"), col("vec_id")).limit(k)
        .collect().map(_.getLong(0)).toSet
    }
    def recall(queryId: Long, trained: Boolean): Double = {
      val truth = exactTopK(queryId, 10)
      val got = Similarity.pqTopK(emb, queryId, 10, trained = trained)
        .collect().map(_.getLong(0)).toSet
      (truth intersect got).size.toDouble / truth.size
    }
    val queries = Seq(0L, 3L, 7L, 11L, 19L)
    val seeded = queries.map(recall(_, trained = false))
    val trained = queries.map(recall(_, trained = true))
    // Lloyd rounds move centroids toward the data's actual structure;
    // across the query set the trained books must never lose to the
    // first-k-vectors seeding (the oracle-exactness choice)
    assert(trained.sum >= seeded.sum,
      s"trained recall ${trained.sum / queries.size} below seeded ${seeded.sum / queries.size}")

    // trained codebooks have the declared shape and train determinism:
    // two runs from the same corpus produce identical books
    val b1 = Similarity.pqCodebooksTrained(emb, iters = 2)
    val b2 = Similarity.pqCodebooksTrained(emb, iters = 2)
    assert(b1 == b2, "training must be deterministic")
    assert(b1.size == Similarity.PqM && b1.forall(_.size == Similarity.PqK))
  }

  test("binary signatures: known sign flips produce the exact Hamming distance") {
    // query: all-positive 64-dim; candidates flip signs at known dims
    val qv = Array.fill(64)(1.0f)
    def flipped(dims: Int*) = {
      val a = Array.fill(64)(1.0f)
      dims.foreach(d => a(d - 1) = -1.0f)
      a.toSeq
    }
    val df = Seq(
      (0L, qv.toSeq, 0), // the query
      (1L, qv.toSeq, 0), // identical -> ham 0
      (2L, flipped(1), 0), // first dim of the LO word
      (3L, flipped(64), 0), // last dim of the HI word
      (4L, flipped(1, 32, 33, 64), 0), // both word boundaries
      (5L, flipped((1 to 64): _*), 0) // all 64 flipped
    ).toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val got = Similarity.binaryTopK(df, 0L, 10, shortlist = 10).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 4, 5L -> 64))
  }

  test("binary prefilter with a full-corpus shortlist equals brute-force cosine ids") {
    // with shortlist >= corpus the Hamming stage filters nothing, so
    // the rerank must reproduce the exact brute-force ranking
    val n = emb.count().toInt
    val got = Similarity.binaryTopK(emb, 0L, 10, shortlist = n)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val want = Similarity.bruteForceTopK(emb, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
  }

  test("binary shortlist boundary is deterministic under ties") {
    // two corpora that differ only in row order produce the same cascade
    val a = Similarity.binaryTopK(emb, 0L, 10).collect().toSeq
    val b = Similarity.binaryTopK(emb.orderBy(desc("vec_id")), 0L, 10).collect().toSeq
    assert(a == b)
  }

  test("filteredTopK returns k matches where post-filtering would starve") {
    import TestSpark.spark.implicits._
    // query [1,0]; the 5 most-similar vectors all carry label 0, the
    // label-1 vectors rank below them — a post-filter of the
    // unfiltered top-3 finds NOTHING with label 1
    val vs = (Seq((0L, Seq(1.0f, 0.0f), 0)) ++
      (1L to 5L).map(i => (i, Seq(1.0f, i * 0.001f), 0)) ++
      (6L to 9L).map(i => (i, Seq(0.5f, 0.5f), 1))
      ).toDF("vec_id", "embedding", "label")
    val filtered = Similarity.filteredTopK(vs, 0L, Seq(1), k = 3)
      .collect().map(_.getLong(0)).toSeq
    assert(filtered.length == 3 && filtered.forall(id => id >= 6L && id <= 9L),
      s"pre-filter must return 3 label-1 vectors: $filtered")
    val unfilteredTop3 = Similarity.quantizedTopK(vs, 0L, 3)
      .collect().map(_.getLong(0)).toSet
    assert(unfilteredTop3.forall(_ <= 5L),
      "the unfiltered top-3 is all label-0 — post-filtering it would return zero rows")
  }

  test("mmrRerank matches a brute-force greedy and actually diversifies") {
    // hand corpus: query [1,0]; a tight near-dup cluster along the
    // query axis plus two off-axis vectors — plain top-3 is the
    // cluster, MMR must break it up
    val vs = Seq(
      (0L, Seq(1.0f, 0.0f)),  // query
      (1L, Seq(1.0f, 0.01f)), (2L, Seq(1.0f, 0.02f)), (3L, Seq(0.99f, 0.0f)),
      (4L, Seq(0.5f, 0.8f)), (5L, Seq(0.4f, -0.9f))
    ).toDF("vec_id", "embedding")
    // diversity-leaning lambda (1:2): the near-dup cluster's mutual
    // similarity must outweigh its relevance edge
    val got = Similarity.mmrRerank(vs, 0L, shortlist = 5, k = 3,
      lamNum = 1L, divNum = 2L)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq

    // brute-force reference: same int8 quantization, same greedy
    def quant(v: Seq[Float]): Array[Int] = Similarity.quantizeVec(v)
    val codes = vs.collect().map(r =>
      r.getLong(0) -> quant(r.getSeq[Float](1))).toMap
    def dot(a: Array[Int], b: Array[Int]) =
      a.zip(b).map { case (x, y) => x.toLong * y }.sum
    val qq = codes(0L)
    var remaining = codes.toSeq.filter(_._1 != 0L)
      .map { case (id, c) => (id, c, dot(c, qq)) }
      .sortBy { case (id, _, rel) => (-rel, id) }.take(5)
    var sel = Seq.empty[(Long, Array[Int], Long)]
    while (sel.size < 3) {
      val scored = remaining.map { case (id, c, rel) =>
        val ms = if (sel.isEmpty) 0L else sel.map(s => dot(c, s._2)).max
        (id, c, 1L * rel - 2L * ms)
      }
      val best = scored.minBy { case (id, _, m) => (-m, id) }
      sel = sel :+ best
      remaining = remaining.filter(_._1 != best._1)
    }
    val want = sel.zipWithIndex.map { case ((id, _, sc), i) => (i + 1, id, sc) }
    assert(got == want)
    // diversity: the plain top-3 is the near-dup cluster {1,2,3};
    // MMR must pull in at least one off-axis vector
    assert(got.map(_._2).toSet.exists(Set(4L, 5L)),
      s"MMR kept the whole near-dup cluster: ${got.map(_._2)}")
  }

  test("kNN-graph blocking resolution scales with corpus size, floored at 6 planes") {
    import graft.operators.Similarity.autoPlanes
    // floor: every sf<=1 corpus keeps the measured 20k sweet spot
    assert(autoPlanes(500) == 6)
    assert(autoPlanes(2000) == 6)
    assert(autoPlanes(20000) == 6)
    // growth: occupancy <= ~320/bucket (sf3 measured 48 s -> 8.4 s)
    assert(autoPlanes(60000) == 8)
    assert(autoPlanes(200000) == 10)
    assert(autoPlanes(1000000) == 12)
    // monotone, and occupancy bound holds across 4 decades
    var prev = 0
    Seq(1L, 1000L, 10000L, 100000L, 1000000L, 10000000L).foreach { n =>
      val p = autoPlanes(n)
      assert(p >= prev); prev = p
      assert(n.toDouble / (1L << p) <= 320.0 || p == 6)
    }
  }
}
