package graft

import graft.functions.CrossHash
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pipeline-operator semantics: LSH candidate generation must agree
  * with brute-force ground truth at small scale.
  */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
  private lazy val emb = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")

  /** Brute-force trigram-jaccard pairs at a threshold. */
  private def brutePairs(threshold: Double): Set[(Long, Long)] = {
    val sh = docs.select(col("doc_id"), CrossHash.shingles(col("text"), 3).as("sh"))
    val a = sh.select(col("doc_id").as("a"), col("sh").as("sha"))
    val b = sh.select(col("doc_id").as("b"), col("sh").as("shb"))
    a.crossJoin(b).filter(col("a") < col("b"))
      .withColumn("jac", size(array_intersect(col("sha"), col("shb"))).cast("double") /
        size(array_union(col("sha"), col("shb"))))
      .filter(col("jac") >= threshold)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("minhash-LSH pairs equal brute-force pairs at threshold 0.8") {
    val lsh = Dedup.minhashPairs(docs, 0.8).select("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == brutePairs(0.8))
    assert(lsh.nonEmpty) // the corpus has planted near-dupes
  }

  test("simhash band-LSH is exact for hamming <= 3 (pigeonhole)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue)
    val viaLsh = Dedup.simhashPairs(docs, 3).collect().map(key).toSet
    val sigs = Dedup.simhashSignatures(docs)
    val a = sigs.select(col("doc_id").as("a"), col("sim").as("sa"))
    val b = sigs.select(col("doc_id").as("b"), col("sim").as("sb"))
    val brute = a.crossJoin(b).filter(col("a") < col("b"))
      .withColumn("dist", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .filter(col("dist") <= 3)
      .select("a", "b", "dist")
      .collect().map(key).toSet
    assert(viaLsh == brute)
  }

  test("prefix-filter ngram jaccard equals quadratic definition") {
    val pref = Dedup.ngramJaccardPairs(docs, 3, 0.8).select("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pref == brutePairs(0.8))
  }

  test("inverted-index and prefix-filter jaccard agree (lower threshold)") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inv = pairs(Dedup.ngramJaccardPairsInverted(docs, 2, 0.5))
    val pref = pairs(Dedup.ngramJaccardPairs(docs, 2, 0.5))
    assert(inv == pref && pref.nonEmpty)
  }

  test("df-ordered prefix (AllPairs rare-first) yields identical pairs") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the PPJoin bound holds under any shared total order; the
    // (df, hash) order must produce exactly the hash order's result
    val dfo = pairs(Dedup.ngramJaccardPairsDfOrdered(docs, 2, 0.5))
    val pref = pairs(Dedup.ngramJaccardPairs(docs, 2, 0.5))
    assert(dfo == pref && pref.nonEmpty)
    val dfo3 = pairs(Dedup.ngramJaccardPairsDfOrdered(docs, 3, 0.8))
    val pref3 = pairs(Dedup.ngramJaccardPairs(docs, 3, 0.8))
    assert(dfo3 == pref3)
  }

  test("dense direct verification equals the prefix join (both exact plans)") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val dense = pairs(Dedup.denseJaccardPairs(docs, 2, 0.5))
    val pref = pairs(Dedup.ngramJaccardPairsDfOrdered(docs, 2, 0.5))
    assert(dense == pref && dense.nonEmpty)
    val dense3 = pairs(Dedup.denseJaccardPairs(docs, 3, 0.8))
    val pref3 = pairs(Dedup.ngramJaccardPairsDfOrdered(docs, 3, 0.8))
    assert(dense3 == pref3)
    // the measured selector picks dense on this flat-vocabulary
    // fixture: no candidate row is shuffled — the pair loop is the
    // sorted-length-window AllPairs scan over the sc.broadcast
    // signature index (eager by design since the r13 lazy-shape
    // regression — see denseJaccardPairs' scaladoc), so the executed
    // plan is just the probe-side spread feeding the scan: ONE
    // shuffle, NO join operator of any kind
    val auto = Dedup.ngramJaccardPairs(docs, 2, 0.5)
    val plan = auto.queryExecution.sparkPlan.toString
    assert(!plan.contains("Join"), plan.take(800))
  }

  test("the adaptive selector never builds the dense index on the prefix path") {
    // r12's speculation concern, re-pinned after the r13 lazy-shape
    // reversal (the lazy index column COPIED itself into every join
    // output row — see denseJaccardPairs' scaladoc): the dense
    // constructor's collect is gated BEHIND the selector, so a
    // prefix-path corpus pays only the one-pass decision stats —
    // never a signature-table collect.
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def zipfText() =
      Seq.fill(60)("w" + math.exp(rnd.nextDouble() * math.log(2000.0)).toInt).mkString(" ")
    val zipfDocs = (0L until 300L).map(i => (i, zipfText())).toDF("doc_id", "text")
      .persist()
    zipfDocs.count()
    try {
      val before = Dedup.denseBuilds.get()
      Dedup.ngramJaccardPairs(zipfDocs, 2, 0.5) // prefix path on a Zipf vocabulary
      assert(Dedup.denseBuilds.get() == before,
        "prefix-path construction must never collect a dense signature index")
      // and the flat-vocabulary fixture DOES go dense (the seam works)
      Dedup.ngramJaccardPairs(docs, 2, 0.5)
      assert(Dedup.denseBuilds.get() == before + 1)
    } finally { zipfDocs.unpersist(); () }
  }

  test("default (df-ordered) path matches inverted truth on a Zipf corpus") {
    import spark.implicits._
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // a Zipf corpus (log-uniform token draw => P(k) ~ 1/k) — the
    // vocabulary shape the rare-first default exists for; planted
    // near-dups guarantee a non-empty answer
    val rnd = new scala.util.Random(7)
    def zipfText() =
      Seq.fill(60)("w" + math.exp(rnd.nextDouble() * math.log(2000.0)).toInt).mkString(" ")
    val originals = (0L until 400L).map(i => (i, zipfText()))
    val nearDups = originals.take(10).map { case (i, t) =>
      (400L + i, t.replaceFirst("\\w+", "mutated"))
    }
    val zipfDocs = (originals ++ nearDups).toDF("doc_id", "text")
    val autoDf = Dedup.ngramJaccardPairs(zipfDocs, 2, 0.5)
    // a Zipf vocabulary keeps candidate density low, so the measured
    // selector stays on the prefix join (no broadcast nested loop)
    assert(!autoDf.queryExecution.sparkPlan.toString.contains("BroadcastNestedLoopJoin"))
    val auto = pairs(autoDf)
    val inv = pairs(Dedup.ngramJaccardPairsInverted(zipfDocs, 2, 0.5))
    assert(auto == inv && auto.nonEmpty)
  }

  test("LSH ANN results carry exact cosines, ranked descending") {
    val brute = Similarity.bruteForceTopK(emb, 0L, 499).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val lsh = Similarity.lshTopK(emb, 0L, 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(lsh.nonEmpty)
    // each LSH hit's cosine equals the brute-force value for that id
    lsh.foreach { case (id, cos) => assert(brute(id) == cos) }
    // ranked descending
    assert(lsh.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
  }

  test("multiprobe LSH recall beats single-probe on the fixture embeddings") {
    val k = 10
    def recall(queryId: Long, f: (org.apache.spark.sql.DataFrame, Long, Int) => org.apache.spark.sql.DataFrame): Double = {
      val brute = Similarity.bruteForceTopK(emb, queryId, k).collect().map(_.getLong(0)).toSet
      val got = f(emb, queryId, k).collect().map(_.getLong(0)).toSet
      (brute intersect got).size.toDouble / brute.size
    }
    val queries = Seq(0L, 1L, 2L, 3L, 4L)
    val single = queries.map(recall(_, Similarity.lshTopK))
    val multi = queries.map(recall(_, Similarity.lshTopKMultiprobe))
    // multiprobe candidates are a superset per query, so recall never drops…
    queries.indices.foreach(i =>
      assert(multi(i) >= single(i), s"query ${queries(i)}: ${multi(i)} < ${single(i)}"))
    // …and across the query set it strictly improves
    assert(multi.sum > single.sum,
      s"multiprobe recall ${multi.sum / queries.size} not above single-probe ${single.sum / queries.size}")
  }

  test("IVF top-k recalls most of the brute-force top-k") {
    val brute = Similarity.bruteForceTopK(emb, 0L, 10).collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(emb, 0L, 10, nprobe = 4).collect().map(_.getLong(0)).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall too low: $recall")
  }

  test("semantic dedup keeps the smallest id of each similar cluster-mates group") {
    import spark.implicits._
    val v = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val w = Seq(0.0f, 1.0f, 0.0f, 0.0f)
    val mixed = Seq(0.7f, 0.7f, 0.0f, 0.0f) // cos ~0.7 with both axes
    val embs = Seq(
      (1L, v), (2L, v), (3L, v), // identical triple -> keep 1, drop 2,3
      (10L, w), (11L, mixed))    // mixed is far from w at 0.95
      .toDF("vec_id", "embedding")
    val got = graft.operators.Dedup.semanticDedup(embs, k = 2, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got(1L) == false && got(2L) && got(3L), s"triple: $got")
    assert(got(10L) == false, s"singleton flagged: $got")
    // mixed: dup only if it shares a cluster AND cos >= 0.95 with a
    // smaller id — cos(mixed, v) ~ 0.707, so never
    assert(got(11L) == false, s"sub-threshold neighbor flagged: $got")
  }

  test("exact dedup stats count planted duplicates consistently") {
    val row = Dedup.exactStats(docs).agg(sum("n_docs"), sum("n_uniq")).collect().head
    assert(row.getLong(0) == docs.count())
    assert(row.getLong(1) <= row.getLong(0))
  }

  test("incremental pairs equal brute-force pairs having a fresh member") {
    val expected = brutePairs(0.8).filter { case (a, b) => a % 5 == 0 || b % 5 == 0 }
    val got = Dedup.incrementalPairs(
      docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0), 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    assert(got.nonEmpty)
    // and it found strictly fewer pairs than the full self-join would
    assert(got.size < brutePairs(0.8).size)
  }

  /** Reference union-find over a pair list. */
  private def unionFind(pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("persisted corpus index: identical pairs, no corpus re-shingle on batch 2") {
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val fresh = docs.filter(col("doc_id") % 5 === 0)
    val idx = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(TestSpark.scratch("corpusidx"))).toString
    Dedup.writeCorpusIndex(corpus, idx, 3, 0.8)
    val indexed = Dedup.incrementalPairsIndexed(spark, idx, fresh)
    assert(pairSet(indexed) == pairSet(Dedup.incrementalPairs(corpus, fresh, 3, 0.8)))
    // batch 2 must touch ONLY the index and the fresh side: no scan of
    // the corpus documents source (= no re-shingle, no text read).
    // r16: the fresh side is persisted inside the operator, so file
    // scans may live inside InMemoryRelation cached plans — traverse
    // through them (the assertion's subject is unchanged).
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          allScans(im.relation.cachedPlan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.inputPlan)
      }.flatten
    val scanExecs = allScans(indexed.queryExecution.sparkPlan)
    val scans = scanExecs.flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(scans.nonEmpty)
    val offIndex = scans.filterNot(_.contains(new java.io.File(idx).getName))
    assert(offIndex.forall(_.contains("documents")), s"unexpected scans: $offIndex")
    // ...and the only documents scans are the FRESH probe's (pushed
    // doc_id % 5 = 0 filter), never the corpus split
    val docScans = scanExecs.filter(
      _.relation.location.rootPaths.exists(_.toString.contains("documents")))
    assert(docScans.nonEmpty && docScans.forall(_.dataFilters.exists(_.toString.contains("% 5) = 0"))),
      docScans.map(_.dataFilters.mkString(",")).mkString("; "))
  }

  test("corpus index append: batch 3 probes corpus+batch2 without re-shingling either") {
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b1 = docs.filter(col("doc_id") % 3 === 0)
    val b2 = docs.filter(col("doc_id") % 3 === 1)
    val b3 = docs.filter(col("doc_id") % 3 === 2)
    val idx = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(TestSpark.scratch("corpusidx_app"))).toString
    Dedup.writeCorpusIndex(b1, idx, 3, 0.8)
    Dedup.appendCorpusIndex(b2, idx)
    val got = pairSet(Dedup.incrementalPairsIndexed(spark, idx, b3))
    val want = pairSet(Dedup.incrementalPairs(b1.unionByName(b2), b3, 3, 0.8))
    assert(got == want && got.nonEmpty)
    // probing with mismatched parameters is rejected, not silently wrong
    val e = intercept[IllegalStateException](
      Dedup.incrementalPairsIndexed(spark, idx + "_nope", b3))
    assert(e.getMessage.contains("no corpus index"))
  }

  test("connected components fail loudly when the diameter exceeds maxRounds") {
    import spark.implicits._
    // a 12-node path needs ~11 propagation rounds: with maxRounds=4
    // the far end never learns the min label — partial labels would be
    // silently wrong clusters, so the operator must throw instead
    val path = (0L until 12L).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("a", "b")
    val e = intercept[IllegalStateException](Dedup.connectedComponents(path, maxRounds = 4))
    assert(e.getMessage.contains("converge"))
    // the same graph converges fine with an adequate bound
    val labels = Dedup.connectedComponents(path).collect()
    assert(labels.length == 12 && labels.forall(_.getLong(1) == 0L))
  }

  test("contraction phase: a 10k-node chain converges where diameter-bound propagation cannot") {
    import spark.implicits._
    // diameter 9999 — plain min-label would need ~10k rounds; the
    // hybrid switches to large-star/small-star after MinLabelRounds
    // and contracts in O(log² n) rounds
    val n = 10000L
    val path = (0L until n).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("a", "b")
    val labels = Dedup.connectedComponents(path)
    assert(labels.count() == n)
    assert(labels.filter(col("cluster_id") =!= 0L).isEmpty,
      "every chain node must label to the component minimum 0")
  }

  test("alternating contraction labels branchy multi-component graphs correctly") {
    import spark.implicits._
    // three components incl. a cycle and duplicate/reversed pairs
    val pairs = Seq((5L, 9L), (9L, 1L), (2L, 7L), (7L, 2L), (8L, 3L),
      (3L, 4L), (4L, 8L)).toDF("a", "b")
    val got = Dedup.alternatingComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(5L -> 1L, 9L -> 1L, 1L -> 1L,
      2L -> 2L, 7L -> 2L, 8L -> 3L, 3L -> 3L, 4L -> 3L))
    // empty input stays empty
    assert(Dedup.alternatingComponents(Seq.empty[(Long, Long)].toDF("a", "b"))
      .collect().isEmpty)
  }

  test("connected components of an empty pair list are empty, not a crash") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.connectedComponents(empty).collect().isEmpty)
    // huge 64-bit ids: the decimal convergence sum must not wrap
    val big = Seq((Long.MaxValue - 1, Long.MaxValue), (Long.MaxValue - 2, Long.MaxValue - 1))
      .toDF("a", "b")
    val got = Dedup.connectedComponents(big)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.values.toSet == Set(Long.MaxValue - 2))
  }

  test("connected components: min label propagates beyond one hop") {
    import spark.implicits._
    // path 1-2-3-4 (diameter 3), triangle {10,11,12}, pair {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (11L, 12L), (20L, 21L)).toDF("a", "b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components keep only the frame their result reads") {
    import spark.implicits._
    val sc = spark.sparkContext
    val hand = Seq((1L, 2L), (2L, 3L), (10L, 11L), (10L, 12L), (20L, 21L)).toDF("a", "b")
    // a 12-node path exceeds the min-label budget and falls through to
    // the contraction phase
    val path = (0L until 12L).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("a", "b")
    Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "min-label" -> (() => Dedup.connectedComponents(hand)),
      "contraction" -> (() => Dedup.alternatingComponents(hand)),
      "min-label then contraction" -> (() => Dedup.connectedComponents(path))
    ).foreach { case (name, cc) =>
      val rdds = sc.getPersistentRDDs.keySet
      val entries = org.apache.spark.sql.graft.Shim.cachedPlans(spark)
      val labels = cc()
      val left = sc.getPersistentRDDs.keySet -- rdds
      assert(left.size <= 1, s"$name left persisted RDDs $left")
      assert(org.apache.spark.sql.graft.Shim.cachedPlans(spark) == entries, s"$name left cached plans")
      // the one frame it keeps is the one its result reads
      val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      if (name == "min-label then contraction") assert(got.size == 12 && got.values.toSet == Set(0L))
      else assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
        12L -> 10L, 20L -> 20L, 21L -> 20L), name)
    }
  }

  test("each component round, built by its shipped step, keeps its exchange count") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    graft.operators.Rounds.scope { rs =>
      val und = rs.checkpoint(Dedup.undirected(pairs))
      val labels = rs.checkpoint(und.select(col("src").as("node")).distinct()
        .withColumn("lbl", col("node")))
      assert(TestSpark.initialShuffles(Dedup.componentStep(und, labels)) == 1)
      val edges = rs.checkpoint(Dedup.canonicalEdges(pairs))
      assert(TestSpark.initialShuffles(Dedup.starStep(edges)) == 7)
    }
  }

  test("duplicate clusters equal union-find over brute-force pairs") {
    val expected = unionFind(brutePairs(0.8))
    val got = Dedup.duplicateClusters(docs, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("canonical keep partitions the corpus and keeps the longest doc") {
    val clusters = unionFind(brutePairs(0.8))
    val lens = docs.select(col("doc_id"), length(col("text")).cast("int"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // expected: every doc joins its component (or itself), survivor =
    // longest text with ties to the smallest doc_id
    val byCluster = lens.keys.groupBy(id => clusters.getOrElse(id, id))
    val expected = byCluster.map { case (cid, members) =>
      val keep = members.minBy(id => (-lens(id), id))
      cid -> ((keep, members.size, lens(keep)))
    }
    val got = Dedup.canonicalKeep(docs, 0.8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getInt(3)))).toMap
    assert(got == expected)
    // keep set covers every doc exactly once
    assert(got.values.map(_._2).sum == docs.count())
  }

  test("fuzzy decontamination flags paraphrased eval leaks and only corpus docs") {
    import spark.implicits._
    val eval = Seq(
      (1000L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1001L, "one two three four five six")).toDF("doc_id", "text")
    val corpus = Seq(
      // paraphrased leak: one word changed -> high but != 1.0 jaccard
      (1L, "alpha beta gamma delta epsilon zeta eta iota"),
      // verbatim leak
      (2L, "one two three four five six"),
      // clean
      (3L, "completely different words entirely here now"),
      // near-dup of doc 1 (corpus-corpus pair must NOT surface)
      (4L, "alpha beta gamma delta epsilon zeta eta kappa")).toDF("doc_id", "text")
    val got = Dedup.decontaminateFuzzy(corpus, eval, n = 3, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == Set(1L, 2L, 4L).filter(got.contains) && got.contains(1L) && got.contains(2L),
      s"wrong contaminated set: $got")
    assert(got(2L)._2 == 1.0, "verbatim leak must score jac 1.0")
    assert(got(1L)._2 > 0.5 && got(1L)._2 < 1.0, "paraphrase must score fuzzy-high")
    assert(!got.contains(3L), "clean doc flagged")
  }

  test("fuzzy decontamination over parquet inputs launches no job at plan time") {
    // pairMult sizing used to run corpus.count() + evalDocs.count() —
    // two full-scan jobs before any useful work (a 100 TB corpus pays
    // an extra pass). With parquet inputs the bound now comes from
    // footer record counts (driver metadata I/O), so BUILDING the
    // plan must launch zero Spark jobs.
    val docsPath = s"${TestSpark.sfDir}/documents.parquet"
    val corpus = spark.read.parquet(docsPath).filter(col("doc_id") % 37 =!= 3)
    val eval = spark.read.parquet(docsPath).filter(col("doc_id") % 37 === 3)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = org.apache.spark.sql.graft.Shim.classic(spark).sparkContext
    sc.addSparkListener(listener)
    try {
      val df = Dedup.decontaminateFuzzy(corpus, eval, n = 3, threshold = 0.6)
      Thread.sleep(1000) // listener events are async; let the bus drain
      assert(jobs.get() == 0, s"plan construction launched ${jobs.get()} job(s)")
      assert(df.count() >= 0) // the plan still executes
    } finally sc.removeSparkListener(listener)
  }

  test("bloom decontamination equals the broadcast-exact path, without broadcasting the grams") {
    val corpus = docs.filter(col("doc_id") % 37 =!= 3)
    val eval = docs.filter(col("doc_id") % 37 === 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val bloom = Dedup.decontaminateBloom(corpus, eval, 5)
    assert(rows(bloom) == rows(Dedup.decontaminate(corpus, eval, 5)),
      "verify join must cancel every bloom false positive")
    // the verify join must honor shuffle-hash (this plan exists for
    // eval sets beyond broadcast range)
    val joins = bloom.queryExecution.executedPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(joins.isEmpty, "eval grams must not be broadcast on the bloom path")
  }

  test("line dedup keeps only the globally-first occurrence of each pseudo-sentence") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h x y"),  // lines: [a..h], [x y]
      (2L, "a b c d e f g h z"),    // [a..h] duplicates doc 1 pos 1
      (3L, "")                      // empty: no lines, no row
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.lineDedupStats(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(1L -> ((2L, 2L)), 2L -> ((2L, 1L))))
    // the hashed-shuffle scale variant agrees with the exact-text one
    // on the real fixture corpus (8-byte keys instead of line text)
    val corpus = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
    val exact = graft.operators.Dedup.lineDedupStats(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hashed = graft.operators.Dedup.lineDedupStats(corpus, hashLines = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(hashed == exact)
  }

  test("edit-distance pairs equal brute force; every tier fires") {
    import spark.implicits._
    // tier 3: tiny docs (no 5-grams, <17 distinct 3-grams) one edit
    // apart that share NO word gram at all — the prefix tiers are
    // blind to them by construction
    // tier 2: ~15-token docs (g5 < 25) with one word substituted
    // tier 1: long docs with one word substituted
    val longA = (1 to 40).map(i => s"w$i").mkString(" ")
    val longB = longA.replace("w20", "w99")
    val tiny = Seq(
      (1L, "abc"), (2L, "abd"),                  // tier 3, dist 1
      (3L, "p q r s t u v w x y z a b c n"),     // tier 2 pair:
      (4L, "p q r s t u v w x y z a b c m"),     //   dist 1
      (5L, longA), (6L, longB),                  // tier 1, dist 2
      (7L, "completely unrelated text here okay")
    ).toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(tiny, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 1L), (3L, 4L, 1L), (5L, 6L, 2L)))
    // corpus-wide: tiered result equals the quadratic truth
    val corpus = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select(col("doc_id"), col("text"))
    val brute = corpus.as("x").join(corpus.as("y"),
        col("x.doc_id") < col("y.doc_id") &&
          abs(length(col("x.text")) - length(col("y.text"))) <= 4)
      .withColumn("dist", levenshtein(col("x.text"), col("y.text"), 4).cast("long"))
      .filter(col("dist") >= 0L)
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"), col("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val tiered = Dedup.editDistancePairs(corpus, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(tiered == brute)
  }

  test("edit-distance pairs equal brute force on adversarial random corpora") {
    import spark.implicits._
    // seeded random corpora with PLANTED mutants at <= 4 char edits,
    // biased toward the filter's worst cases: space edits (merge/
    // split words), short docs, repeated words. Equality with the
    // quadratic truth proves tier completeness AND soundness.
    val vocab = Vector("alpha", "beta", "gamma", "delta", "run", "the", "of",
      "x", "table", "row", "scan", "fast")
    for (seed <- Seq(7L, 13L, 99L)) {
      val rnd = new scala.util.Random(seed)
      val base = (0 until 30).map { i =>
        val n = 1 + rnd.nextInt(60)
        (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val mutants = (0 until 12).map { j =>
        val (_, src) = base(rnd.nextInt(base.size))
        var s = src
        val edits = 1 + rnd.nextInt(4)
        for (_ <- 0 until edits if s.nonEmpty) {
          val p = rnd.nextInt(s.length)
          rnd.nextInt(3) match {
            case 0 => s = s.substring(0, p) + s.substring(math.min(p + 1, s.length)) // delete
            case 1 => s = s.substring(0, p) + (if (rnd.nextBoolean()) " " else "q") + s.substring(p) // insert (space-biased)
            case 2 => s = s.substring(0, p) + (if (rnd.nextBoolean()) " " else "z") + s.substring(math.min(p + 1, s.length)) // substitute
          }
        }
        ((100 + j).toLong, s)
      }
      val docs = (base ++ mutants).toDF("doc_id", "text")
      val brute = docs.as("x").join(docs.as("y"),
          col("x.doc_id") < col("y.doc_id") &&
            abs(length(col("x.text")) - length(col("y.text"))) <= 4)
        .withColumn("dist", levenshtein(col("x.text"), col("y.text"), 4).cast("long"))
        .filter(col("dist") >= 0L)
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"), col("dist"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val tiered = Dedup.editDistancePairs(docs, k = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(tiered == brute,
        s"seed=$seed missing=${brute -- tiered} extra=${tiered -- brute}")
      assert(brute.nonEmpty, s"seed=$seed planted mutants produced no pairs")
    }
  }

  test("edit-distance tier 3 cap: loud overflow on a single-bucket corpus; exact under the cap") {
    import spark.implicits._
    // adversarial shape (r12 verdict ask #4): every doc is tiny,
    // unique, and the SAME length, so the whole corpus lands in one
    // tier-3 length bucket and the per-bucket quadratic has no
    // occupancy spread to hide behind
    val oneBucket = (0 until 120).map(i => (i.toLong, f"ab$i%03d")).toDF("doc_id", "text")
    val e = intercept[IllegalStateException](
      Dedup.editDistancePairs(oneBucket, k = 4, maxTier3Bucket = 100).count())
    assert(e.getMessage.contains("over-occupied length bucket"))
    assert(e.getMessage.contains("exact dedup"), "the overflow must name the remedy")
    // the bound must not distort results when it doesn't engage:
    // same corpus, cap above occupancy -> exact quadratic truth
    val brute = oneBucket.as("x").join(oneBucket.as("y"),
        col("x.doc_id") < col("y.doc_id"))
      .withColumn("dist", levenshtein(col("x.text"), col("y.text"), 4).cast("long"))
      .filter(col("dist") >= 0L)
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"), col("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val capped = Dedup.editDistancePairs(oneBucket, k = 4, maxTier3Bucket = 200)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(capped == brute)
    assert(brute.nonEmpty)
  }

  test("containment pairs equal brute force; catches the excerpt Jaccard misses") {
    import spark.implicits._
    // doc 2 is an exact excerpt of doc 1 (J = 2/13 ≈ 0.15, C = 1.0)
    val tiny = Seq(
      (1L, "a b c d e f g h i j k l m n o"),
      (2L, "c d e f g h"),
      (3L, "z y x w v u p q r s t")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(tiny, n = 5, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((2L, 1L, 1.0)))
    // corpus-wide: prefix-filtered result equals the quadratic truth
    val corpus = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
    val sh = corpus.select(col("doc_id"),
      graft.functions.CrossHash.shingles(col("text"), 5).as("s"))
      .filter(size(col("s")) > 0)
    val brute = sh.as("x").join(sh.as("y"),
        col("x.doc_id") =!= col("y.doc_id"))
      .withColumn("cont", size(array_intersect(col("x.s"), col("y.s"))).cast("double") /
        size(col("x.s")))
      .filter(col("cont") >= 0.8)
      .select(col("x.doc_id"), col("y.doc_id"), round(col("cont"), 6))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fast = Dedup.containmentPairs(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fast == brute)
  }

  test("duplicated n-gram coverage counts cross-doc occurrences; hashed variant agrees") {
    import spark.implicits._
    val tiny = Seq(
      (1L, "a b c d e x y z w q"),  // grams 1-6; 'a b c d e' shared with doc 2
      (2L, "p a b c d e r s t"),    // 5 grams, 1 shared
      (3L, "m n o")                 // < n tokens: no row
    ).toDF("doc_id", "text")
    val got = Dedup.dupNgramCoverage(tiny)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(1L -> ((6L, 1L)), 2L -> ((5L, 1L))))
    // a within-doc repeat counts every occurrence once it is shared
    val rep = Seq(
      (1L, "a b c d e f a b c d e"),  // 'a b c d e' occurs twice here
      (2L, "a b c d e z z z z")
    ).toDF("doc_id", "text")
    val got2 = Dedup.dupNgramCoverage(rep)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got2(1L) == ((7L, 2L)))  // both occurrences of the shared gram
    assert(got2(2L) == ((5L, 1L)))
    // the 8-byte-key scale variant agrees with exact text on the fixture
    val corpus = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
    val exact = Dedup.dupNgramCoverage(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hashed = Dedup.dupNgramCoverage(corpus, hashGrams = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(hashed == exact)
  }

  test("max duplicated span localizes the longest shared block, ignores within-doc repeats") {
    import spark.implicits._
    val docs = Seq(
      // docs 1 and 2 share the 8-token block "s1..s8" (4 consecutive
      // 5-gram positions) at different offsets; doc 1 also shares a
      // lone 5-gram "q1..q5" with doc 3 (run of 1)
      (1L, "a s1 s2 s3 s4 s5 s6 s7 s8 b q1 q2 q3 q4 q5 c"),
      (2L, "x y s1 s2 s3 s4 s5 s6 s7 s8"),
      (3L, "q1 q2 q3 q4 q5 z z2 z3"),
      // doc 4 repeats its own gram twice but shares nothing: span 0
      (4L, "r1 r2 r3 r4 r5 m r1 r2 r3 r4 r5"),
      (5L, "u1 u2 u3")
    ).toDF("doc_id", "text")
    val got = Dedup.maxDupSpan(docs)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(got(1L) == ((8, 2)),
      s"doc 1 should report the 8-token block at pos 2, got ${got(1L)}")
    assert(got(2L) == ((8, 3)))
    assert(got(3L) == ((5, 1)))
    assert(got(4L) == ((0, 0)), "within-doc repeats are not cross-doc duplication")
    assert(got(5L) == ((0, 0)), "short docs have no grams")
  }

  test("span carve removes exactly the >=minSpan shared blocks, leaves the rest") {
    import spark.implicits._
    val boiler = (1 to 15).map(i => s"b$i").mkString(" ") // 15-token shared block
    val docs = Seq(
      (1L, (1 to 10).map(i => s"u$i").mkString(" ") + " " + boiler + " v1 v2 v3 v4 v5"),
      (2L, (1 to 8).map(i => s"w$i").mkString(" ") + " " + boiler + " x1 x2 x3"),
      // shares an 8-token block with doc 4 — BELOW the 12-token carve
      // width, must survive untouched
      (3L, "p1 p2 s1 s2 s3 s4 s5 s6 s7 s8 p3"),
      (4L, "s1 s2 s3 s4 s5 s6 s7 s8 r1 r2 r3"),
      (5L, boiler), // nothing but the shared block: carved to empty
      (6L, "lone1 lone2 lone3 lone4 lone5 lone6")
    ).toDF("doc_id", "text")
    val got = Dedup.carveDupSpans(docs, n = 5, minSpan = 12)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    def fp(s: String): Long = Seq(s).toDF("x")
      .select(CrossHash.charFold(col("x"))).head().getLong(0)
    val carved1 = (1 to 10).map(i => s"u$i").mkString(" ") + " v1 v2 v3 v4 v5"
    val carved2 = (1 to 8).map(i => s"w$i").mkString(" ") + " x1 x2 x3"
    assert(got(1L) == ((30L, 15L, fp(carved1))), s"doc 1: ${got(1L)}")
    assert(got(2L) == ((26L, 15L, fp(carved2))), s"doc 2: ${got(2L)}")
    assert(got(3L)._2 == 0L, "8-token shared block is below the carve width")
    assert(got(3L)._3 == fp("p1 p2 s1 s2 s3 s4 s5 s6 s7 s8 p3"))
    assert(got(4L)._2 == 0L)
    assert(got(5L) == ((15L, 15L, 0L)), "fully-carved doc pins fp to 0")
    assert(got(6L)._2 == 0L)
  }
}
