package graft.operators

import graft.functions.CrossHash._
import graft.functions.VectorFunctions
import graft.operators.Rounds.Round
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Every operator is pair-generation-aware: the naive all-pairs
  * O(n^2) join never appears in the Spark plans. Candidates come from
  * an inverted index (shared shingle), minhash band buckets, or
  * simhash band buckets — each a plain shuffle-on-key join whose cost
  * is O(candidate pairs), which is what makes these runnable at 100 TB
  * (the oracle SQL used for correctness testing IS the naive
  * quadratic form, run by DuckDB on small SF only).
  *
  * Plan hygiene: the expensive tokenize+hash subtree is computed ONCE
  * per document behind a repartition barrier. Without the barrier,
  * Catalyst's CollapseProject inlines the subtree into each of the
  * K minhash / 48 simhash terms (higher-order array lambdas are
  * interpreted, so codegen subexpression elimination never sees
  * them), multiplying the work by K; the exchange also spreads rows
  * across cores when the source is a single small file.
  */
object Dedup {

  /** Exact-duplicate statistics per source (hash-groupBy on md5 of the
    * full text). Map-side partial aggregation; one shuffle on
    * `source`.
    */
  def exactStats(docs: DataFrame): DataFrame =
    docs.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_uniq"),
        min("doc_id").as("first_doc"))
      .orderBy("source")

  import org.apache.spark.sql.Column

  private def shufflePartitions(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  /** Pin an EXPLICIT partition count on the fan-out side of a pair
    * join. AQE's byte-based partition coalescing sizes stages by
    * shuffle BYTES, and these joins shuffle kilobytes of keys that fan
    * out to millions of candidate rows — left to AQE they collapse
    * onto one task (observed 107s vs 14s). A user-specified
    * repartition (explicit numPartitions) is exempt from coalescing,
    * so each pair join keeps its parallelism while the session leaves
    * AQE — including coalescing for the ordinary SQL surface — fully
    * on.
    */
  private def pinned(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(shufflePartitions(df), cols: _*)

  /** Spread a (often single-file) small-doc source across cores before
    * the per-row signature work.
    */
  private def spread(docs: DataFrame): DataFrame =
    pinned(docs.select(col("doc_id"), col("text")), col("doc_id"))

  /** Partition multiplier for the CANDIDATE-side stages of the pair
    * joins (the per-pair aggregate and the verification joins). Their
    * input volume is O(candidate pairs) — quadratic in corpus size
    * over a shared vocabulary — so a partition count sized for the
    * corpus starves them: at sf1 (50k docs) the candidate aggregate
    * holds ~40M distinct (a,b) keys per task on 32 partitions (≈2 GB
    * of hash map per task, 32 concurrently = GC collapse; measured
    * 446s, vs 242s with 8x the partitions). The multiplier therefore
    * scales QUADRATICALLY with corpus rows (matching the candidate
    * volume), clamped to [1, 16]; one metadata-only `count()` of the
    * corpus pays for it. The corpus-side stages keep the session's
    * partitioning.
    *
    * The clamp is MEASURED, at two scales: the quadratic growth is
    * what rescues the sf1 aggregate from GC collapse (above), but
    * past the point where per-task state fits comfortably, extra
    * partitions are pure scheduling overhead — at sf3 (150k docs,
    * formula unclamped = 57) d3 runs 16.3-17.2 s at mult 8-16 vs
    * ~25 s at 32 and ~76 s at 64, and d5 is flat (49-65 s) across
    * 8-32 because its cost is the 1.5B-row result, not the shuffle
    * (bench_history/sf3_r11_dedup.json + NOTES.md, round 11). On a
    * real cluster the equivalent ceiling is a small multiple of the
    * executor-core count — the point where every core already has
    * several waves of work per stage.
    */
  private def pairMult(nDocs: Long): Int =
    math.min(16, math.max(1, math.ceil(math.pow(nDocs / 20000.0, 2)).toInt))

  /** Job-free per-file row counts for sizing [[pairMult]]: when every
    * leaf of the plan is a parquet scan, read the footers' exact
    * record counts (driver-side metadata I/O — at 100 TB this is a
    * listing-scale pass, not a data pass; a `count()` action is a full
    * job over the corpus). Filters above the leaves only shrink the
    * true count, and pairMult only uses the count to size partitions
    * UP, so the leaf total is the safe direction. Returned KEYED BY
    * FILE so callers bounding several inputs can de-duplicate shared
    * leaves — corpus and eval sides carved from the SAME table by
    * complementary filters must bound to one table's rows, not two
    * (double-counting quadruples the quadratic multiplier: measured
    * 4× on d17 at sf1). None when any leaf is not a parquet file scan
    * (caller falls back to `count()`).
    */
  private def fileRowCounts(df: DataFrame): Option[Map[String, Long]] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val perLeaf = df.queryExecution.optimizedPlan.collectLeaves().map {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
          val counts = fs.location.inputFiles.toSeq
            .map(f => graft.listing.FooterStats.rowCount(conf, f).map(f -> _))
          if (counts.forall(_.isDefined)) Some(counts.flatten.toMap) else None
        case _ => None
      }
      case _ => None
    }
    if (perLeaf.nonEmpty && perLeaf.forall(_.isDefined))
      Some(perLeaf.flatten.foldLeft(Map.empty[String, Long])(_ ++ _))
    else None
  }

  private def pinnedWide(df: DataFrame, mult: Int, cols: Column*): DataFrame =
    df.repartition(shufflePartitions(df) * mult, cols: _*)

  /** Per-document minhash signature (as a comma-joined string for a
    * stable cross-engine representation).
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    spread(docs)
      .select(col("doc_id"),
        concat_ws(",", minhashSigFast(col("text"), 3).cast("array<string>")).as("sig"))
      .orderBy("doc_id")

  /** Near-duplicate pairs at exact Jaccard >= `threshold` over
    * word-trigram shingles, candidates from the minhash *bottom-k
    * prefix filter* (AllPairs/PPJoin family, Bayardo et al. WWW'07;
    * Xiao et al. WWW'08): sort each doc's distinct shingle hashes
    * ascending — a global total order, so this is the doc's bottom-k
    * minhash sketch with k = |d| - ceil(t*|d|) + 1 — and two docs can
    * reach Jaccard t only if their bottom-k prefixes SHARE a hash
    * (the smallest common element provably lands in both prefixes).
    * Candidates therefore come from a shuffle join on prefix hashes,
    * plus the length filter t*max(|a|,|b|) <= min(|a|,|b|); exact
    * Jaccard verification keeps pairs at `threshold`.
    *
    * vs banded LSH with 1-row bands (docs sharing any of K minhash
    * values become candidates), which yields ~K*avg_jaccard*n^2/2 false
    * candidates — on corpora with a shared vocabulary that is a
    * quadratic blowup (observed: 27% of ALL pairs become candidates at
    * avg j=0.02). The prefix filter admits a pair only on a shared
    * *rare-end* hash, has no (1-t)^K miss probability, and its join
    * keys are the same O(#docs * (1-t)|d|) longs.
    */
  def minhashPairs(docs: DataFrame, threshold: Double = 0.8): DataFrame =
    // adaptive like d7: rare-first prefix order on real vocabularies
    // (trigrams t=0.8 at sf1: 7.1s vs 8.8s hash-order), dense direct
    // verification when the measured candidate density degenerates
    ngramJaccardPairs(docs, 3, threshold)

  /** [[minhashPairs]] without the presentation orderBy — the pair SET
    * for graph consumers (d8/d9 connected components).
    */
  private[graft] def minhashPairsUnordered(docs: DataFrame, threshold: Double): DataFrame =
    ngramJaccardPairsUnordered(docs, 3, threshold)

  /** Prefix-filter Jaccard join (see [[minhashPairs]] for the prefix
    * lemma) with the AllPairs df-ascending prefix order (Chaudhuri et
    * al. ICDE'06; Bayardo et al. WWW'07 §3.1): each doc's shingles
    * order by (document frequency ASC, hash), so prefixes carry the
    * RAREST tokens of each doc. Candidate volume for a prefix hash h is
    * df_prefix(h)^2; under a Zipf vocabulary rare-first prefixes make
    * that sum near-linear in corpus size, where the hash order's
    * random-token prefixes can leave it quadratic — and even on the
    * flat synthetic fixture the concentration effect measured faster at
    * every SF (see [[ngramJaccardPairs]]), which is why this IS the
    * default path. Costs one extra shuffle pair (df groupBy + join
    * back) and a per-doc window; the PPJoin positional bound stays
    * valid because it only needs the two sides to agree on ONE shared
    * total order — (df, h) is one. Verification still runs on the
    * hash-sorted arrays.
    */
  def ngramJaccardPairsDfOrdered(docs: DataFrame, n: Int = 2,
      threshold: Double = 0.5): DataFrame = {
    // r16: base feeds the df aggregate, the prefix join's explode, and
    // BOTH verification sides — unpersisted it was re-shingled per
    // consumer (the signature kernel is the operator's per-row cost).
    // Lazy persist: one shingle pass (guide §5).
    val base = spread(docs).select(
      col("doc_id"),
      sortedShingleHashes64Fast(col("text"), n).as("hs"))
      .withColumn("nh", size(col("hs")))
      .persist()
    val exploded = base.select(col("doc_id"), col("nh"), explode(col("hs")).as("h"))
    val dfCounts = exploded.groupBy("h").agg(count(lit(1)).as("df"))
    dfOrderedFromBase(base, exploded, dfCounts, base.count(), threshold, ordered = true)
  }

  /** The df-ordered prefix pipeline over a prebuilt (persisted)
    * signature frame — shared by the standalone entry point above and
    * the adaptive dispatcher, which reuses `base`/`dfCounts` for its
    * decision statistics so the corpus is shingled exactly once.
    */
  private def dfOrderedFromBase(base: DataFrame, exploded: DataFrame,
      dfCounts: DataFrame, nDocs: Long, threshold: Double,
      ordered: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mult = pairMult(nDocs)
    val plen = (col("nh") - ceil(col("nh") * lit(threshold) - lit(1e-9)) + lit(1)).cast("int")
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("h"))
    // shuffle_hash hint, two reasons: (1) the df table is
    // corpus-sized — a runtime broadcast "upgrade" would build a
    // multi-million-row driver-side hash relation (and OOM outright
    // at 100 TB vocabulary sizes); (2) AQE's size estimate for the
    // post-agg side sits near the broadcast threshold at bench SFs,
    // so leaving the choice to runtime made the plan FLIP between
    // executions — the d3 bimodality of rounds 9/10 (isolated reps
    // 5.4s vs 17.4s on identical code+data). Pinning the strategy
    // pins the latency.
    val pref = pinned(
      exploded.join(dfCounts.hint("shuffle_hash"), "h")
        .withColumn("p", row_number().over(w) - lit(1))
        .filter(col("p") < plen)
        .select("doc_id", "nh", "p", "h"),
      col("h"))
    verifiedPairsFromPrefix(pref, base.select(col("doc_id"), col("hs")), mult, threshold,
      ordered)
  }

  /** Candidate generation + PPJoin positional filter + exact
    * verification over a prefix frame `(doc_id, nh, p, h)` where `p`
    * is the 0-based position of hash `h` in SOME global order of the
    * doc's distinct shingles shared by both join sides — the hash
    * order and the (df, hash) order both qualify.
    *
    * Shingles are hashed with a strong 64-bit hash
    * ([[graft.functions.HashOps.strongHash64]]), which is also the
    * verification domain: overlap is `|intersect|` of the two sorted
    * hash sets (long compares, ~3x cheaper per element than string
    * array_intersect), and the Jaccard denominator is `na+nb-overlap`
    * where the lengths count distinct shingle STRINGS, so set sizes
    * stay exact even under a hash collision. The result equals the
    * quadratic string-Jaccard definition unless two distinct shingles
    * in the corpus collide in 64 bits (P ~ D^2/2^65 for D distinct
    * shingles — ~1e-10 at a billion shingles; the weak charFold hash
    * of earlier rounds needed a slack slot and could still miss).
    *
    * Positional filter: matched prefix rows for a pair carry their
    * 0-based positions. Grouping a pair's matches gives `c` (count of
    * common elements inside both prefixes) and the positions (pa, pb)
    * of the LARGEST matched element; every further common element is
    * strictly after both (the order is global), so
    * `overlap <= c + min(na-pa-1, nb-pb-1)`. Pairs whose bound misses
    * the required overlap `ceil(t/(1+t) * (na+nb))` are dropped before
    * the expensive verification joins — at t=0.5 this prunes every
    * pair whose only shared prefix hash sits in the back third of the
    * prefix. The epsilon inside ceil() guards the float landing just
    * above an exact integer (which would over-tighten the bound);
    * landing below only admits a candidate that verification rejects.
    */
  private def verifiedPairsFromPrefix(pref: DataFrame, sh: DataFrame,
      mult: Int, threshold: Double, ordered: Boolean = true): DataFrame = {
    // Equi-join on the prefix hash via using-columns so the planner is
    // guaranteed a hash join; ordering and length filters are
    // post-filters (folding them into the join condition risks a
    // nested-loop plan).
    // SHUFFLE_MERGE hint: without it AQE sees ~20MB a side and
    // "upgrades" the self-join to a broadcast join — a single-threaded
    // driver-side build of a 750k-row hash relation (slow, GC-heavy,
    // and the 100 TB version would OOM the driver). As a shuffle join
    // the two sides are one ReusedExchange, so the signature subtree
    // is computed once.
    val matches = pref
      .select(col("h"), col("p").as("pa"), col("doc_id").as("a"), col("nh").as("na"))
      .join(pref.select(col("h"), col("p").as("pb"), col("doc_id").as("b"), col("nh").as("nb"))
        .hint("SHUFFLE_MERGE"),
        Seq("h"))
      .filter(col("a") < col("b") &&
        greatest(col("na"), col("nb")) * lit(threshold) <= least(col("na"), col("nb")) + lit(1e-9))
    // pinned before the per-pair aggregation so the agg runs wide (the
    // partial-agg saving it forfeits is small: most pairs share ONE
    // prefix hash, so map-side combine barely reduces the shuffle)
    val cand = pinnedWide(matches.select("a", "b", "na", "nb", "pa", "pb"), mult, col("a"), col("b"))
      .groupBy("a", "b", "na", "nb")
      .agg(count(lit(1)).as("c"), max(col("pa")).as("pa"), max(col("pb")).as("pb"))
      .filter(col("c") + least(col("na") - col("pa") - lit(1), col("nb") - col("pb") - lit(1)) >=
        ceil((col("na") + col("nb")) * lit(threshold / (1 + threshold)) - lit(1e-9)))
      .select("a", "b", "na", "nb")
    verifyPairs(cand, sh, mult, threshold, ordered)
  }

  /** Exact-Jaccard verification shared by the self-join and
    * incremental paths: join each candidate side's sorted hash set,
    * count the overlap with a two-pointer merge (allocation-free, vs
    * array_intersect's per-row hash set + materialized array), and
    * keep pairs at `threshold`. `cand` columns: a, b, na, nb.
    */
  private def verifyPairs(cand: DataFrame, sh: DataFrame, mult: Int, threshold: Double,
      ordered: Boolean = true): DataFrame =
    verifyPairsSides(cand, sh, sh, mult, threshold, ordered)

  /** Two-sided verification: the `a` column joins ONLY `shA` and the
    * `b` column ONLY `shB`. When the two sides are different datasets
    * (decontamination: corpus vs eval), this makes an id collision
    * across the sets structurally harmless — a corpus doc can never
    * pick up an eval doc's shingle set or vice versa — where a
    * unioned single table would silently verify against the wrong
    * document.
    */
  private def verifyPairsSides(cand: DataFrame, shA: DataFrame, shB: DataFrame,
      mult: Int, threshold: Double, ordered: Boolean = true): DataFrame = {
    // shuffle_hash hints on the SIGNATURE sides: both sides arrive
    // pre-partitioned on the join key (pinnedWide), so a shuffled
    // hash join reuses those exchanges and builds its per-partition
    // hash table from the doc-count-sized signature slice. Left to
    // AQE the join flips to broadcast when the signature table's
    // estimate dips under the threshold — a driver-side build of
    // every signature ARRAY (the widest data in the operator), the
    // slow mode of the d3 bimodality, and a guaranteed driver OOM at
    // corpus scale. The hint also skips the sort a merge join would
    // impose on the candidate side.
    val withA = pinnedWide(cand, mult, col("a"))
      .join(pinnedWide(shA.withColumnRenamed("doc_id", "a").withColumnRenamed("hs", "ha"), mult, col("a"))
        .hint("shuffle_hash"), "a")
    val verified = pinnedWide(withA, mult, col("b"))
      .join(pinnedWide(shB.withColumnRenamed("doc_id", "b").withColumnRenamed("hs", "hb"), mult, col("b"))
        .hint("shuffle_hash"), "b")
      .withColumn("ov", sortedOverlapFast(col("ha"), col("hb")).cast("double"))
      .withColumn("jac", col("ov") / (col("na") + col("nb") - col("ov")))
      .filter(col("jac") >= threshold)
      .select(col("a"), col("b"), round(col("jac"), 6).as("jac"))
    if (ordered) verified.orderBy("a", "b") else verified
  }

  /** Incremental near-duplicate detection — the daily-ingest shape: a
    * NEW batch arrives and must be checked against the existing corpus
    * and against itself, WITHOUT re-joining the corpus against itself.
    * Only fresh documents probe the shared prefix index, so candidate
    * volume is O(|fresh| x collisions), independent of corpus-corpus
    * pair counts — at 100 TB the corpus side contributes just its
    * prefix index (rebuildable incrementally or cached), never a
    * quadratic term. Emits every pair at exact Jaccard >= `threshold`
    * (word `n`-gram shingles) with at least one fresh member, `a` <
    * `b`. Same prefix-filter lemma and verification as
    * [[verifiedPairsFromPrefix]]; the positional filter is omitted (probe
    * and index prefixes are asymmetric after the least/greatest
    * normalization), a candidate-volume tradeoff, not an exactness
    * one.
    */
  def incrementalPairs(corpus: DataFrame, fresh: DataFrame,
                       n: Int = 3, threshold: Double = 0.8): DataFrame = {
    // In-memory shape: re-shingles the corpus every batch. For the
    // daily-ingest loop, build the index ONCE with
    // [[writeCorpusIndex]] and probe it with
    // [[incrementalPairsIndexed]] — identical pairs, no corpus
    // re-shingle (DedupSpec proves both).
    val mult = pairMult(corpus.count() + fresh.count())
    def prep(df: DataFrame, side: String) =
      spread(df).select(
        col("doc_id"),
        sortedShingleHashes64Fast(col("text"), n).as("hs"))
        .withColumn("nh", size(col("hs")))
        .withColumn("side", lit(side))
    // r16: f feeds the probe AND `all`; `all` feeds the index side and
    // both verification joins — persist so each side shingles once
    val f = prep(fresh, "f").persist()
    val all = prep(corpus, "c").unionByName(f).persist()
    def prefixed(df: DataFrame) = {
      val plen = (col("nh") - ceil(col("nh") * lit(threshold) - lit(1e-9)) + lit(1)).cast("int")
      pinned(df.select(col("doc_id"), col("nh"), col("side"),
        explode(slice(col("hs"), lit(1), plen)).as("h")), col("h"))
    }
    val probe = prefixed(f).select(col("h"), col("doc_id").as("x"), col("nh").as("nx"))
    val index = prefixed(all).select(col("h"), col("doc_id").as("y"), col("nh").as("ny"), col("side"))
    val cand = pinnedWide(
      probe.join(index.hint("SHUFFLE_MERGE"), Seq("h"))
        // fresh-vs-corpus in any order; fresh-vs-fresh once (y < x).
        // x != y guards a re-ingested id present on BOTH sides from
        // surfacing as a degenerate (a, a) self-pair; doc_ids are
        // expected unique within corpus + fresh
        .filter(col("x") =!= col("y"))
        .filter(col("side") === "c" || col("y") < col("x"))
        .filter(greatest(col("nx"), col("ny")) * lit(threshold) <=
          least(col("nx"), col("ny")) + lit(1e-9))
        .select(
          least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"),
          when(col("x") < col("y"), col("nx")).otherwise(col("ny")).as("na"),
          when(col("x") < col("y"), col("ny")).otherwise(col("nx")).as("nb")),
      mult, col("a"), col("b"))
      .distinct()
    verifyPairs(cand, all.select(col("doc_id"), col("hs")), mult, threshold)
  }

  // -------------------------------------------- persisted corpus index

  /** On-disk prefix index for [[incrementalPairsIndexed]]:
    * `<path>/docs` holds `(doc_id, hs, nh)` (the verification side —
    * hashes only, far smaller than the text) and `<path>/prefix`
    * holds the exploded prefix postings `(doc_id, nh, h)`
    * DIRECTORY-PARTITIONED by `b = pmod(h, buckets)`. Probes join on
    * `(b, h)`, so Spark's dynamic partition pruning reads only the
    * buckets a batch's prefix hashes actually touch — for a small
    * daily batch against a 100 TB corpus that skips almost the whole
    * index, and the shingling CPU for the corpus is paid exactly
    * once, at build time. `<path>/_graft_index_meta.json` pins
    * (n, threshold, buckets); probing with different parameters is
    * rejected rather than silently wrong. Valid for an immutable
    * corpus — extend with [[appendCorpusIndex]] as batches are
    * accepted, rebuild on corpus rewrite (the same contract as any
    * search index).
    */
  def writeCorpusIndex(corpus: DataFrame, path: String, n: Int = 3,
      threshold: Double = 0.8, buckets: Int = 256): Unit = {
    // a REBUILD must not leave previously appended batch dirs (or the
    // compacted-token manifest) behind: stale postings would keep
    // matching deleted docs, and old buckets values would mis-route.
    // The meta marker goes FIRST and comes back LAST: a crash mid-
    // rebuild must leave an index that reads as absent/unusable (so
    // ensure* heals it), never a valid-looking meta over deleted data.
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(sessionHadoopConf(corpus.sparkSession))
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/_graft_index_meta.json"), false)
    Seq("docs", "prefix").foreach(sub =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$sub"), true))
    IndexBatches.clearManifest(fs, path)
    val docs = spread(corpus)
      .select(col("doc_id"), sortedShingleHashes64Fast(col("text"), n).as("hs"))
      .withColumn("nh", size(col("hs")))
    docs.write.mode("overwrite").parquet(s"$path/docs/batch=$BaseBatch")
    appendPrefix(corpus.sparkSession, path,
      corpus.sparkSession.read.parquet(s"$path/docs/batch=$BaseBatch"),
      threshold, buckets, BaseBatch)
    writeIndexMeta(corpus.sparkSession, path, n, threshold, buckets)
  }

  /** Every docs/prefix write lands under its own `batch=<token>`
    * partition directory. That makes appends IDEMPOTENT per token: a
    * replayed streaming batch overwrites its own directory — or, once
    * a compaction has folded the token away (tracked in the
    * [[IndexBatches]] manifest), no-ops entirely — instead of
    * duplicating rows (duplicate doc rows would multiply pairs
    * through the verification join, not just candidates).
    */
  private val BaseBatch = IndexBatches.Base

  /** Extend an existing index with an ACCEPTED batch (call after
    * [[incrementalPairsIndexed]] admitted it): one shingle pass over
    * the batch, written to both tables under `batch=<batchToken>`
    * with the index's pinned parameters. Re-calling with the SAME
    * token (streaming replay) overwrites rather than duplicates —
    * even after a compaction folded the token's directory away (the
    * manifest records it and the replay no-ops). The default random
    * token gives plain at-least-once appends.
    *
    * Batch directories beyond `maxAppendBatches` tier-compact (see
    * [[IndexBatches]]): plain batches merge into a `compact-` dir,
    * and the compact dirs merge only when THEY exceed the threshold —
    * file count stays O(maxAppendBatches + buckets) and each row is
    * rewritten O(tiers) times however many batches arrive. The base
    * corpus is never rewritten.
    */
  def appendCorpusIndex(fresh: DataFrame, path: String,
      batchToken: String = java.util.UUID.randomUUID().toString,
      maxAppendBatches: Int = 8): Unit = {
    IndexBatches.requireValidToken(batchToken)
    val spark = fresh.sparkSession
    val (n, threshold, buckets) = readIndexMeta(spark, path)
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(sessionHadoopConf(spark))
    // replayed batch whose dir a compaction already folded away: the
    // rows are in a compact dir; re-appending would duplicate them
    if (IndexBatches.compactedTokens(fs, path).contains(batchToken)) return
    val docs = spread(fresh)
      .select(col("doc_id"), sortedShingleHashes64Fast(col("text"), n).as("hs"))
      .withColumn("nh", size(col("hs")))
    docs.write.mode("overwrite").parquet(s"$path/docs/batch=$batchToken")
    appendPrefix(spark, path, docs, threshold, buckets, batchToken)
    compactAppendedBatches(spark, path, threshold, buckets, maxAppendBatches)
  }

  private def appendPrefix(spark: org.apache.spark.sql.SparkSession, path: String,
      docs: DataFrame, threshold: Double, buckets: Int, batchToken: String): Unit = {
    val plen = (col("nh") - ceil(col("nh") * lit(threshold) - lit(1e-9)) + lit(1)).cast("int")
    docs.select(col("doc_id"), col("nh"),
        explode(slice(col("hs"), lit(1), plen)).as("h"))
      .withColumn("b", pmod(col("h"), lit(buckets)))
      .repartition(buckets, col("b")) // cluster: ~one file per bucket dir
      .write.mode("overwrite")
      .partitionBy("b").parquet(s"$path/prefix/batch=$batchToken")
  }

  /** One [[IndexBatches]] compaction round for the corpus index:
    * merge the selected tier's doc batches (dropping replay
    * duplicates) and rebuild their prefix postings from the stored
    * hash arrays — no text re-shingle.
    *
    * Crash ordering: merged replacement written, then the manifest,
    * then the old dirs deleted — a crash in between leaves duplicate
    * rows (healed by the next compaction's dropDuplicates), never
    * lost docs.
    */
  private def compactAppendedBatches(spark: org.apache.spark.sql.SparkSession,
      path: String, threshold: Double, buckets: Int, maxAppendBatches: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(sessionHadoopConf(spark))
    IndexBatches.compactionPlan(fs, new org.apache.hadoop.fs.Path(s"$path/docs"),
        maxAppendBatches).foreach { case (docDirs, token) =>
      val merged = spark.read.parquet(docDirs.map(_.toString): _*)
        .select("doc_id", "hs", "nh").dropDuplicates("doc_id")
      merged.write.mode("overwrite").parquet(s"$path/docs/batch=$token")
      appendPrefix(spark, path,
        spark.read.parquet(s"$path/docs/batch=$token"), threshold, buckets, token)
      val tokens = docDirs.map(_.getName.stripPrefix("batch="))
      IndexBatches.recordCompacted(fs, path, tokens)
      val prefixDirs = tokens.map(t => new org.apache.hadoop.fs.Path(s"$path/prefix/batch=$t"))
      (docDirs ++ prefixDirs).foreach(p => fs.delete(p, true))
    }
  }

  /** [[incrementalPairs]] against a PERSISTED corpus index: same
    * pairs (>=1 fresh member, exact Jaccard >= the index's
    * threshold), but the corpus contributes only its index — no
    * re-shingle, no corpus text scan. Fresh-vs-corpus candidates come
    * from the `(b, h)` join against the bucket-partitioned prefix
    * table (dynamic partition pruning skips untouched buckets);
    * fresh-vs-fresh from a self-join of the batch's own prefixes.
    */
  def incrementalPairsIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, fresh: DataFrame): DataFrame = {
    val (n, threshold, buckets) = readIndexMeta(spark, path)
    val corpusDocs = spark.read.parquet(s"$path/docs")
    val corpusPref = spark.read.parquet(s"$path/prefix")
    val mult = pairMult(corpusDocs.count() + fresh.count())
    // r16: the fresh side feeds four consumers (probe, the
    // fresh-vs-fresh right side, and both verification unions) —
    // unpersisted it was re-shingled per consumer (4 scans of the
    // batch in the measured plan). Lazy persists: shingle the batch
    // once, explode its prefixes once (guide §5).
    val f = spread(fresh)
      .select(col("doc_id"), sortedShingleHashes64Fast(col("text"), n).as("hs"))
      .withColumn("nh", size(col("hs")))
      .persist()
    val plen = (col("nh") - ceil(col("nh") * lit(threshold) - lit(1e-9)) + lit(1)).cast("int")
    val fPref = pinned(f.select(col("doc_id"), col("nh"),
      explode(slice(col("hs"), lit(1), plen)).as("h")), col("h"))
      .persist()
    val probe = fPref.select(col("h"), pmod(col("h"), lit(buckets)).as("b"),
      col("doc_id").as("x"), col("nh").as("nx"))
    // fresh-vs-corpus: (b, h) equi-join -> DPP prunes index buckets.
    // x != y guards a re-ingested id present on both sides.
    val vsCorpus = probe
      .join(corpusPref.select(col("b"), col("h"), col("doc_id").as("y"), col("nh").as("ny")),
        Seq("b", "h"))
      .filter(col("x") =!= col("y"))
    // fresh-vs-fresh: batch self-join, each unordered pair once
    val vsFresh = probe
      .join(fPref.select(col("h"), col("doc_id").as("y"), col("nh").as("ny"))
        .hint("SHUFFLE_MERGE"), Seq("h"))
      .filter(col("y") < col("x"))
    val cand = pinnedWide(
      vsCorpus.select("h", "x", "nx", "y", "ny")
        .unionByName(vsFresh.select("h", "x", "nx", "y", "ny"))
        .filter(greatest(col("nx"), col("ny")) * lit(threshold) <=
          least(col("nx"), col("ny")) + lit(1e-9))
        .select(
          least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"),
          when(col("x") < col("y"), col("nx")).otherwise(col("ny")).as("na"),
          when(col("x") < col("y"), col("ny")).otherwise(col("nx")).as("nb")),
      mult, col("a"), col("b"))
      .distinct()
    val sh = corpusDocs.select(col("doc_id"), col("hs"))
      .unionByName(f.select(col("doc_id"), col("hs")))
    verifyPairs(cand, sh, mult, threshold)
  }

  /** Build the index iff its meta marker is absent — the
    * rebuild-if-missing entry point query wiring uses. Parameters
    * must match an existing index (enforced by [[readIndexMeta]] at
    * probe time).
    */
  def ensureCorpusIndex(corpus: DataFrame, path: String, n: Int = 3,
      threshold: Double = 0.8, buckets: Int = 256): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(sessionHadoopConf(corpus.sparkSession))
    val usable =
      fs.exists(new org.apache.hadoop.fs.Path(s"$path/_graft_index_meta.json")) &&
        // corrupt meta or an older on-disk layout: rebuild rather
        // than fail every probe forever
        (try { readIndexMeta(corpus.sparkSession, path); true }
         catch { case _: IllegalStateException => false })
    if (!usable) writeCorpusIndex(corpus, path, n, threshold, buckets)
  }

  private def sessionHadoopConf(spark: org.apache.spark.sql.SparkSession) =
    org.apache.spark.sql.graft.Shim.classic(spark).sparkContext.hadoopConfiguration

  private def writeIndexMeta(spark: org.apache.spark.sql.SparkSession, path: String,
      n: Int, threshold: Double, buckets: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_graft_index_meta.json")
    val out = p.getFileSystem(sessionHadoopConf(spark)).create(p, true)
    try out.write(
      s"""{"n": $n, "threshold": $threshold, "buckets": $buckets, "layout": 2}"""
        .getBytes("UTF-8"))
    finally out.close()
  }

  private def readIndexMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Double, Int) = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_graft_index_meta.json")
    val fs = p.getFileSystem(sessionHadoopConf(spark))
    if (!fs.exists(p)) throw new IllegalStateException(
      s"no corpus index at $path (missing _graft_index_meta.json); build with writeCorpusIndex")
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    def field(name: String): String =
      s""""$name"\\s*:\\s*([0-9.]+)""".r.findFirstMatchIn(txt)
        .getOrElse(throw new IllegalStateException(s"corrupt index meta at $p: $txt"))
        .group(1)
    // layout 2 = batch=<token> partition dirs. A layout-1 index (flat
    // docs/prefix) would produce "conflicting directory structures"
    // on the first read after an append — fail fast and name the fix.
    // Meta without the field predates the version stamp: sniff the
    // directory shape rather than assume, so a batch-layout index
    // whose meta was written before stamping isn't falsely rejected
    // (ensure* would rebuild it, silently dropping appended batches).
    val layout = s""""layout"\\s*:\\s*([0-9]+)""".r.findFirstMatchIn(txt)
      .map(_.group(1).toInt)
      .getOrElse(
        if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/docs/batch=$BaseBatch"))) 2
        else 1)
    if (layout != 2) throw new IllegalStateException(
      s"corpus index at $path uses layout $layout; this library reads layout 2 — " +
        "rebuild with writeCorpusIndex")
    (field("n").toInt, field("threshold").toDouble, field("buckets").toInt)
  }

  /** Exact n-gram Jaccard pairs, ADAPTIVE between the two exact
    * plans:
    *
    *  - **Prefix join** ([[ngramJaccardPairsDfOrdered]]): AllPairs
    *    df-ascending candidates + PPJoin positional filter. Right
    *    whenever the vocabulary is Zipf-ish and large — candidate
    *    volume near-linear in corpus size.
    *  - **Dense direct verification** ([[denseJaccardPairs]]): when
    *    prefix filtering DEGENERATES. Measured on the flat synthetic
    *    corpus at sf1 (50k docs, only 961 distinct bigrams): every
    *    prefix hash is shared by hundreds-thousands of docs, the
    *    prefix join must materialize and shuffle 3.19e9 candidate
    *    occurrences (duckdb-measured sum of squared prefix dfs) for
    *    359 true pairs — ~260s. The l-prefix/combo scheme of Wang et
    *    al. SIGMOD'12 doesn't escape either (same 3.18e9, measured).
    *    When the candidate set is effectively ALL pairs, the cheapest
    *    exact plan is to verify all pairs directly with the
    *    codegen'd sorted-overlap merge and NO shuffle of candidate
    *    rows at all: broadcast the signature table (50k docs of
    *    ~51-gram sets ≈ 21 MB) and nested-loop it.
    *
    * The selector measures, never guesses: one aggregate over the
    * gram document frequencies (count V = vocabulary size, sum E =
    * total doc-gram rows) estimates prefix candidate occurrences as
    * (prefixRows)^2/V with prefixRows ≈ (1-t)E + N; the dense path
    * wins when that exceeds N^2/4 — i.e. the prefix join would
    * enumerate most pairs anyway, paying shuffle volume the dense
    * path never pays. Guard: the signature table (8E + 32N bytes)
    * must fit the broadcast budget ([[DenseMaxBytes]], 256 MB), so a
    * genuinely huge corpus can never select a driver-melting
    * broadcast; at 100 TB with a real vocabulary
    * V >> N and the prefix join is selected unconditionally.
    * Both plans return identical pairs (DedupSpec proves it), so the
    * choice is purely physical — an operator-level analog of
    * Catalyst's size-based join selection.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 2, threshold: Double = 0.5): DataFrame =
    ngramJaccardPairsImpl(docs, n, threshold, ordered = true)

  /** [[ngramJaccardPairs]] without the final global sort — for
    * consumers that only need the pair SET (connected components for
    * d8/d9: min-label propagation is order-insensitive). The orderBy
    * in the declared-query variant is presentation, and skipping it
    * drops one range exchange + sort of the pair table (r17).
    */
  private[graft] def ngramJaccardPairsUnordered(docs: DataFrame, n: Int,
      threshold: Double): DataFrame =
    ngramJaccardPairsImpl(docs, n, threshold, ordered = false)

  /** Byte budget for the dense path's broadcast signature table. */
  private val DenseMaxBytes = 256L * 1024 * 1024

  private def ngramJaccardPairsImpl(docs: DataFrame, n: Int, threshold: Double,
      ordered: Boolean): DataFrame = {
    // ONE shingle pass for everything (r17, guide §1.2/§5): `base` is
    // persisted and feeds (1) the decision statistics, (2) the df
    // aggregate, (3) the prefix explode, and (4) both verification
    // sides — the r16 shape still paid a SEPARATE full
    // tokenize+shingle pass for the selector's (E, V) aggregate plus
    // a count() job before any mining work. The stats now read from
    // the exact-df aggregate the prefix path was going to build
    // anyway (so V is exact, not HLL-approximate — same decision,
    // tighter input), and nDocs is a cache-backed count.
    val base = spread(docs).select(
      col("doc_id"),
      sortedShingleHashes64Fast(col("text"), n).as("hs"))
      .withColumn("nh", size(col("hs")))
      .persist()
    val exploded = base.select(col("doc_id"), col("nh"), explode(col("hs")).as("h"))
    val dfCounts = exploded.groupBy("h").agg(count(lit(1)).as("df")).persist()
    val st = dfCounts.agg(sum("df").as("e"), count(lit(1)).as("v")).collect()(0)
    val e = if (st.isNullAt(0)) 0L else st.getLong(0)
    val v = st.getLong(1)
    val nDocs = base.count() // cached by the stats job above
    val prefixRows = (1.0 - threshold) * e + nDocs
    val dense = v > 0 && nDocs > 1 &&
      prefixRows * prefixRows / v > nDocs.toDouble * nDocs / 4.0 &&
      8.0 * e + 32.0 * nDocs <= DenseMaxBytes
    // tiny-vocabulary corpora (templated text: V ~ thousands while E
    // grows with the corpus) defeat both signature schemes at once —
    // every prefix hash is common AND the merge verifier's early
    // exit almost never fires; the dense kernel detects exact-V
    // in-construction and switches to bitset verification there
    if (dense) {
      dfCounts.unpersist() // dense path never reads the df table
      denseJaccardPairsFromBase(base, threshold, ordered)
    } else dfOrderedFromBase(base, exploded, dfCounts, nDocs, threshold, ordered)
  }

  /** All-pairs exact verification for corpora where prefix filtering
    * degenerates (see [[ngramJaccardPairs]]): the AllPairs
    * length-window scan (Bayardo et al. WWW'07 §3.2). The signature
    * table — already bounded to the broadcast budget by the selector
    * — is collected SORTED BY (nh, doc_id) and broadcast; each
    * partition then probes it per document with a binary search to
    * the doc's own sort position and a contiguous scan of only the
    * window that the t-length filter admits
    * (nh_x <= nh_y <= nh_x/t, y after x in the sort order).
    *
    * vs the previous BroadcastNestedLoopJoin formulation: BNLJ must
    * EVALUATE its condition on every (x, y) — ~2.5e9 a<b/length
    * checks at sf1 — because Spark's nested-loop build side carries
    * no exploitable order. Sorting the broadcast side makes both the
    * id-order dedup (scan starts after x's own position, so each
    * unordered pair is enumerated exactly once, from its shorter
    * member) and the length filter (scan stops at the first y with
    * nh_y*t > nh_x — the window is contiguous in the sort) FREE:
    * only the ~31% of pairs inside the window (measured, sf1
    * length distribution) are touched at all, each going straight to
    * the early-exit overlap bound + exact division the prefix path's
    * verifier applies — so the two plans admit identical pairs
    * (DedupSpec proves equality against brute force). This is the
    * documented mapPartitions exception: the win IS the imperative
    * access pattern over the sorted broadcast array, inexpressible
    * as a declarative join condition. Still no shuffle of candidate
    * rows; parallelism = the spread() partitioning of the probe side.
    *
    * EAGER AT CONSTRUCTION — deliberately (r13 reversal of the r12
    * lazy-index ask, with measurements): the lazy shape carried the
    * index as a one-row `sort_array(collect_list)` aggregate joined
    * by `broadcast()`, and whole-stage codegen then COPIED the whole
    * index into EVERY join output row — at a 50k-doc corpus that is
    * ~1.1 TB of memcpy (measured: d7 8.4 s -> 43 min, plus executor
    * OOM from the per-row Row-encoder conversions). Speculation
    * safety lives in the SELECTOR instead: [[ngramJaccardPairs]]
    * decides the path from the one-pass stats BEFORE constructing
    * this operator, so the collect here is never speculative
    * (DedupSpec pins that the prefix path runs no signature collect).
    *
    * TINY-VOCABULARY kernel: when the exact global vocabulary
    * (derived driver-side from the already-collected signatures —
    * zero extra jobs) fits 4096 bits, signatures are bitset-packed
    * and the per-pair verify is ~V/64 branchless AND+popcounts. The
    * merge verifier's early exit is worthless exactly there: overlap
    * against a small shared vocabulary climbs too slowly to bail, so
    * every candidate paid a full ~|d| merge.
    */
  /** Test seam: how many dense indexes have been BUILT (collected) —
    * DedupSpec pins that prefix-path corpora never increment it.
    */
  private[graft] val denseBuilds = new java.util.concurrent.atomic.AtomicLong(0)

  private[graft] def denseJaccardPairs(docs: DataFrame, n: Int, threshold: Double): DataFrame =
    denseJaccardPairsFromBase(
      spread(docs).select(
        col("doc_id"), sortedShingleHashes64Fast(col("text"), n).as("hs"))
        .withColumn("nh", size(col("hs"))),
      threshold, ordered = true)

  /** The dense kernel over a prebuilt signature frame `(doc_id, hs,
    * nh)` — shared by the standalone entry point and the adaptive
    * dispatcher, whose PERSISTED base makes the probe-side re-scan of
    * the signatures a cache read instead of a second shingle pass
    * (the collect below and the probe scan are two evaluations of
    * `base`).
    */
  private def denseJaccardPairsFromBase(preBase: DataFrame, threshold: Double,
      ordered: Boolean): DataFrame = {
    denseBuilds.incrementAndGet()
    val spark = preBase.sparkSession
    val sp = org.apache.spark.sql.graft.Shim.classic(spark)
    val base = preBase.filter(col("nh") > 0)
    // EAGER index: the signature table is collected ONCE driver-side
    // (bounded by the selector's byte budget) and shipped via
    // SparkContext.broadcast — each executor fetches it once over the
    // torrent path. A lazy one-row-aggregate column shape was tried
    // (r13): whole-stage codegen then COPIES the whole index into
    // EVERY join output row — measured 1.1 TB of memcpy + executor
    // OOM at a 50k-doc corpus. Laziness is the SELECTOR's job: this
    // constructor is only reached once the adaptive decision to go
    // dense is already made, so the collect is never speculative.
    val rows = base.select(col("nh"), col("doc_id"), col("hs")).collect()
    java.util.Arrays.sort(rows, (x: org.apache.spark.sql.Row, y: org.apache.spark.sql.Row) => {
      val c = Integer.compare(x.getInt(0), y.getInt(0))
      if (c != 0) c else java.lang.Long.compare(x.getLong(1), y.getLong(1))
    })
    val nIdx = rows.length
    val ids = new Array[Long](nIdx)
    val lens = new Array[Int](nIdx)
    val hsArr = new Array[Array[Long]](nIdx)
    var i0 = 0
    while (i0 < nIdx) {
      ids(i0) = rows(i0).getLong(1)
      lens(i0) = rows(i0).getInt(0)
      hsArr(i0) = rows(i0).getSeq[Long](2).toArray
      i0 += 1
    }
    // TINY-VOCABULARY kernel: derive the EXACT global vocabulary from
    // the already-collected signatures (zero extra jobs). Templated
    // corpora (V ~ thousands while E grows with the corpus) defeat
    // the merge verifier's early exit — overlap against a shared
    // vocabulary climbs too slowly to bail — so each signature is
    // bitset-packed over the vocabulary and the per-pair verify
    // collapses to ~V/64 branchless AND+popcounts. Above the 4096-bit
    // cap the sorted-merge kernel stands.
    val vocab: Array[Long] = {
      val set = new java.util.TreeSet[java.lang.Long]()
      var k = 0
      var overflow = false
      while (k < nIdx && !overflow) {
        val a = hsArr(k); var j = 0
        while (j < a.length && !overflow) {
          set.add(a(j))
          if (set.size > 4096) overflow = true
          j += 1
        }
        k += 1
      }
      if (overflow) null
      else {
        val out = new Array[Long](set.size)
        val it = set.iterator(); var j = 0
        while (it.hasNext) { out(j) = it.next(); j += 1 }
        out
      }
    }
    def packBits(hs: Array[Long], vocabArr: Array[Long]): Array[Long] = {
      val b = new Array[Long]((vocabArr.length + 63) >>> 6)
      var i = 0
      while (i < hs.length) {
        val idx = java.util.Arrays.binarySearch(vocabArr, hs(i))
        // The INDEX side holds every hash by construction, but the
        // probe side RE-EXECUTES `base` after the driver collect — a
        // source mutated in between (or a nondeterministic input) can
        // surface a hash the vocab never saw. An unknown hash
        // contributes no overlap bit (the correct Jaccard semantics),
        // never a negative array index (ADVICE r13 low).
        if (idx >= 0) b(idx >>> 6) |= 1L << (idx & 63)
        i += 1
      }
      b
    }
    val sigs: Array[Array[Long]] =
      if (vocab == null) hsArr else hsArr.map(packBits(_, vocab))
    val bc = sp.sparkContext.broadcast((ids, sigs, lens, vocab))
    val t = threshold
    val needFrac = threshold / (1 + threshold)
    // InternalRow scan (no Row-encoder conversion of probe rows);
    // each probe extracts its own primitives, then walks the sorted
    // length window over the broadcast arrays.
    val pairsRdd = base.queryExecution.toRdd.mapPartitions { it =>
      val (bIds, bSigs, bLens, bVocab) = bc.value
      val useBits = bVocab != null
      val w = if (useBits) (bVocab.length + 63) >>> 6 else 0
      def probe(id: Long, haRaw: Array[Long], na: Int): Seq[(Long, Long, Double)] = {
        val ha = if (useBits) packBits(haRaw, bVocab) else haRaw
        // first index AFTER this doc in the (nh, doc_id) order
        var lo = 0; var hi = bIds.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (bLens(mid) < na || (bLens(mid) == na && bIds(mid) <= id)) lo = mid + 1
          else hi = mid
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var i = lo
        var inWindow = true
        while (inWindow && i < bIds.length) {
          val nb = bLens(i)
          // same 1e-9 slack as the join formulation, so the admitted
          // candidate set is unchanged; nh ascending makes the first
          // failure terminal
          if (nb * t > na + 1e-9) inWindow = false
          else {
            val hb = bSigs(i)
            if (useBits) {
              // exact overlap in one branchless pass; admit jac >= t
              // directly (the at-least precheck is subsumed)
              var ov = 0; var k = 0
              while (k < w) { ov += java.lang.Long.bitCount(ha(k) & hb(k)); k += 1 }
              val jac = ov.toDouble / (na + nb - ov)
              if (jac >= t) {
                val idB = bIds(i)
                out += ((math.min(id, idB), math.max(id, idB), jac))
              }
            } else {
              val need = math.ceil((na + nb) * needFrac - 1e-6).toInt
              if (graft.functions.HashOps.sortedOverlapAtLeastArr(ha, hb, need)) {
                val ov = graft.functions.HashOps.sortedOverlapArr(ha, hb).toDouble
                val jac = ov / (na + nb - ov)
                if (jac >= t) {
                  val idB = bIds(i)
                  out += ((math.min(id, idB), math.max(id, idB), jac))
                }
              }
            }
            i += 1
          }
        }
        out.toSeq
      }
      // extract each row's primitives inside the flatMap call, BEFORE
      // the iterator advances (UnsafeRow buffers are reused)
      it.flatMap(row =>
        probe(row.getLong(0), row.getArray(1).toLongArray(), row.getInt(2)))
    }
    val out = sp.createDataFrame(pairsRdd).toDF("a", "b", "jac")
      .select(col("a"), col("b"), round(col("jac"), 6).as("jac"))
    if (ordered) out.orderBy("a", "b") else out
  }

  /** Benchmark decontamination: flag corpus documents that contain
    * any word n-gram occurring in an evaluation set — the standard
    * eval-leakage check a training-data pipeline runs before
    * releasing a corpus. Returns `(doc_id, n_hits)` for contaminated
    * docs (n_hits = distinct leaked n-grams), ordered by doc_id.
    *
    * Scale shape: eval sets are small (thousands of docs), so their
    * distinct-gram set BROADCASTS; the corpus side is one narrow
    * shingle pass + a broadcast hash join + a single groupBy(doc_id)
    * shuffle of only the matching rows. The 100 TB corpus is never
    * shuffled unfiltered.
    */
  def decontaminate(corpus: DataFrame, evalDocs: DataFrame, n: Int = 5): DataFrame = {
    val evalGrams = evalDocs
      .select(explode(shinglesFast(col("text"), n)).as("g")).distinct()
    // No spread(): the shingle + broadcast probe pipelines inside the
    // corpus scan (parallelism = input splits), and only the MATCHED
    // (doc_id, gram) rows — sparse when contamination is rare — reach
    // the groupBy shuffle.
    corpus
      .select(col("doc_id"), explode(shinglesFast(col("text"), n)).as("g"))
      .join(broadcast(evalGrams), "g")
      // per-doc shingles are already distinct, so count = distinct hits
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")
  }

  /** FUZZY benchmark decontamination: corpus documents whose n-gram
    * Jaccard similarity with ANY eval document reaches `threshold` —
    * the near-duplicate contamination an exact-gram check
    * ([[decontaminate]]) misses when the leaked copy was lightly
    * paraphrased or re-tokenized. Output: one row per contaminated
    * corpus doc with its match count and best similarity.
    *
    * Plan: CROSS-SET-ONLY prefix join — corpus prefixes probe eval
    * prefixes (the standard PPJoin prefix lemma holds pairwise, so
    * joining the two sets' prefixes finds every cross pair at
    * Jaccard ≥ threshold), and only cross candidates are ever
    * generated or verified. Corpus×corpus pairs — the quadratic
    * term a whole-corpus dedup pays — never exist here, which is
    * what makes decontamination strictly cheaper than dedup at the
    * same threshold. Verification is side-keyed (corpus hashes join
    * only the corpus column, eval hashes only the eval column), so
    * overlapping doc-id spaces cannot cross-contaminate the jaccard
    * scores. The partition multiplier is sized from parquet footer
    * row counts when the inputs are parquet scans — a metadata-only
    * driver pass — falling back to `count()` jobs otherwise, so no
    * full corpus scan runs before the useful work.
    */
  def decontaminateFuzzy(corpus: DataFrame, evalDocs: DataFrame, n: Int = 3,
      threshold: Double = 0.6): DataFrame = {
    val nDocs = (for (c <- fileRowCounts(corpus); e <- fileRowCounts(evalDocs))
      yield (c ++ e).values.sum) // shared files count ONCE
      .getOrElse(corpus.count() + evalDocs.count())
    val mult = pairMult(nDocs)
    def prep(df: DataFrame) =
      spread(df).select(col("doc_id"), sortedShingleHashes64Fast(col("text"), n).as("hs"))
        .withColumn("nh", size(col("hs")))
    def prefixed(df: DataFrame) = {
      val plen = (col("nh") - ceil(col("nh") * lit(threshold) - lit(1e-9)) + lit(1)).cast("int")
      pinned(df.select(col("doc_id"), col("nh"),
        explode(slice(col("hs"), lit(1), plen)).as("h")), col("h"))
    }
    // r16: each side feeds its prefix explode AND its verification
    // join — unpersisted, each side was shingled twice. Lazy persist:
    // one shingle pass per side (guide §5).
    val c = prep(corpus).persist()
    val e = prep(evalDocs).persist()
    val cand = pinnedWide(
      prefixed(c).select(col("h"), col("doc_id").as("a"), col("nh").as("na"))
        .join(prefixed(e).select(col("h"), col("doc_id").as("b"), col("nh").as("nb")), Seq("h"))
        .filter(greatest(col("na"), col("nb")) * lit(threshold) <=
          least(col("na"), col("nb")) + lit(1e-9))
        .select("a", "b", "na", "nb"),
      mult, col("a"), col("b")).distinct()
    verifyPairsSides(cand,
        c.select(col("doc_id"), col("hs")), e.select(col("doc_id"), col("hs")),
        mult, threshold)
      .groupBy("a")
      .agg(count(lit(1)).as("n_matches"), max(col("jac")).as("max_jac"))
      .select(col("a").as("doc_id"), col("n_matches"), col("max_jac"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination for eval sets TOO BIG TO BROADCAST:
    * same contract and same results as [[decontaminate]], different
    * plan. [[decontaminate]] ships the eval grams as a broadcast hash
    * table (~50+ bytes/gram resident on every executor); past a few
    * hundred million grams that stops fitting. Here the corpus-side
    * prefilter is a BLOOM FILTER of the eval grams (~10 bits/gram at
    * 1% fpp — 100× smaller, still one narrow probe inside the corpus
    * scan), and the survivors — bloom false positives plus true hits,
    * i.e. ≈ (1+fpp)·matches — feed an exact SHUFFLE join against the
    * eval grams that removes the false positives. The expensive
    * full-corpus side still never shuffles; only bloom-passing rows
    * do. Exactness is unconditional: the verify join makes the bloom
    * a pure pre-filter, so the result equals [[decontaminate]]
    * gram-for-gram regardless of fpp.
    *
    * The bloom probe is a Scala UDF over the broadcast sketch — the
    * documented exception to functions-first: Spark's bloom
    * expression is internal to runtime row-filtering, and a
    * multi-megabyte sketch belongs in a broadcast variable, not a
    * plan literal.
    */
  def decontaminateBloom(corpus: DataFrame, evalDocs: DataFrame, n: Int = 5,
      fpp: Double = 0.01): DataFrame = {
    val spark = corpus.sparkSession
    val evalGrams = evalDocs
      .select(explode(shinglesFast(col("text"), n)).as("g")).distinct()
    // sizing count runs over the (small) eval side only
    val nGrams = math.max(evalGrams.count(), 1L)
    val bf = evalGrams.stat.bloomFilter("g", nGrams, fpp)
    val bc = org.apache.spark.sql.graft.Shim.classic(spark)
      .sparkContext.broadcast(bf)
    val mightContain = udf((g: String) => g != null && bc.value.mightContain(g))
    corpus
      .select(col("doc_id"), explode(shinglesFast(col("text"), n)).as("g"))
      .filter(mightContain(col("g")))
      // exact verify join — shuffle hash, NOT broadcast: this path
      // exists precisely because the gram set exceeds broadcast range
      .join(evalGrams.hint("shuffle_hash"), "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")
  }

  /** n-gram Jaccard via the full inverted index (every shingle is a
    * join key, shared counts by groupBy). Exact, but candidate volume
    * is sum(df^2) over shingle document frequencies — common shingles
    * make that quadratic, so prefer the prefix-filter path
    * ([[ngramJaccardPairs]]) beyond small corpora.
    */
  def ngramJaccardPairsInverted(docs: DataFrame, n: Int = 2, threshold: Double = 0.5): DataFrame = {
    val sh = spread(docs).select(col("doc_id"), shinglesFast(col("text"), n).as("sh"))
      .withColumn("nsh", size(col("sh")))
    val inv = pinned(
      sh.select(col("doc_id"), col("nsh"), explode(col("sh")).as("s")), col("s"))
    val pairs = inv.as("x").join(inv.as("y"), col("x.s") === col("y.s"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.nsh").as("na"), col("y.nsh").as("nb"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .withColumn("jac", col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
      .filter(col("jac") >= threshold)
      .select(col("a"), col("b"), round(col("jac"), 6).as("jac"))
      .orderBy("a", "b")
  }

  /** Per-document 48-bit simhash. */
  def simhashSignatures(docs: DataFrame): DataFrame =
    spread(docs)
      .select(col("doc_id"), simhashFast(col("text")).as("sim"))
      .orderBy("doc_id")

  /** Simhash near-duplicate pairs at hamming distance <= maxDist,
    * found via band-LSH: 4 bands x 12 bits. For maxDist <= 3 the
    * banding is EXACT (pigeonhole), so this equals the all-pairs
    * oracle while joining only on band buckets.
    */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3): DataFrame = {
    require(maxDist < SimhashBands, "band LSH is exact only for dist < #bands")
    val sigs = spread(docs).select(col("doc_id"), simhashFast(col("text")).as("sim"))
    val banded = pinned(
      sigs.select(col("doc_id"), col("sim"),
        posexplode(array((0 until SimhashBands).map { i =>
          shiftright(col("sim"), i * SimhashBandBits).bitwiseAND(lit((1 << SimhashBandBits) - 1))
        }: _*)).as(Seq("band", "v"))),
      col("band"), col("v"))
    val a = banded.select(col("band"), col("v"), col("doc_id").as("a"), col("sim").as("sa"))
    val b = banded.select(col("band"), col("v"), col("doc_id").as("b"), col("sim").as("sb"))
    // A pair colliding in k bands would surface k times; instead of a
    // dedup shuffle, keep only the row whose band is the FIRST band
    // where the two signatures agree (computable per-row from sa/sb) —
    // the classic LSH dedup trick: exact, and entirely shuffle-free.
    def bandVal(c: org.apache.spark.sql.Column, i: Int) =
      shiftright(c, i * SimhashBandBits).bitwiseAND(lit((1 << SimhashBandBits) - 1))
    val firstMatch = (0 until SimhashBands).foldRight(lit(-1): org.apache.spark.sql.Column) {
      (i, acc) => when(bandVal(col("sa"), i) === bandVal(col("sb"), i), lit(i)).otherwise(acc)
    }
    a.join(b, Seq("band", "v"))
      .filter(col("a") < col("b"))
      .filter(col("band") === firstMatch)
      .withColumn("dist", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .filter(col("dist") <= maxDist)
      .select("a", "b", "dist")
      .orderBy("a", "b")
  }

  /** Connected components over an undirected pair list (columns
    * `a`, `b`) — the step a real dedup pipeline runs AFTER pair
    * generation: near-duplicate PAIRS become duplicate CLUSTERS, and
    * one representative per cluster survives (see [[canonicalKeep]]).
    *
    * Algorithm: HYBRID. Phase 1 is iterative min-label propagation —
    * every node starts labelled with itself, each round takes the
    * minimum of its own and its neighbours' labels; rounds needed =
    * graph diameter, and near-duplicate components are near-cliques
    * (diameter 1–3 in practice), so real dedup graphs converge in a
    * handful of the CHEAPEST possible rounds (one shuffle join + one
    * min-aggregation each, on the [[Rounds]] loop, whose checkpoints
    * keep round N from replaying rounds 1..N-1). A graph still moving
    * after [[MinLabelRounds]] rounds is diameter-pathological (long
    * chains), and phase 2 switches to the alternating
    * large-star/small-star contraction of Kiveris et al. ("Connected
    * Components in MapReduce and Beyond", SoCC'14,
    * [[alternatingComponents]]), whose round count is O(log² n) on
    * ANY graph — a 10k-node path that would blow a diameter bound
    * converges in a few dozen contraction rounds. Still fail-loud:
    * exhausting the total budget raises rather than returning
    * silently split clusters.
    *
    * The companion DuckDB oracle is a recursive CTE propagating labels
    * downhill (`WHERE r.lbl < e.dst`): the component-minimum reaches
    * every member along a path on which it is always the smaller
    * endpoint, and the UNION-distinct semantics of recursive CTEs
    * guarantee termination.
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 64): DataFrame = Rounds.scope { rs =>
    // every round reads the edge list: fill it now, which also cuts
    // its lineage, so no round's job carries the pair-mining stages
    val und = rs.checkpoint(undirected(pairs))
    rs.count(und)
    val labels = rs.checkpoint(und.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node")))
    // labels only ever decrease, so sum(lbl) is strictly monotone
    // until the fixpoint: an unchanged sum IS convergence, checked
    // with one aggregate instead of a join against the prior round.
    val run = rs.loop(Round(labels, labelSum(labels)), math.min(MinLabelRounds, maxRounds))(
      (h, _) => componentStep(und, h.head.frame))(labelSum)(
      (prev, latest) => latest.value.compareTo(prev.value) == 0)
    if (run.converged)
      rs.keep(run.last.frame).select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
    else
      // diameter exceeds the cheap-phase budget: contract instead of
      // failing — O(log² n) rounds on any graph shape
      alternatingComponents(pairs, maxRounds - (run.history.size - 1))
  }

  /** Both orientations `(src, dst)` of every pair, from ONE pass over
    * the pair pipeline: the union-of-two-selects form evaluated the
    * (expensive) upstream pair-mining subtree TWICE — nothing upstream
    * is cached, and exchange reuse does not bridge the two union
    * branches once the projections differ (measured r16, sf0.1: d8 ≈
    * 2×pairs + cc; pairs 4.7 s, cc 1.3 s). explode(array(...)) emits
    * (a,b) and (b,a) per input row in the same narrow stage.
    */
  private[graft] def undirected(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** One min-label round of [[connectedComponents]]: every node takes
    * the minimum of its own and its neighbours' labels. */
  private[graft] def componentStep(und: DataFrame, labels: DataFrame): DataFrame =
    labels.union(und.join(labels.select(col("node").as("dst"), col("lbl")), "dst")
        .select(col("src").as("node"), col("lbl")))
      .groupBy("node").agg(min("lbl").as("lbl"))

  /** The convergence sum of a label table. Decimal(38) sum: ids may be
    * arbitrary 64-bit values (content hashes), where a LongType sum
    * could wrap and collide. The empty-graph sum is null -> ZERO, so a
    * pair-free corpus converges at once instead of NPE-ing.
    */
  private def labelSum(labels: DataFrame): java.math.BigDecimal =
    Option(labels.agg(sum(col("lbl").cast("decimal(38,0)"))).collect().head.getDecimal(0))
      .getOrElse(java.math.BigDecimal.ZERO)

  /** Rounds of plain min-label propagation [[connectedComponents]]
    * attempts before switching to the contraction algorithm — deep
    * enough that every realistic near-dup graph (diameter 1–4)
    * converges without ever paying a contraction round's extra cost.
    */
  private[graft] val MinLabelRounds = 8

  /** Connected components by ALTERNATING large-star/small-star
    * contraction (Kiveris et al., SoCC'14): per round, large-star
    * links every neighbour larger than `u` to `u`'s minimum
    * neighbourhood label, then small-star links `u` and its smaller
    * neighbours to that minimum; the edge set converges to stars
    * rooted at each component's minimum id in O(log² n) rounds on ANY
    * graph — path graphs included, where plain propagation needs
    * diameter rounds. Output matches [[connectedComponents]]:
    * `(doc_id, cluster_id = component-min id)`.
    *
    * Scale shape: each round is two groupBy-min aggregations and two
    * joins over the CURRENT edge set, which only shrinks (toward one
    * edge per non-root node); each round is a [[Rounds]] checkpoint,
    * so no round replays the ones before it. Convergence is detected by a decimal-sum signature
    * (count, Σu, Σv — exact, no float loss) and then CONFIRMED with
    * an exact set-difference before declaring the fixpoint, so a
    * signature collision can never end the loop early with wrong
    * clusters; the budget exhausting raises rather than returning
    * partial labels.
    */
  private[graft] def alternatingComponents(pairs: DataFrame, maxRounds: Int = 64): DataFrame =
    Rounds.scope { rs =>
      val nodes = rs.checkpoint(pairs.select(col("a").as("node"))
        .union(pairs.select(col("b").as("node"))).distinct())
      val edges = rs.checkpoint(canonicalEdges(pairs))
      val seed = Round(edges, edgeSignature(edges))
      val empty = seed.value._1 == 0L // a pair-free input is already done
      // signature equality is the cheap gate; the exact set diff (two
      // distinct sets of equal size, one-way subset ⇒ equal) is the
      // proof — convergence is never declared off a sum collision
      val run = rs.loop(seed, if (empty) 0 else maxRounds)((h, _) => starStep(h.head.frame))(
        edgeSignature)((prev, latest) =>
        latest.value == prev.value && latest.frame.exceptAll(prev.frame).isEmpty)
      if (!empty && !run.converged) throw new IllegalStateException(
        s"alternatingComponents did not converge within $maxRounds rounds — " +
          "raise maxRounds (returning partial labels would silently split clusters)")
      val stars = run.last.frame
      // the fixpoint must be STAR-shaped (one edge per non-root, roots
      // never on the u side) — a one-off structural check that makes
      // any early-stop bug loud instead of silently mislabeling
      if (!empty) {
        val multiEdge = stars.groupBy("u").agg(count(lit(1)).as("c"))
          .filter(col("c") > 1).isEmpty
        val rootsAreLeaves = stars.select("u")
          .intersect(stars.select(col("v").as("u"))).isEmpty
        if (!multiEdge || !rootsAreLeaves) throw new IllegalStateException(
          "alternatingComponents converged to a non-star edge set — internal invariant violated")
      }
      // fixpoint = stars rooted at component minima: every non-root
      // node holds exactly (node, min); roots label themselves. The
      // labels are filled here so the returned frame reads one
      // checkpoint, not the node and edge tables.
      val labels = rs.checkpoint(nodes
        .join(stars.select(col("u").as("node"), col("v").as("lbl")), Seq("node"), "left")
        .select(col("node").as("doc_id"), coalesce(col("lbl"), col("node")).as("cluster_id")))
      rs.count(labels)
      rs.keep(labels)
    }

  /** The distinct pairs in canonical orientation u > v; self loops
    * contribute nothing. */
  private[graft] def canonicalEdges(pairs: DataFrame): DataFrame =
    pairs.select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()

  /** One [[alternatingComponents]] round: large-star, then small-star. */
  private[graft] def starStep(edges: DataFrame): DataFrame = smallStar(largeStar(edges))

  /** Large-star: from BOTH orientations of each edge, every neighbour
    * v > u relinks to m(u) = min(N(u) ∪ {u}); edges where v < u
    * re-emerge from v's own group, so no adjacency is lost. */
  private def largeStar(e: DataFrame): DataFrame = {
    val nbrs = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val m = nbrs.groupBy("u").agg(min("v").as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    nbrs.join(m, "u").filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v")).distinct()
  }

  /** Small-star: per larger endpoint u (all its neighbours are < u
    * under the canonical orientation), link u and every non-minimum
    * neighbour to m = min(N(u)). */
  private def smallStar(e: DataFrame): DataFrame = {
    val m = e.groupBy("u").agg(min("v").as("m"))
    val viaV = e.join(m, "u").filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
    val viaU = m.select(col("u"), col("m").as("v"))
    viaV.union(viaU).filter(col("u") =!= col("v")).distinct()
  }

  /** Convergence signature of an edge set: (count, Σu, Σv), exact
    * decimal sums. */
  private def edgeSignature(e: DataFrame): (Long, java.math.BigDecimal, java.math.BigDecimal) = {
    val r = e.agg(count(lit(1)),
      sum(col("u").cast("decimal(38,0)")), sum(col("v").cast("decimal(38,0)"))).head()
    (r.getLong(0),
      Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO),
      Option(r.getDecimal(2)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** Duplicate clusters over the near-duplicate pair graph at exact
    * Jaccard >= `threshold` ([[minhashPairs]]): each doc that appears
    * in at least one pair, labelled with the smallest doc_id of its
    * connected component.
    */
  def duplicateClusters(docs: DataFrame, threshold: Double = 0.8): DataFrame =
    // unordered pair set (r17): CC's min-label propagation is
    // order-insensitive, so d3's presentation orderBy (range exchange
    // + sort of the pair table) is dead weight inside the CC
    // checkpoint; the declared output order comes from the final
    // orderBy("doc_id") alone
    connectedComponents(minhashPairsUnordered(docs, threshold).select("a", "b"))
      .orderBy("doc_id")

  /** The dedup pipeline's keep decision: every document joins its
    * duplicate cluster (singletons form their own), and the cluster's
    * canonical survivor is the LONGEST document (ties to the smallest
    * doc_id) — the usual "keep the most complete copy" policy. Output
    * is one row per cluster: the survivor, the member count, and the
    * survivor's length. One extra shuffle (by cluster) on top of
    * [[duplicateClusters]]; the window never sees more rows per key
    * than a cluster has members.
    */
  def canonicalKeep(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // unordered pair set — same reasoning as [[duplicateClusters]]
    val cc = connectedComponents(minhashPairsUnordered(docs, threshold).select("a", "b"))
    val lab = docs.select(col("doc_id"), length(col("text")).cast("int").as("len"))
      .join(cc, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val byCluster = Window.partitionBy("cluster_id")
    lab
      .withColumn("n_members", count(lit(1)).over(byCluster).cast("int"))
      .withColumn("rn", row_number().over(byCluster.orderBy(col("len").desc, col("doc_id"))))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_doc"),
        col("n_members"), col("len").as("max_len"))
      .orderBy("cluster_id")
  }

  /** Embedding near-duplicate pairs, blocked by `label` (the
    * pipeline's cluster/bucket column): pairs within a block with
    * cosine >= threshold. Blocking turns O(n^2) into
    * sum over blocks of O(|block|^2) — at scale the label would come
    * from an ANN partitioner (see [[Similarity]]).
    */
  def embeddingPairs(emb: DataFrame, threshold: Double = 0.4): DataFrame = {
    val x = pinned(
      emb.select(col("label"), col("vec_id").as("a"), col("embedding").as("ea")), col("label"))
    val y = emb.select(col("label"), col("vec_id").as("b"), col("embedding").as("eb"))
    x.join(y, Seq("label"))
      .filter(col("a") < col("b"))
      .withColumn("cos", VectorFunctions.cosineFast(col("ea"), col("eb")))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), round(col("cos"), 6).as("cos"))
      .orderBy("a", "b")
  }

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space, then mark every
    * vector that has a same-cluster neighbor at cosine >= `threshold`
    * with a smaller `vec_id` as a duplicate — each semantic
    * near-duplicate group keeps exactly its smallest-id member.
    * Output: `(vec_id, cluster, is_dup)`, the pipeline's drop list.
    *
    * Clustering uses the deterministic seeded assignment
    * ([[Clustering.assign]] over [[Clustering.seedCentroids]]) so the
    * operator is an exact pure function of the corpus (the
    * production path swaps in trained centroids — same plan). Scale
    * shape is SemDeDup's own: the quadratic term is within-cluster
    * only (sum of |cluster|² vs n²), the cluster id is the shuffle
    * key, and `k` grows with the corpus so cluster populations stay
    * bounded. The assignment is a pure map (centroid literals ride
    * along); one shuffle on cluster for the pair join, one broadcast
    * anti-join for the verdict.
    */
  def semanticDedup(emb: DataFrame, k: Int = 16, threshold: Double = 0.4): DataFrame = {
    val assigned = Clustering.assign(emb, Clustering.seedCentroids(emb, k))
      .select(col("vec_id"), col("embedding"), col("cluster"))
    val x = pinned(
      assigned.select(col("cluster"), col("vec_id").as("a"), col("embedding").as("ea")),
      col("cluster"))
    val y = assigned.select(col("cluster"), col("vec_id").as("b"), col("embedding").as("eb"))
    val dropped = x.join(y, Seq("cluster"))
      .filter(col("a") < col("b"))
      .filter(VectorFunctions.cosineFast(col("ea"), col("eb")) >= threshold)
      .select(col("b").as("vec_id")).distinct()
    assigned.select(col("vec_id"), col("cluster"))
      .join(dropped.withColumn("__d", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("__d"), lit(false)).as("is_dup"))
      .orderBy("vec_id")
  }

  /** C4-style EXACT LINE dedup, at sub-document granularity: the
    * corpus is cut into `window`-token pseudo-sentences and each
    * distinct line keeps exactly its FIRST occurrence (global
    * (doc_id, position) order — deterministic at any parallelism);
    * every later repetition is the removable boilerplate this
    * filter exists for. Returns per-document (n_lines, n_kept).
    *
    * Scale shape: one narrow chunking pass, ONE shuffle on the line
    * text for the first-occurrence aggregate, one shuffle-on-line
    * join back, one per-doc aggregate — cost O(lines), never pairs.
    * Reference filter: C4 (Raffel et al. 2020) deduplicates
    * three-sentence spans the same way.
    */
  def lineDedupStats(docs: DataFrame, window: Int = 8,
      hashLines: Boolean = false): DataFrame = {
    val toks = tokens(col("text"))
    val nChunks = ceil(size(toks) / lit(window.toDouble)).cast("long")
    // lexicographic struct min, NOT an arithmetic composite: a
    // doc_id*C+pos key silently bleeds into the next doc's keyspace
    // once a document exceeds C chunks — struct ordering has no such
    // cliff. (hashLines=true additionally accepts the standard
    // xxhash64-collision caveat: two distinct lines hashing equal
    // would merge, the same trade C4 makes for the 10x smaller
    // shuffle.)
    val key = struct(col("doc_id"), col("pos"))
    val e = docs.filter(size(toks) > 0)
      .select(col("doc_id"), explode(sequence(lit(0L), nChunks - 1)).as("ci"),
        toks.as("toks"))
      .select(col("doc_id"), (col("ci") + 1).as("pos"),
        concat_ws(" ",
          slice(col("toks"), (col("ci") * window + 1).cast("int"), lit(window))).as("line"))
      .withColumn("k", key)
      // the 100 TB path shuffles an 8-byte line HASH instead of the
      // line text (C4 does the same) — both the aggregate and the
      // join key shrink ~10x; the exact-text variant exists for the
      // oracle gate, and the spec proves the two agree on real data
      .withColumn("lk", if (hashLines) xxhash64(col("line")) else col("line"))
      .drop("line")
    val first = e.groupBy("lk").agg(min(col("k")).as("fk"))
    e.join(first, "lk")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("k") === col("fk"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[lineDedupStats]]. */
  def sqlLineDedupStats(window: Int = 8): String =
    s"""WITH t AS (SELECT doc_id, ${graft.functions.CrossHash.sqlTokens("text")} AS toks FROM documents),
       |c AS (SELECT doc_id, toks, unnest(range(0, CAST(ceil(len(toks) / $window.0) AS BIGINT))) AS ci
       |      FROM t WHERE len(toks) > 0),
       |e AS (SELECT doc_id, ci + 1 AS pos,
       |        array_to_string(toks[(ci*$window+1):(ci*$window+$window)], ' ') AS line FROM c),
       |k AS (SELECT doc_id, pos, line, ROW(doc_id, pos) AS k FROM e),
       |f AS (SELECT line, MIN(k) AS fk FROM k GROUP BY line)
       |SELECT k.doc_id, COUNT(*) AS n_lines,
       |  CAST(SUM(CASE WHEN k.k = f.fk THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM k JOIN f ON k.line = f.line
       |GROUP BY k.doc_id ORDER BY k.doc_id""".stripMargin

  /** Directed near-CONTAINMENT pairs: (a, b) where
    * C(a→b) = |sh(a) ∩ sh(b)| / |sh(a)| ≥ `threshold` — the
    * asymmetric overlap that catches an EXCERPT or quoted block
    * living inside a larger document, which symmetric Jaccard misses
    * whenever the container is much bigger than the containee (at
    * |B| = 10|A|, full containment is only J ≈ 0.1). The standard
    * dedup pass for quote/boilerplate-inclusion mining.
    *
    * Prefix lemma (containment form of AllPairs, Chaudhuri et al.
    * ICDE'06): if |A∩B| ≥ t|A| then the first |A| − ceil(t|A|) + 1
    * smallest shingle hashes of A must hit B somewhere — so the
    * candidate join is A-prefix hashes × the FULL posting list (the
    * containee side prunes, the container side cannot). Verification
    * is the exact two-pointer overlap on the sorted hash arrays.
    *
    * Scale: candidate volume is Σ_h df_pref(h)·df(h), so the prefix
    * takes the AllPairs df-ASCENDING order (each containee's prefix
    * carries its RAREST shingles), a positional filter drops
    * candidates whose matched prefix can no longer reach t·|A|, and
    * verification is the exact two-pointer overlap. Pinned partition
    * counts keep the KB-row high-fanout stages wide (see [[pinned]]).
    * GRAM LENGTH is the real volume lever for containment — B's side
    * can't prefix-prune and has no length bound, so candidate volume
    * is Σ_h df_pref(h)·df(h) and df is everything: on the sf1 corpus
    * 3-grams carry df≈91 (37M verification pairs, 47s), 5-grams
    * df≈1.1 (587 pairs, instant). Excerpt mining wants long grams
    * anyway (Lee et al. 2021 dedup at 50 tokens); n=5 is the floor
    * where a flat vocabulary stops generating accidental shares.
    */
  def containmentPairs(docs: DataFrame, n: Int = 5,
      threshold: Double = 0.8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mult = pairMult(docs.count())
    val base = spread(docs).select(
      col("doc_id"),
      sortedShingleHashes64Fast(col("text"), n).as("hs"))
      .withColumn("nh", size(col("hs")))
      .filter(col("nh") > 0)
      .localCheckpoint() // feeds prefix, posting list, AND verification
    val plen = (col("nh") - ceil(col("nh") * lit(threshold) - lit(1e-9)) + lit(1)).cast("int")
    val exploded = base.select(col("doc_id"), col("nh"), explode(col("hs")).as("h"))
    val dfCounts = exploded.groupBy("h").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("h"))
    val pref = pinned(
      exploded.join(dfCounts, "h")
        .withColumn("p", row_number().over(w) - lit(1))
        .filter(col("p") < plen)
        .select(col("doc_id").as("a"), col("nh").as("na"), col("p").as("pa"), col("h")),
      col("h"))
    val posting = pinned(base.select(col("doc_id").as("b"), explode(col("hs")).as("h")), col("h"))
    // positional filter: matched prefix hits c plus everything of A
    // past the deepest matched prefix position must still reach t·|A|
    val cand = pinnedWide(
      pref.join(posting.hint("SHUFFLE_MERGE"), Seq("h"))
        .filter(col("a") =!= col("b"))
        .select("a", "b", "na", "pa"),
      mult, col("a"), col("b"))
      .groupBy("a", "b", "na")
      .agg(count(lit(1)).as("c"), max(col("pa")).as("pam"))
      .filter(col("c") + (col("na") - col("pam") - lit(1)) >=
        ceil(col("na") * lit(threshold) - lit(1e-9)))
      .select("a", "b", "na")
    val withA = pinnedWide(cand, mult, col("a"))
      .join(pinnedWide(base.select(col("doc_id").as("a"), col("hs").as("ha")), mult, col("a")), "a")
    pinnedWide(withA, mult, col("b"))
      .join(pinnedWide(base.select(col("doc_id").as("b"), col("hs").as("hb")), mult, col("b")), "b")
      .withColumn("ov", sortedOverlapFast(col("ha"), col("hb")).cast("double"))
      .withColumn("cont", col("ov") / col("na").cast("double"))
      .filter(col("cont") >= threshold)
      .select(col("a"), col("b"), round(col("cont"), 6).as("cont"))
      .orderBy("a", "b")
  }

  /** DuckDB oracle for [[containmentPairs]] (brute-force over shingle
    * strings, like d7's).
    */
  def sqlContainmentPairs(n: Int = 5, threshold: Double = 0.8): String =
    s"""WITH tok AS (SELECT doc_id, ${graft.functions.CrossHash.sqlTokens("text")} AS t FROM documents),
       |sh AS (SELECT doc_id, ${graft.functions.CrossHash.sqlShinglesOf("t", n)} AS s FROM tok
       |       WHERE len(t) >= $n),
       |p AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b,
       |    len(list_intersect(a.s, b.s))::DOUBLE / len(a.s) AS cont
       |  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id)
       |SELECT a, b, round(cont, 6) AS cont FROM p WHERE cont >= $threshold
       |ORDER BY a, b""".stripMargin

  /** CROSS-document duplicated n-gram coverage (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better" —
    * their NearDup/ExactSubstr analysis metric): per document, the
    * share of its n-gram OCCURRENCES whose n-gram also appears in at
    * least one OTHER document. High coverage = the document is mostly
    * template/boilerplate text shared across the corpus — the rows an
    * exact-substring dedup pass would carve up. Complements t7 (the
    * WITHIN-document repeat signal) and d22 (fixed-window line dedup):
    * this one slides, so shared spans are caught at any alignment.
    *
    * Returns `(doc_id, n_ngrams, n_dup, dup_frac)` for every document
    * with ≥ n tokens, ordered by doc_id.
    *
    * Scale shape: one narrow positional-shingle explode, a map-side-
    * combined groupBy (doc_id, gram) — repeats within a doc collapse
    * BEFORE the shuffle — then one groupBy(gram) for the document
    * frequency and one semi-join back; cost is O(token count), never
    * pairs. `hashGrams=true` shuffles the 8-byte xxhash64 of each
    * gram instead of its text — the 100 TB shape, ~10x smaller
    * exchanges, accepting the standard hash-collision caveat (two
    * distinct grams colliding would count as shared); the exact-text
    * default exists for the oracle gate and DedupSpec proves the two
    * variants agree on real data.
    */
  def dupNgramCoverage(docs: DataFrame, n: Int = 5,
      hashGrams: Boolean = false): DataFrame = {
    // materialize the token array as a COLUMN before the lambda:
    // an expression captured inside transform() is re-evaluated per
    // element, so referencing tokens(text) directly would re-split
    // the document n times per gram index (measured 9s -> 0.6s at
    // sf0.1 for this one change); an attribute reference is O(1)
    val t = col("toks")
    // POSITIONAL shingles (repeats kept): every occurrence counts
    val grams = when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)),
        i => concat_ws("_", (0 until n).map(j => element_at(t, i + lit(j))): _*)))
      .otherwise(array().cast("array<string>"))
    val occ = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(grams).as("g"))
      .withColumn("gk", if (hashGrams) xxhash64(col("g")) else col("g"))
      .groupBy("doc_id", "gk").agg(count(lit(1)).as("c"))
    // document frequency per gram (occ is distinct per (doc, gram),
    // so count(*) IS the doc count), joined back on the gram key.
    // DELIBERATELY an aggregate + join, NOT a count-over-window: the
    // aggregate partial-combines map-side and AQE splits a skewed
    // join partition, so a boilerplate gram carried by millions of
    // documents never serializes one task — a window partition has
    // no such mitigation. occ feeds both sides; localCheckpoint
    // materializes it once (alias-renumbered exchanges defeat
    // ReuseExchange here) instead of re-shingling the corpus.
    val occC = occ.localCheckpoint()
    val byG = occC.groupBy("gk").agg(count(lit(1)).as("nd"))
    occC.join(byG, "gk")
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_ngrams"),
        sum(when(col("nd") >= 2, col("c")).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        round(col("n_dup").cast("double") / col("n_ngrams").cast("double"), 6))
      .orderBy("doc_id")
  }

  /** MAXIMAL cross-document duplicated span per document — the
    * localization d23's coverage RATIO can't give: where d23 says
    * "38% of this doc's n-grams are shared", this returns the longest
    * contiguous run of shared n-gram positions, i.e. the longest
    * substring (in tokens) that an exact-substring dedup pass (Lee et
    * al. 2021's ExactSubstr) would carve out, plus where it starts.
    * A doc whose duplication is one long boilerplate block and a doc
    * with the same ratio sprinkled as short phrases need different
    * treatment; this is the signal that tells them apart.
    *
    * Returns `(doc_id, max_span, span_start)` for EVERY document —
    * `max_span` in tokens (run + n - 1), 0 when nothing is shared;
    * ties broken toward the earliest start.
    *
    * Scale shape: d23's plan (positional shingle explode, doc-gram
    * collapse before the shuffle, aggregate+join df — AQE-splittable,
    * no gram window) plus one row_number window PARTITIONED BY
    * doc_id over the doc's own duplicated positions (the classic
    * gaps-and-islands `pos - row_number` trick) — per-doc state only,
    * never corpus-wide.
    */
  def maxDupSpan(docs: DataFrame, n: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = col("toks")
    val posGrams = when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)),
        i => struct(i.as("pos"),
          concat_ws("_", (0 until n).map(j => element_at(t, i + lit(j))): _*).as("g"))))
      .otherwise(array().cast("array<struct<pos:int,g:string>>"))
    val occ = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(posGrams).as("pg"))
      .select(col("doc_id"), col("pg.pos").as("pos"), col("pg.g").as("g"))
    val occC = occ.localCheckpoint()
    // shared = grams carried by >= 2 documents (aggregate + join, as
    // in dupNgramCoverage — boilerplate grams never serialize a task)
    val shared = occC.select(col("doc_id"), col("g")).distinct()
      .groupBy("g").agg(count(lit(1)).as("nd")).filter(col("nd") >= 2)
      .select("g")
    val runs = occC.join(shared, Seq("g"), "left_semi")
      .withColumn("rn", row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy(col("doc_id"), (col("pos") - col("rn")).as("grp"))
      .agg(count(lit(1)).cast("int").as("run"), min("pos").as("start"))
    val best = runs
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("run"), col("start"))))
      .filter(col("rk") === 1)
    docs.select(col("doc_id")).join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("run") + lit(n - 1), lit(0)).as("max_span"),
        coalesce(col("start"), lit(0)).as("span_start"))
      .orderBy("doc_id")
  }

  /** CARVE cross-document duplicated spans out of every document —
    * the REWRITE half of exact-substring dedup (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better":
    * ExactSubstr removes the duplicated bytes themselves rather than
    * dropping whole documents). [[maxDupSpan]] (d25) localizes the
    * longest shared span; this removes EVERY maximal shared run of at
    * least `minSpan` tokens and returns the carved document's
    * token count, removed-token count, and a cross-engine fingerprint
    * of the carved text — so the gate hash-checks the actual rewrite,
    * not just the signal.
    *
    * Scale shape: d25's plan (positional shingle explode, aggregate+
    * join shared-gram derivation — boilerplate grams never serialize
    * a task, AQE-splittable) + the same per-doc gaps-and-islands
    * window + ONE groupBy(doc_id) to pack each doc's span intervals
    * (tiny: spans per doc, not positions) + ONE join back to the
    * corpus; the carve itself is a pure per-row array filter over
    * (token, position) pairs. Never corpus-wide state; every stage
    * keys by doc_id or gram.
    */
  def carveDupSpans(docs: DataFrame, n: Int = 5, minSpan: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minSpan >= n, s"minSpan ($minSpan) must be >= the gram width ($n)")
    val t = col("toks")
    val posGrams = when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)),
        i => struct(i.as("pos"),
          concat_ws("_", (0 until n).map(j => element_at(t, i + lit(j))): _*).as("g"))))
      .otherwise(array().cast("array<struct<pos:int,g:string>>"))
    val occ = docs
      .select(col("doc_id"), graft.functions.CrossHash.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(posGrams).as("pg"))
      .select(col("doc_id"), col("pg.pos").as("pos"), col("pg.g").as("g"))
    val occC = occ.localCheckpoint()
    val shared = occC.select(col("doc_id"), col("g")).distinct()
      .groupBy("g").agg(count(lit(1)).as("nd")).filter(col("nd") >= 2)
      .select("g")
    // maximal duplicated runs (gaps-and-islands), kept only at carve
    // width; a run of `run` shared gram positions spans run+n-1 tokens
    val spans = occC.join(shared, Seq("g"), "left_semi")
      .withColumn("rn", row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy(col("doc_id"), (col("pos") - col("rn")).as("grp"))
      .agg(min("pos").as("s"), (count(lit(1)) + lit(n - 1)).cast("int").as("w"))
      .filter(col("w") >= lit(minSpan))
      .select(col("doc_id"), struct(col("s"), (col("s") + col("w") - 1).as("e")).as("iv"))
      .groupBy("doc_id").agg(collect_list(col("iv")).as("ivs"))
    val ivs = coalesce(col("ivs"),
      array().cast("array<struct<s:int,e:int>>"))
    val toksP = transform(graft.functions.CrossHash.tokens(col("text")),
      (x, i) => struct((i + 1).as("pos"), x.as("tok")))
    val kept = filter(toksP, s =>
      !exists(ivs, iv => s.getField("pos") >= iv.getField("s") &&
        s.getField("pos") <= iv.getField("e")))
    docs.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(graft.functions.CrossHash.tokens(col("text"))).cast("long").as("n_toks"),
        (size(graft.functions.CrossHash.tokens(col("text"))) - size(kept))
          .cast("long").as("n_removed"),
        // empty-string hashing differs between the engines (Spark's
        // split("") yields [""], DuckDB's ord('') doesn't), so a doc
        // carved down to nothing pins its fingerprint to 0 explicitly
        when(size(kept) > 0,
          graft.functions.CrossHash.charFold(
            array_join(transform(kept, s => s.getField("tok")), " ")))
          .otherwise(lit(0L)).as("carved_fp"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[carveDupSpans]] — relational replay: the
    * d25 runs CTE at carve width, positions anti-joined against span
    * intervals, carved text rebuilt by ordered string_agg.
    */
  def sqlCarveDupSpans(n: Int = 5, minSpan: Int = 12): String = {
    val parts = (0 until n).map(j => s"t[i+$j]").mkString(" || '_' || ")
    s"""WITH tok AS (SELECT doc_id, ${graft.functions.CrossHash.sqlTokens("text")} AS t FROM documents),
       |pg AS (SELECT doc_id, u.pos AS pos, u.g AS g FROM (
       |  SELECT doc_id, unnest(CASE WHEN len(t) >= $n
       |    THEN [struct_pack(pos := i, g := $parts) for i in range(1, len(t) - ${n - 2})]
       |    ELSE [] END) AS u FROM tok)),
       |shared AS (SELECT g FROM (SELECT DISTINCT doc_id, g FROM pg)
       |           GROUP BY g HAVING count(*) >= 2),
       |f AS (SELECT doc_id, pos FROM pg WHERE g IN (SELECT g FROM shared)),
       |r AS (SELECT doc_id, pos,
       |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM f),
       |spans AS (SELECT doc_id, min(pos) AS s,
       |            min(pos) + count(*) + ${n - 1} - 1 AS e
       |          FROM r GROUP BY doc_id, grp
       |          HAVING count(*) + ${n - 1} >= $minSpan),
       |p AS (SELECT doc_id, u.tok AS tok, u.pos AS pos FROM (
       |  SELECT doc_id, unnest([struct_pack(pos := i, tok := t[i])
       |                         for i in range(1, len(t) + 1)]) AS u FROM tok)),
       |kept AS (SELECT p.doc_id, p.tok, p.pos FROM p
       |         WHERE NOT EXISTS (SELECT 1 FROM spans s
       |           WHERE s.doc_id = p.doc_id AND p.pos BETWEEN s.s AND s.e)),
       |carved AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
       |             string_agg(tok, ' ' ORDER BY pos) AS txt
       |           FROM kept GROUP BY doc_id)
       |SELECT tok.doc_id, len(tok.t)::BIGINT AS n_toks,
       |  (len(tok.t) - coalesce(c.n_kept, 0))::BIGINT AS n_removed,
       |  CASE WHEN c.txt IS NULL THEN 0::BIGINT
       |       ELSE ${graft.functions.CrossHash.sqlCharFold("c.txt")} END AS carved_fp
       |FROM tok LEFT JOIN carved c ON tok.doc_id = c.doc_id
       |ORDER BY tok.doc_id""".stripMargin
  }

  /** DuckDB oracle for [[maxDupSpan]]. */
  def sqlMaxDupSpan(n: Int = 5): String = {
    val parts = (0 until n).map(j => s"t[i+$j]").mkString(" || '_' || ")
    s"""WITH tok AS (SELECT doc_id, ${graft.functions.CrossHash.sqlTokens("text")} AS t FROM documents),
       |pg AS (SELECT doc_id, u.pos AS pos, u.g AS g FROM (
       |  SELECT doc_id, unnest(CASE WHEN len(t) >= $n
       |    THEN [struct_pack(pos := i, g := $parts) for i in range(1, len(t) - ${n - 2})]
       |    ELSE [] END) AS u FROM tok)),
       |shared AS (SELECT g FROM (SELECT DISTINCT doc_id, g FROM pg)
       |           GROUP BY g HAVING count(*) >= 2),
       |f AS (SELECT doc_id, pos FROM pg WHERE g IN (SELECT g FROM shared)),
       |r AS (SELECT doc_id, pos,
       |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM f),
       |runs AS (SELECT doc_id, grp, CAST(count(*) AS INTEGER) AS run,
       |         min(pos) AS start FROM r GROUP BY 1, 2),
       |best AS (SELECT doc_id, run, start,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY run DESC, start) AS rk
       |         FROM runs)
       |SELECT d.doc_id,
       |  CAST(coalesce(b.run + ${n - 1}, 0) AS INTEGER) AS max_span,
       |  CAST(coalesce(b.start, 0) AS INTEGER) AS span_start
       |FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rk = 1
       |ORDER BY d.doc_id""".stripMargin
  }

  /** DuckDB oracle for [[dupNgramCoverage]] (exact-text variant). */
  def sqlDupNgramCoverage(n: Int = 5): String = {
    val parts = (0 until n).map(j => s"t[i+$j]").mkString(" || '_' || ")
    s"""WITH tok AS (SELECT doc_id, ${graft.functions.CrossHash.sqlTokens("text")} AS t FROM documents),
       |g AS (SELECT doc_id, unnest(CASE WHEN len(t) >= $n
       |        THEN [$parts for i in range(1, len(t) - ${n - 2})]
       |        ELSE [] END) AS gk FROM tok),
       |occ AS (SELECT doc_id, gk, count(*)::BIGINT AS c FROM g GROUP BY 1, 2),
       |shared AS (SELECT gk FROM occ GROUP BY gk HAVING count(*) >= 2),
       |base AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_ngrams FROM occ GROUP BY 1),
       |d AS (SELECT occ.doc_id, CAST(sum(c) AS BIGINT) AS n_dup
       |      FROM occ JOIN shared USING (gk) GROUP BY 1)
       |SELECT base.doc_id, n_ngrams,
       |  coalesce(n_dup, 0)::BIGINT AS n_dup,
       |  round(coalesce(n_dup, 0)::DOUBLE / n_ngrams::DOUBLE, 6) AS dup_frac
       |FROM base LEFT JOIN d ON base.doc_id = d.doc_id
       |ORDER BY base.doc_id""".stripMargin
  }

  /** EXACT edit-distance near-duplicate pairs: every unordered pair
    * with Levenshtein distance <= `k` over the raw text, found
    * without the quadratic join — the Ed-Join family (Xiao, Wang &
    * Lin, VLDB'08) re-expressed at word-gram grain. Character edit
    * distance is the dedup predicate MinHash can't express (Jaccard
    * is order- and position-blind; two docs can share every shingle
    * yet sit hundreds of edits apart) and is what near-identical
    * boilerplate and OCR/encoding-noise variants actually satisfy.
    *
    * Candidate generation is three tiers, together PROVABLY complete
    * for the `levenshtein(a,b) <= k` predicate:
    *
    *  - One character edit rewrites at most two adjacent word tokens
    *    (the worst case is a space edit merging/splitting a word
    *    pair), so it removes at most n+1 of a doc's distinct word
    *    n-gram types; k edits remove at most k(n+1). Hence
    *    `|G_A ∩ G_B| >= max(g_A, g_B) - k(n+1)` for the distinct
    *    n-gram sets, and by the AllPairs prefix lemma (on any shared
    *    total order) two docs within k edits where EITHER side has
    *    more than k(n+1) distinct n-grams must share a hash inside
    *    both (k(n+1)+1)-prefixes. Tier 1 is that prefix self-join at
    *    n=5 over all docs (plain ascending-hash order: 5-gram df is
    *    ~1 even on a flat vocabulary, so no df pass is needed).
    *  - Pairs invisible to tier 1 have BOTH sides' g5 <= k(n+1).
    *    Tier 2 re-runs the prefix filter at n=3 over just those short
    *    docs, in the df-ASCENDING order (3-gram df is high on flat
    *    vocabularies — the d24 lesson — and the short subset is a
    *    fraction of the corpus, so the df pass is cheap).
    *  - Docs short on BOTH gram scales (g5 <= 6k and g3 <= 4k) fall
    *    to tier 3: an all-pairs join bucketed by `len(text) div
    *    (k+1)`, each left row probing its own and both neighbor
    *    buckets — complete because ed <= k forces |len_a - len_b| <=
    *    k < bucket width. The tier-3 population is tiny/repetitive
    *    docs only, so the per-bucket quadratic is bounded.
    *
    * Verification is Spark's banded `levenshtein(l, r, threshold)` —
    * O(k·len) per pair, returns -1 past the bound — after the
    * |Δlen| <= k length filter that ed <= k implies. Tiers only
    * ADMIT candidates; the predicate is decided solely by the exact
    * distance, so the result equals the quadratic oracle.
    *
    * Returns `(a, b, dist)`, a < b, one row per qualifying pair.
    *
    * Scale (tier admissions MEASURED at sf1=50k / sf3=150k docs, r12,
    * bench_history/NOTES.md): tier 1 24k → 88k (3.6× for 3× docs — the PPJoin
    * positional filter holds it BELOW the ~9× candidate-volume
    * expectation by killing late-prefix matches between long docs);
    * tier 2 52k → 425k (8.2×); tier 3 1.86M → 16.8M (9.0× — the
    * per-length-bucket quadratic over tiny docs, exactly at volume
    * expectation; the r11 NOTES 11.3× was runtime overhead, not
    * admissions). Tier 3 is ~98% of all candidates and IS quadratic
    * in per-bucket tiny-doc occupancy — irreducible for exact ed<=k
    * over sub-30-token docs, whose gram bounds are vacuous by
    * construction (that's why they fell to tier 3; measured: 14.5k
    * tiny docs at sf3, 99.95% distinct texts, so representative
    * collapse buys nothing). Mitigations that DO land: the banded
    * distance is decided INLINE in the bucket join (texts ride the
    * join; the multi-million-row candidate distinct and both text
    * re-joins are gone — measured warm sf1 2.6 s / sf3 6.4 s, a 2.5×
    * scaling ratio for 3× docs where r11 recorded 11.3×), and a
    * 100 TB pipeline runs exact dedup (d1) first, shrinking the
    * tiny-doc population tier 3 squares over. The bound is
    * STRUCTURAL, not assumed: `maxTier3Bucket` caps per-bucket
    * occupancy and overflows loudly (never silently drops pairs) —
    * exact ed<=k over same-length unique texts is irreducibly
    * all-pairs, so a pathological single-bucket corpus must be a
    * visible decision, not a runaway job.
    */
  def editDistancePairs(docs: DataFrame, k: Int = 4,
      maxTier3Bucket: Int = 10000): DataFrame = {
    val (c1, c2, c3v, base, mult) = editDistanceTiers(docs, k, maxTier3Bucket)
    // tiers 1/2 need the text re-join before verification; tier 3
    // arrives ALREADY verified (its bucket join carries both texts, so
    // the banded distance is decided inline — see editDistanceTiers).
    // A tiny-doc pair can be admitted by tier 2 as well, hence the
    // outer distinct (dist is the same exact value on every path).
    editDistanceVerify(c1.union(c2).distinct(), base, mult, k)
      .union(c3v)
      .distinct()
      .orderBy("a", "b")
  }

  /** The three candidate tiers of [[editDistancePairs]]. Each tier's
    * admissions at a given corpus size are the measurement the tier
    * boundaries and the tier-1 positional filter were derived from.
    * Returns (tier1, tier2, tier3, base, pairMult).
    */
  private def editDistanceTiers(docs: DataFrame, k: Int,
      maxTier3Bucket: Int = 10000)
      : (DataFrame, DataFrame, DataFrame, DataFrame, Int) = {
    import org.apache.spark.sql.expressions.Window
    val (n1, n2) = (5, 3)
    val p1 = k * (n1 + 1) + 1
    val p2 = k * (n2 + 1) + 1
    val mult = pairMult(docs.count())
    val base = spread(docs).select(col("doc_id"), col("text"),
        length(col("text")).as("len"),
        sortedShingleHashes64Fast(col("text"), n1).as("g5"),
        sortedShingleHashes64Fast(col("text"), n2).as("g3"))
      .withColumn("n5", size(col("g5")))
      .withColumn("n3", size(col("g3")))
      .localCheckpoint() // feeds all three tiers + verification
    val lenClose = abs(col("la") - col("lb")) <= lit(k)
    // positional filter (PPJoin, Xiao et al. WWW'08 §3.2), sound on
    // any SHARED total order over the distinct gram sets: a match at
    // 1-based sorted positions (ia, ib) of docs with ga/gb distinct
    // grams bounds the whole overlap by min(ia,ib)-1 elements before
    // the match + the match + min(ga-ia, gb-ib) after it, and the
    // tier lemma needs overlap >= max(ga,gb) - k(n+1). Late-prefix
    // matches between long docs — exactly the candidate class that
    // grows as the corpus fills the length histogram (the measured
    // d26 sf1->sf3 curve: 11.3x vs ~9x volume expectation, NOTES.md)
    // — fail this bound and never reach verification.
    def posClose(ga: Column, gb: Column, kn1: Int) =
      least(col("ia"), col("ib")) + least(ga - col("ia"), gb - col("ib")) >=
        greatest(ga, gb) - lit(kn1)
    // tier 1: 5-gram (k(n1+1)+1)-prefix self-join, hash order
    val pref1 = pinned(base.select(col("doc_id"), col("len"), col("n5"),
      posexplode(slice(col("g5"), lit(1), lit(p1))).as(Seq("i0", "h"))), col("h"))
    val c1 = pref1.select(col("doc_id").as("a"), col("len").as("la"),
        col("n5").as("na"), (col("i0") + lit(1)).as("ia"), col("h"))
      .join(pref1.select(col("doc_id").as("b"), col("len").as("lb"),
        col("n5").as("nb"), (col("i0") + lit(1)).as("ib"), col("h"))
        .hint("SHUFFLE_MERGE"), Seq("h"))
      .filter(col("a") < col("b") && lenClose &&
        posClose(col("na"), col("nb"), k * (n1 + 1)))
      .select("a", "b")
    // tier 2: short docs, 3-gram df-ascending prefix (the shared
    // order is (df, h), so the positional filter applies here too)
    val short = base.filter(col("n5") < lit(p1))
    val exploded = short.select(col("doc_id"), col("len"), col("n3"), explode(col("g3")).as("h"))
    val dfc = exploded.groupBy("h").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("h"))
    val pref2 = pinned(
      exploded.join(dfc, "h")
        .withColumn("p", row_number().over(w))
        .filter(col("p") <= lit(p2))
        .select(col("doc_id"), col("len"), col("n3"), col("p"), col("h")),
      col("h"))
    val c2 = pref2.select(col("doc_id").as("a"), col("len").as("la"),
        col("n3").as("na"), col("p").as("ia"), col("h"))
      .join(pref2.select(col("doc_id").as("b"), col("len").as("lb"),
        col("n3").as("nb"), col("p").as("ib"), col("h"))
        .hint("SHUFFLE_MERGE"), Seq("h"))
      .filter(col("a") < col("b") && lenClose &&
        posClose(col("na"), col("nb"), k * (n2 + 1)))
      .select("a", "b")
    // tier 3: tiny docs, |Δlen|<=k via width-(k+1) length buckets —
    // verified INLINE. This tier is ~98% of all candidate volume
    // (measured sf1/sf3, see the method scaladoc) and its bucket join
    // already carries both texts, so deciding the banded distance in
    // the join output skips the dominant costs of the old shape: the
    // multi-million-row candidate distinct and the two text re-joins.
    // Probing own + NEXT bucket covers every |Δlen| <= k < k+1 pair
    // (the bucket delta is 0 or 1); least/greatest normalizes the
    // unordered pair, and the caller's distinct drops the same-bucket
    // double-find.
    val tiny = base.filter(col("n5") < lit(p1) && col("n3") < lit(p2))
      .withColumn("bk", floor(col("len") / lit(k + 1)))
    // STRUCTURAL BOUND (r12 verdict ask #4): the per-bucket quadratic
    // was safe by MEASURED occupancy (spread tiny docs) and by
    // pipeline convention (d1 runs first) — nothing bounded it if a
    // pathological corpus concentrated its mass in one length bucket.
    // Exact ed<=k over same-length unique texts is irreducibly
    // all-pairs (no signature scheme can separate them without
    // comparing), so the sound guard is a cap with a LOUD overflow,
    // not a silent fallback that would drop pairs. One metadata-scale
    // agg over the tiny subset; the threshold costs nothing when it
    // never fires.
    val overflow = tiny.groupBy("bk").agg(count(lit(1)).as("occ"))
      .filter(col("occ") > lit(maxTier3Bucket))
      .orderBy(desc("occ")).limit(3).collect()
    if (overflow.nonEmpty) {
      val worst = overflow.map(r =>
        s"bucket ${r.getLong(0)} (len ${r.getLong(0) * (k + 1)}..${(r.getLong(0) + 1) * (k + 1) - 1}): ${r.getLong(1)} docs").mkString("; ")
      throw new IllegalStateException(
        s"editDistancePairs tier 3 would square over an over-occupied length bucket — $worst " +
          s"(cap $maxTier3Bucket docs/bucket, ~${maxTier3Bucket.toLong * maxTier3Bucket} banded " +
          "comparisons). Exact ed<=k over same-length tiny docs is irreducibly all-pairs; run " +
          "exact dedup (Dedup.exact / d1) first to collapse identical texts, or raise " +
          "maxTier3Bucket deliberately if the quadratic cost is intended.")
    }
    val c3 = tiny.select(col("doc_id").as("a"), col("len").as("la"),
        col("text").as("ta"),
        explode(array(col("bk"), col("bk") + lit(1))).as("bk"))
      .join(tiny.select(col("doc_id").as("b"), col("len").as("lb"),
        col("text").as("tb"), col("bk")), Seq("bk"))
      .filter(col("a") =!= col("b") && lenClose)
      .withColumn("dist", levenshtein(col("ta"), col("tb"), k).cast("long"))
      .filter(col("dist") >= 0L)
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"), col("dist"))
      .distinct()
    (c1, c2, c3, base, mult)
  }

  /** Exact banded-Levenshtein verification of candidate (a, b) pairs
    * against `base`'s texts — the decision stage of
    * [[editDistancePairs]].
    */
  private def editDistanceVerify(cand: DataFrame, base: DataFrame,
      mult: Int, k: Int): DataFrame = {
    val withA = pinnedWide(cand, mult, col("a"))
      .join(pinnedWide(base.select(col("doc_id").as("a"), col("text").as("ta")),
        mult, col("a")), "a")
    pinnedWide(withA, mult, col("b"))
      .join(pinnedWide(base.select(col("doc_id").as("b"), col("text").as("tb")),
        mult, col("b")), "b")
      .withColumn("dist", levenshtein(col("ta"), col("tb"), k).cast("long"))
      .filter(col("dist") >= 0L)
      .select(col("a"), col("b"), col("dist"))
  }

  /** DuckDB oracle for [[editDistancePairs]] (quadratic with the
    * implied |Δlen| <= k prefilter — pure optimization, the predicate
    * is the distance alone).
    */
  def sqlEditDistancePairs(k: Int = 4): String =
    s"""WITH p AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b,
       |    levenshtein(a.text, b.text) AS dist
       |  FROM documents a JOIN documents b
       |    ON a.doc_id < b.doc_id
       |   AND abs(len(a.text) - len(b.text)) <= $k)
       |SELECT a, b, dist::BIGINT AS dist FROM p WHERE dist <= $k
       |ORDER BY a, b""".stripMargin
}
