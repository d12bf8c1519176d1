package graft.engine

import graft.cache.{Retry, TtlCache}
import graft.catalog.CatalogProvider
import graft.listing.{FileLister, HadoopFileLister, IcebergSnapshotResolver}
import graft.model._
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The engine facade — Spark-native re-expression of the reference's
  * `GlueTableCache` public surface (reference:
  * src/glue-table-cache.ts:242-347, src/index.ts:1-2).
  *
  * Where the reference converts `glue.db.tbl` SQL into DuckDB setup
  * statements + a rewritten query string (string-level dataflow), this
  * engine rewrites the *logical plan*: each `UnresolvedRelation` over
  * the `glue` catalog becomes the plan of a (file-pruned) parquet
  * read, and Spark executes it. No SQL re-serialization, no variables
  * — the idiomatic equivalents are documented per method. The read
  * half is the mixed-in [[TableReads]]; the write half, which the
  * reference lacks, the mixed-in [[TableWriters]].
  *
  * Two caches, mirroring the reference's two (reference:
  * src/glue-table-cache.ts:75-84): catalog metadata per table, and
  * one [[TableSnapshot]] per table version — the file listing plus
  * everything derived from it — so a listing and its derived state
  * are loaded, evicted and invalidated together.
  */
final class GlueTableEngine(
    val spark: SparkSession,
    private[engine] val catalog: CatalogProvider,
    private[engine] val config: CacheConfig = CacheConfig(),
    listerOverride: Option[FileLister] = None) extends TableReads with TableWriters {

  private[engine] def hadoopConf = Shim.classic(spark).sparkContext.hadoopConfiguration
  private[engine] val lister: FileLister = listerOverride.getOrElse(new HadoopFileLister(hadoopConf))
  private[graft] lazy val iceberg = new IcebergSnapshotResolver(hadoopConf)
  private[engine] lazy val delta = new graft.listing.DeltaLogResolver(spark)
  private[engine] lazy val hudi = new graft.listing.HudiTimelineResolver(hadoopConf)

  // Two caches, mirroring the reference (src/glue-table-cache.ts:75-84).
  private val metaCache = new TtlCache[CachedTableMetadata](
    config.maxEntries, config.tableMetadataTtlMs, config.errorCacheTtlMs)
  private[engine] val snapshots = new TtlCache[TableSnapshot](
    config.maxEntries, config.s3ListingTtlMs, config.errorCacheTtlMs)

  // ---------------------------------------------------------------- metadata

  /** ≈ reference `getTableMetadataCached` (src/glue-table-cache.ts:150-204):
    * single-flight cached fetch with retry/backoff and 4xx bail.
    */
  def tableMetadata(database: String, table: String): CachedTableMetadata =
    metaCache.get(s"$database.$table") {
      val meta = Retry.withRetry() {
        val t = catalog.getTable(database, table)
        val ttype = TableClassifier.classify(t)
        val projections =
          if (ttype == TableType.GlueProjected) Some(ProjectionParser.parse(t.parameters)) else None
        // Partition fetch failure is non-fatal (reference:
        // test/util.glue.test.ts:100-114).
        val partMeta =
          if (ttype == TableType.Hive) {
            val vals = try catalog.getPartitions(database, table) catch { case _: Exception => Nil }
            Some(PartitionMetadata(t.partitionKeys.map(_.name), vals))
          } else None
        CachedTableMetadata(System.currentTimeMillis(), ttype, t, partMeta, projections)
      }
      // Outside the retry (a definition error never heals): the
      // listing frames expose fixed columns (path, size, modTime, pv)
      // that partition-key withColumns would silently REPLACE,
      // corrupting positional row layout downstream — a partition
      // value would be read back as the file path.
      val clash = meta.table.partitionKeys.map(_.name)
        .filter(k => GlueTableEngine.ReservedListingColumns.contains(k.toLowerCase))
      if (clash.nonEmpty) throw new IllegalArgumentException(
        s"partition key(s) ${clash.mkString(", ")} of $database.$table collide with " +
          "the listing's reserved columns (path, size, modTime, pv)")
      meta
    }

  private[engine] def location(meta: CachedTableMetadata): String =
    meta.table.location.getOrElse(throw new IllegalStateException(
      s"No storage location found for ${meta.table.database}.${meta.table.name}"))

  /** The table's metadata, checked to be a `format` table. */
  private[engine] def metadataOf(database: String, table: String,
      format: TableType): CachedTableMetadata = {
    val meta = tableMetadata(database, table)
    require(meta.tableType == format, s"$database.$table is ${meta.tableType}, not " +
      s"${if (format == TableType.Iceberg) "an" else "a"} $format table")
    meta
  }

  // ---------------------------------------------------------------- SQL path

  /** All glue refs in a SQL string (≈ reference
    * `getQueryGlueTableRefs`, src/sql-transformer.ts:63-78).
    */
  def glueTableRefs(sql: String): Seq[(String, String)] = {
    val plan = Shim.parsePlan(spark, sql)
    val out = scala.collection.mutable.LinkedHashSet.empty[(String, String)]
    plan.foreachWithSubqueries {
      case u: UnresolvedRelation =>
        GlueRefId.parse(u.multipartIdentifier).foreach(r => out += ((r.database, r.table)))
      case _ =>
    }
    out.toSeq
  }

  /** Run a SQL query containing `glue.db.tbl` references — the
    * flagship entry point (≈ reference `convertGlueTableQuery` +
    * caller execution, src/glue-table-cache.ts:242-251). Each glue
    * relation becomes a read of its whole cached listing; the
    * query's filters prune it per-relation inside the
    * [[PreListedFileIndex]] at optimization.
    */
  def query(sql: String): DataFrame =
    Shim.ofRows(spark, rewriteGlueRelations(Shim.parsePlan(spark, sql)))

  /** Register `GLUE__<db>_<tbl>` temp views for every glue ref in the
    * query (≈ reference `getGlueTableViewSetupSql`,
    * src/glue-table-cache.ts:253-347 + view naming at
    * src/sql-transformer.ts:283-293, hyphens stripped).
    */
  def setupFor(sql: String): Seq[String] =
    glueTableRefs(sql).map { case (db, tbl) =>
      val name = Naming.viewName(db, tbl)
      tableDF(db, tbl).createOrReplaceTempView(name)
      name
    }

  /** One-call textual conversion — the `convertGlueTableQuery`
    * equivalent (reference: src/glue-table-cache.ts:242-251, which
    * returns setup SQL ++ transformed query as one string): registers
    * the `GLUE__db_tbl` views ([[setupFor]]) and returns the
    * rewritten statement with the view names they now resolve to.
    * `spark.sql(result.sql)` is runnable immediately;
    * `result.toString` is the shippable combined artifact.
    */
  def convertGlueTableQuery(sql: String): GlueTableEngine.ConvertedQuery =
    GlueTableEngine.ConvertedQuery(setupFor(sql), rewrittenSql(sql))

  /** Reference-parity textual surface (≈ the rewritten-query half of
    * `convertGlueTableQuery`, reference: src/glue-table-cache.ts:
    * 242-251): the input SQL with every `glue.db.tbl` reference
    * replaced by its `GLUE__db_tbl` view name. Callers that want to
    * inspect or ship the rewritten SQL use this together with
    * [[setupFor]] (which registers those views):
    * `spark.sql(engine.rewrittenSql(q))` is then equivalent to
    * `engine.query(q)` minus the proxy rewrite (filters on a view
    * prune inside the same [[PreListedFileIndex]]).
    *
    * Refs are DISCOVERED by the parser ([[glueTableRefs]]) — only the
    * textual substitution is regex-based, handling optional backtick
    * quoting and the 2-part `glue.tbl` shorthand.
    */
  def rewrittenSql(sql: String): String =
    glueTableRefs(sql).foldLeft(sql) { case (s, (db, tbl)) =>
      val view = java.util.regex.Matcher.quoteReplacement(Naming.viewName(db, tbl))
      val q = java.util.regex.Pattern.quote _
      // 3-part first so `glue.db.tbl` never degrades to a partial
      // 2-part match; 2-part only for the default database. Both ends
      // are identifier-bounded: without the right boundary a ref whose
      // table is a PREFIX of another identifier (glue.orders vs
      // glue.orders_flat) would be rewritten mid-identifier, leaving a
      // corrupted name / stray backtick.
      val bL = "(?<![\\w`])"
      val bR = "(?![\\w`])"
      val threePart = ("(?i)" + bL + "`?glue`?\\.`?" + q(db) + "`?\\.`?" + q(tbl) + "`?" + bR).r
      val s1 = threePart.replaceAllIn(s, view)
      if (db.equalsIgnoreCase("default"))
        ("(?i)" + bL + "`?glue`?\\.`?" + q(tbl) + "`?" + bR).r.replaceAllIn(s1, view)
      else s1
    }

  /** Register the listing DataFrame as `<db>_<tbl>_s3_listing` — the
    * reference's listing-table statement (src/glue-table-cache.ts:
    * 298-306) as a temp view. (Index statements are intentionally
    * dropped: the listing is a small filtered DataFrame.)
    */
  def registerListing(database: String, table: String): String = {
    val name = Naming.listingName(database, table)
    listingDF(database, table).createOrReplaceTempView(name)
    name
  }

  /** Set a SQL session variable `<db>_<tbl>_files` holding the pruned
    * path array — surface parity with the reference's
    * `SET VARIABLE db_tbl_files = (SELECT list(path) ...)` statement
    * (src/glue-table-cache.ts:323-333), using Spark 4 session
    * variables.
    */
  def setFilesVariable(database: String, table: String,
      predicates: Seq[Column] = Nil): String = {
    val varName = Naming.filesVarName(database, table)
    val paths = prunedFiles(database, table, predicates)
    spark.sql(s"DECLARE OR REPLACE VARIABLE $varName ARRAY<STRING>")
    // Quote-doubling ('' for ') parses in every Spark string-literal
    // mode; backslashes are escape chars only while
    // escapedStringLiterals is off, so double them only then.
    val rawLiterals =
      spark.conf.get("spark.sql.parser.escapedStringLiterals", "false").toBoolean
    def quote(p: String): String = {
      val b = if (rawLiterals) p else p.replace("\\", "\\\\")
      "'" + b.replace("'", "''") + "'"
    }
    val arr =
      if (paths.isEmpty) "CAST(array() AS ARRAY<STRING>)"
      else paths.map(quote).mkString("array(", ", ", ")")
    spark.sql(s"SET VARIABLE $varName = $arr")
    varName
  }

  /** Rewrite each glue relation into its [[PreListedFileIndex]] read,
    * keeping every other node untouched. Also the workhorse of the
    * injected [[graft.resolve.GlueResolutionRule]], so plain
    * `spark.sql` gets the same file pruning as [[query]].
    */
  private[graft] def rewriteGlueRelations(plan: LogicalPlan): LogicalPlan = {
    // Every glue relation reads its whole listing, through the proxy
    // when one is set (the reference's files-variable scan). The
    // filters above it, resolved and typed, prune it at optimization
    // (PruneListedPartitions): partition values, then file stats,
    // Iceberg hidden-transform values included. An unaliased relation
    // keeps its name qualifiers: SELECT tbl.col / db.tbl.col /
    // glue.db.tbl.col must still resolve, so wrap the bare parquet
    // plan the same way Spark's SessionCatalog wraps catalog tables.
    // CTE definitions live OUTSIDE UnresolvedWith.children, so they
    // must be recursed explicitly — this is where the reference's
    // top-level-WHERE-only pruning silently skipped CTE bodies
    // (SURVEY §2a#5); we rewrite (and prune) inside them too.
    def rewrite(p: LogicalPlan): LogicalPlan = p.transformDownWithSubqueries {
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (name, sub, maxRec) =>
          (name, rewrite(sub).asInstanceOf[SubqueryAlias], maxRec)
        })
      case u: UnresolvedRelation if GlueRefId.parse(u.multipartIdentifier).isDefined =>
        val ref = GlueRefId.parse(u.multipartIdentifier).get
        SubqueryAlias(Seq("glue", ref.database, ref.table), Shim.analyzedPlan(
          readTable(ref.database, ref.table, 0, keep = None, proxied = true)))
    }
    rewrite(plan)
  }

  /** S3 credential configuration (≈ reference `setCredentials` /
    * `CREATE SECRET`, src/glue-table-cache.ts:98-122): maps onto the
    * Hadoop S3A configuration the executors use for s3a:// locations.
    * No-op for local file:// fixtures.
    */
  def setCredentials(accessKey: String, secretKey: String,
      sessionToken: Option[String] = None): Unit = {
    val conf = hadoopConf
    conf.set("fs.s3a.access.key", accessKey)
    conf.set("fs.s3a.secret.key", secretKey)
    sessionToken match {
      case Some(tok) =>
        conf.set("fs.s3a.session.token", tok)
        conf.set("fs.s3a.aws.credentials.provider",
          "org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider")
      case None =>
        conf.unset("fs.s3a.session.token")
    }
  }

  // ---------------------------------------------------------------- cache mgmt

  /** ≈ reference `clearCache` (src/glue-table-cache.ts:124-127). */
  def clearCache(): Unit = {
    metaCache.invalidateAll(); snapshots.invalidateAll()
  }

  /** ≈ reference `invalidateTable` (src/glue-table-cache.ts:206-215):
    * the metadata key and, by prefix, the `<db>.<tbl>#v<n>` snapshot keys
    * (the reference's substring match also hits `<db>.<tbl>_x` tables).
    */
  def invalidateTable(database: String, table: String): Unit = {
    metaCache.invalidate(s"$database.$table")
    snapshots.invalidateMatching(s"$database.$table#v")
  }

  /** ≈ reference `close` (drops caches; the SparkSession is shared
    * and stays up, like the reference leaves the caller's process
    * alone).
    */
  def close(): Unit = clearCache()
}

object GlueTableEngine {
  /** Column names the listing frames own (lower-cased): partition
    * keys may not shadow them — see the validation in
    * `tableMetadata`.
    */
  private[engine] val ReservedListingColumns = Set("path", "size", "modtime", "pv")

  /** Result of `convertGlueTableQuery`: the temp views registered for
    * the query's glue refs, and the statement rewritten to use them.
    * `toString` renders the reference-style single artifact (setup
    * comment header + SQL).
    */
  final case class ConvertedQuery(setupViews: Seq[String], sql: String) {
    override def toString: String =
      setupViews.map(v => s"-- registered temp view: $v\n").mkString + sql
  }
}
