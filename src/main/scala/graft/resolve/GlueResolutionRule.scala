package graft.resolve

import graft.engine.GlueTableEngine
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Catalyst integration: resolve `glue.db.tbl` relations during
  * analysis, so PLAIN `spark.sql(...)` works on a session created
  * with these extensions — no engine facade call needed.
  *
  * This is the injected-resolution-rule path of SURVEY.md §7.6: the
  * rule delegates to the same [[GlueTableEngine]] the facade uses
  * (same caches, same pruning); `engine.query` remains the
  * no-session-rebuild alternative.
  *
  * Usage:
  * {{{
  * GlueResolutionRule.engineFactory = s => new GlueTableEngine(s, myCatalog)
  * val spark = SparkSession.builder()
  *   .withExtensions(new GlueSparkExtension)
  *   .getOrCreate()
  * spark.sql("SELECT * FROM glue.default.mytable WHERE dt = '2024-01-01'")
  * }}}
  */
class GlueResolutionRule(session: SparkSession) extends Rule[LogicalPlan] {

  private lazy val engine: Option[GlueTableEngine] =
    Option(GlueResolutionRule.engineFactory).map(_(session))

  override def apply(plan: LogicalPlan): LogicalPlan = engine match {
    case None => plan
    case Some(eng) =>
      // Delegate whole-plan rewriting to the engine so this path gets
      // the SAME pruning as engine.query: every layout, projected
      // (non-`key=value` dirs) included, reads through a
      // PreListedFileIndex that the query's filters prune at
      // optimization. The
      // glue-ref scan below keeps the common no-glue-tables query from
      // paying a plan traversal in every analyzer fixed-point pass.
      var hasGlueRef = false
      plan.foreachWithSubqueries {
        case u: UnresolvedRelation
            if graft.model.GlueRefId.parse(u.multipartIdentifier).isDefined =>
          hasGlueRef = true
        case _ =>
      }
      if (!hasGlueRef) plan else eng.rewriteGlueRelations(plan)
  }
}

object GlueResolutionRule {
  /** Process-wide engine factory the injected rule uses (extensions
    * are instantiated by Spark from a zero-arg class, so dependencies
    * arrive via this hook).
    */
  @volatile var engineFactory: SparkSession => GlueTableEngine = _
}

/** Entry point for `SparkSession.builder().withExtensions(...)` or
  * `spark.sql.extensions=graft.resolve.GlueSparkExtension`. Injects
  * the glue-ref resolution rule and the `graft_*` SQL functions
  * ([[graft.functions.SqlFunctions]]).
  */
class GlueSparkExtension extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(s => new GlueResolutionRule(s))
    graft.functions.SqlFunctions.all.foreach(ext.injectFunction)
  }
}
