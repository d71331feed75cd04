package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Config-time entry point for the whole engine — the Spark-idiomatic
  * analog of the reference's `CREATE EXTENSION lantern`:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * Injects the transparent ANN top-k optimizer rule
  * ([[graft.plans.AnnTopK.AnnTopKRule]]; indexes still opt in per path
  * via [[graft.plans.AnnTopK.IndexCatalog]]), the planner strategies for
  * its index probe ([[graft.plans.AnnScanStrategy]]) and for the
  * approximate BM25 search ([[graft.plans.Bm25ScanStrategy]]), and the
  * engine's SQL scalar function surface (same builders as
  * `graft.functions.registerAll`, which remains available for wiring an
  * already-running session).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule { session =>
      graft.plans.AnnTopK.AnnTopKRule(session)
    }
    ext.injectPlannerStrategy(_ => graft.plans.AnnScanStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.Bm25ScanStrategy)
    graft.functions.sqlBuilders.foreach { case (name, builder) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        builder))
    }
  }
}
