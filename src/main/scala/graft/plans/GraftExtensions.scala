package graft.plans

import graft.functions.{FixedDot, H60Expr, SortedIntersectSize}
import org.apache.spark.sql.SparkSessionExtensions

/** Session-extension entry point (SparkSessionExtensions): registers the
  * engine's native expressions at session build time —
  *
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  *
  * Query builders that must run under a caller-owned session instead use
  * [[FixedDot.ensureRegistered]] (same registry entry, imperative).
  * No custom optimizer Rule or SparkStrategy is injected: SURVEY.md §4.3's
  * audit found none justified — Catalyst's existing rules cover every
  * rewrite this engine needs (the coverage map documents where each
  * operator leans on them).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FixedDot.identifier, FixedDot.info, FixedDot.builder))
    ext.injectFunction((SortedIntersectSize.identifier,
      SortedIntersectSize.info, SortedIntersectSize.builder))
    ext.injectFunction((H60Expr.identifier, H60Expr.info, H60Expr.builder))
  }
}
