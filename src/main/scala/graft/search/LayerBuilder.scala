package graft.search

import graft.exprs._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Materializes a set of candidate features as one wide select — the
  * per-layer data job of the CDFC search (the reference materializes each
  * candidate separately per fold, `run_evaluation.py:276-309`; one wide
  * select amortizes the scan and lets Catalyst CSE shared parents).
  *
  * [[columns]] is the one lowering of a feature to a column: the MI gate,
  * the LR stage and every output model all read the same canonical form,
  * so the column a search scores is the column it fits and outputs.
  * GroupByThen lowers to a window over the key partition
  * ([[Lower.toColumn]]): every feature with the same key shares one
  * exchange, exact median included.
  */
object LayerBuilder {

  /** Each feature lowered: canonical form ([[Canon.canon]]), DECIMAL leaves
    * cast to double, the result cast to double. Reference semantics are
    * float64 throughout (candidates/Identity.py:2-5 wraps every raw column
    * in a numpy float array); DECIMAL-typed inputs would otherwise flow
    * through Spark decimal arithmetic and diverge from any double-based
    * oracle at ROUND half-way points.
    */
  def columns(df: DataFrame, feats: Seq[(String, FeatureExpr)],
      fit: FitStats = FitStats.empty): Seq[(String, Column)] = {
    val decimalCols = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[DecimalType] => f.name
    }.toSet
    val raw: String => Column = n => if (decimalCols(n)) col(n).cast("double") else col(n)
    feats.map { case (n, e) => n -> Lower.toColumn(Canon.canon(e), fit, raw).cast("double") }
  }

  /** Select `keys` plus each feature column, lowered by [[columns]]. */
  def select(
      df: DataFrame,
      keys: Seq[String],
      feats: Seq[(String, FeatureExpr)],
      fit: FitStats = FitStats.empty): DataFrame =
    df.select(keys.map(col) ++ columns(df, feats, fit).map { case (n, c) => c.as(n) }: _*)
}
