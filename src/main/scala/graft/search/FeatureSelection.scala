package graft.search

import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Feature-selection masks over a constructed feature matrix (reference
  * `transformations/feature_selection/` + `interactiveAutoML/
  * feature_selection/RedundancyRemoval.py:16-40`): the two selectors the
  * pipeline actually uses — MI top-k prefilter (`fairexp.py:117-126`) and
  * redundancy removal (drop columns predictable from the others by CV-R^2).
  */
object FeatureSelection {

  /** SelectKBest by normalized binned MI against the label; features with
    * MI <= minMi are dropped regardless of k (the reference keeps MI > 0).
    */
  def selectKBestMI(df: DataFrame, featureCols: Seq[String], label: Column,
      k: Int, minMi: Double = 0.0, bins: Int = 10): Seq[String] = {
    val st = MIScorer.scoreBatch(df, featureCols.map(n => n -> col(n)), label, bins)
    featureCols.map(n => n -> st(n).mi)
      .filter(_._2 > minMi)
      .sortBy(-_._2).take(k).map(_._1)
  }

  /** Drop each feature that a linear model over the REMAINING features
    * predicts with held-out R^2 above `r2Threshold` (greedy, in order).
    */
  def redundancyRemoval(df: DataFrame, featureCols: Seq[String],
      r2Threshold: Double = 0.99): Seq[String] = {
    var kept = featureCols.toVector
    val base = df.select(featureCols.map(c => col(c).cast("double").as(c)): _*)
      .na.drop()
      .withColumn("__test", pmod(xxhash64(struct(featureCols.map(col): _*), lit(7)), lit(10)) < 3)
      .cache()
    try {
      featureCols.foreach { f =>
        val others = kept.filterNot(_ == f)
        if (others.nonEmpty) {
          val asm = new VectorAssembler().setInputCols(others.toArray).setOutputCol("features")
          val model = new LinearRegression().setLabelCol(f).setMaxIter(30)
            .fit(asm.transform(base.filter(!col("__test"))))
          val pred = model.transform(asm.transform(base.filter(col("__test"))))
          val r2 = new RegressionEvaluator().setLabelCol(f).setMetricName("r2").evaluate(pred)
          if (r2 > r2Threshold) kept = others
        }
      }
      kept
    } finally { base.unpersist(); () }
  }
}
