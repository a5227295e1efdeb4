package graft.search

import graft.SparkSpec
import graft.exprs._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class LrScorerSpec extends SparkSpec {

  private def planted = spark.range(2000).select(
    (pmod(xxhash64(col("id")), lit(100)).cast("double") / 100 + 0.5).as("x1"),
    (pmod(xxhash64(col("id") + 7), lit(100)).cast("double") / 100 + 0.5).as("x2"))
    .withColumn("y", (col("x1") * col("x2") > lit(1.0)).cast("int"))

  test("reference 7-C grid is pinned") {
    // ComplexityDrivenFeatureConstruction.py:40-47: C in {1e-3..1e3}, reg = 1/C
    assert(LrScorer.DefaultGrid ==
      Seq(0.001, 0.01, 0.1, 1.0, 10.0, 100.0, 1000.0).map(1.0 / _))
  }

  test("LR CV: informative feature scores high AUC, noise scores ~0.5") {
    val df = planted.withColumn("prod", col("x1") * col("x2"))
      .withColumn("noise", pmod(xxhash64(col("x1") + 13), lit(1000)).cast("double") / 1000)
    // 2-point grid exercises the grid-search path (best-mean-AUC pick)
    val good = LrScorer.score(df, Seq("prod"), "y", folds = 3, grid = Seq(1.0, 1000.0))
    val bad = LrScorer.score(df, Seq("noise"), "y", folds = 3)
    assert(good.auc > 0.95, s"good=${good.auc}")
    assert(math.abs(bad.auc - 0.5) < 0.1, s"bad=${bad.auc}")
    assert(good.rss < bad.rss)
    assert(good.n > 0)
  }

  test("AICc selection prefers the informative champion over weak lower-complexity ones") {
    val df = planted
    val res = new Cdfc(df, Seq("x1", "x2"), Nil, Nil, col("y"),
      CdfcConfig(cMax = 3, binaryOps = Seq(BinOp.Mul),
        unaryOps = Seq(UnaryOp.Minus, UnaryOp.MinMax), groupByAggs = Seq.empty)).run()
    val (winner, perComplexity) = LrScorer.selectByAicc(df, res, "y", folds = 3)
    assert(perComplexity.size >= 2)
    assert(winner.key.contains("mul"), s"winner=${winner.key}, table=$perComplexity")
  }

  test("repeated CV is stable for a strong feature") {
    val df = planted.withColumn("prod", col("x1") * col("x2"))
    val (mu, sd) = LrScorer.repeatedCv(df, Seq("prod"), "y", repeats = 3, folds = 3)
    assert(mu > 0.95 && sd < 0.05, s"mu=$mu sd=$sd")
  }

  test("per-fold metric suite (run_evaluation.py:83-138) is populated and coherent") {
    val df = planted.withColumn("prod", col("x1") * col("x2"))
    // weak regularization: regParam=1.0 shrinks p toward the base rate and
    // the 0.5 hard threshold under-calls the positive class (AUC is immune,
    // accuracy/f1 are not — same in sklearn with C=1e-3)
    val s = LrScorer.score(df, Seq("prod"), "y", folds = 3, grid = Seq(0.01), complexity = 3)
    // near-separable planted signal: hard-prediction metrics track the AUC
    assert(s.accuracy > 0.9, s"acc=${s.accuracy}")
    assert(s.f1 > 0.9, s"f1=${s.f1}")
    // continuous feature tuples are unique -> perfectly consistent
    assert(s.consistency == 1.0, s"cons=${s.consistency}")
    // AICc >= AIC always; BIC > AIC once ln(n) > 2; complexity-k > feature-k
    assert(s.aiccFeat >= s.aicFeat && s.aiccComp >= s.aicComp)
    assert(s.bicFeat > s.aicFeat)
    assert(s.aicComp > s.aicFeat) // k_comp = complexity + #features + 1 > k_feat
    assert(!s.aicFeat.isNaN && !s.bicComp.isNaN)
  }

  test("degenerate folds: single-class label scores as the constant predictor") {
    // every training fold of an all-ones label is single-class; spark.ml's
    // numClasses inference (maxLabel+1 = 2) cannot see that — the scorer
    // must detect it from the fold-label histogram and skip the fit
    val df = planted.withColumn("prod", col("x1") * col("x2"))
      .withColumn("y1", lit(1).cast("int"))
    val s = LrScorer.score(df, Seq("prod"), "y1", folds = 3)
    assert(s.auc == 0.5, s"auc=${s.auc}")      // constant predictor = coin
    assert(s.rss == 0.0 && s.accuracy == 1.0)  // p = 1.0 on all-ones labels
    assert(s.n > 0)
  }

  test("empty input scores vacuously instead of throwing") {
    val df = planted.withColumn("prod", col("x1") * col("x2")).filter(lit(false))
    val s = LrScorer.score(df, Seq("prod"), "y", folds = 3)
    assert(s.auc == 0.5 && s.n == 0L && s.rss == 0.0)
  }

  test("grid pick is stable across repeated runs (rounded AUC/rss channels)") {
    // separable candidate: every grid point ties at AUC ~1.0 up to ULP noise
    // from task-completion-ordered treeAggregate reduction; the rounded
    // compare must return the same (lowest-rss) grid point every run
    val df = planted.withColumn("prod", col("x1") * col("x2"))
    val runs = (1 to 3).map(_ =>
      LrScorer.score(df, Seq("prod"), "y", folds = 3, grid = Seq(1.0, 0.01)))
    assert(runs.map(s => math.rint(s.rss * 1e6)).distinct.size == 1,
      s"rss flickered across identical runs: ${runs.map(_.rss)}")
  }

  private def jobsDuring(f: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      f
      org.apache.spark.GraftBridge.waitUntilListenerBusEmpty(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  test("batched fit: jobs per score do not grow with folds x grid points") {
    val df = planted.withColumn("prod", col("x1") * col("x2"))
    // one packing/moments job, one job per Newton pass (the slowest model's
    // count), one metrics job — whatever the number of models
    def passes(grid: Seq[Double]) = LrScorer.fitAll(df, Seq(LrScorer.Candidate(Seq("prod"),
      df.columns.toSeq)), "y", 3, grid, Seq(42)).map(_.passes).max
    val (p1, p7) = (passes(Seq(1.0)), passes(LrScorer.DefaultGrid))
    val j1 = jobsDuring { LrScorer.score(df, Seq("prod"), "y", folds = 3, grid = Seq(1.0)) }
    val j7 = jobsDuring { LrScorer.score(df, Seq("prod"), "y", folds = 3, grid = LrScorer.DefaultGrid) }
    assert(j1 == 2 + p1 && j7 == 2 + p7, s"1-point: $j1 jobs, $p1 passes; 7-point: $j7 jobs, $p7 passes")
    assert(p7 < 21, s"$p7 Newton passes for 21 models")
  }

  /** The spark.ml route the batched scorer replaced, kept as the reference:
    * one (grid value, fold) fit of `LogisticRegression` (maxIter 50, tol
    * 1e-6) on the candidate's na-dropped rows, folded over its own `rowCols`,
    * and the `BinaryClassificationEvaluator` AUC of its test fold.
    */
  private def reference(wide: DataFrame, c: LrScorer.Candidate, label: String, folds: Int,
      salt: Int, reg: Double, f: Int): (Double, Seq[Double], Double) = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
    import org.apache.spark.ml.feature.VectorAssembler
    val feats = c.features
    val df = wide.withColumn("__fold", LrScorer.foldCol(salt, folds, c.rowCols.map(col)))
      .select(feats.map(c => col(c).cast("double").as(c)) :+
        col(label).cast("double").as("label") :+ col("__fold"): _*)
      .na.drop()
    val asm = new VectorAssembler().setInputCols(feats.toArray).setOutputCol("features")
    val model = new LogisticRegression().setRegParam(reg).setMaxIter(50).setTol(1e-6)
      .fit(asm.transform(df.filter(col("__fold") =!= f)))
    val auc = new BinaryClassificationEvaluator()
      .setRawPredictionCol("probability").setMetricName("areaUnderROC")
      .evaluate(model.transform(asm.transform(df.filter(col("__fold") === f))))
    (model.intercept, model.coefficients.toArray.toSeq, auc)
  }

  private def assertParity(wide: DataFrame, cands: Seq[LrScorer.Candidate], label: String,
      grid: Seq[Double]): Unit = {
    val fits = LrScorer.fitAll(wide, cands, label, 3, grid, Seq(42))
    fits.filter(_.passes > 0).foreach { m =>
      val c = cands(m.cand)
      val (b0, beta, auc) = reference(wide, c, label, 3, 42, m.reg, m.fold)
      val ctx = s"${c.features} reg=${m.reg} fold=${m.fold}: ${(m.intercept, m.coef, m.stats.auc)} " +
        s"vs spark.ml ${(b0, beta, auc)}"
      assert(math.abs(m.intercept - b0) < 1e-4, ctx)
      m.coef.zip(beta).foreach { case (a, b) => assert(math.abs(a - b) < 1e-4, ctx) }
      assert(math.rint(m.stats.auc * 1e9) == math.rint(auc * 1e9), ctx)
    }
  }

  test("parity with spark.ml: 2-feature, constant-feature and per-candidate null/NaN rows") {
    val wide = planted
      .withColumn("k", lit(3.0))
      .withColumn("xn", when(pmod(xxhash64(col("x1"), col("x2")), lit(7)) === 0, lit(null))
        .when(pmod(xxhash64(col("x2"), col("x1")), lit(11)) === 0, lit(Double.NaN))
        .otherwise(col("x1")))
    val base = Seq("x1", "x2", "y")
    val cands = Seq(
      LrScorer.Candidate(Seq("x1", "x2"), base),
      LrScorer.Candidate(Seq("x1", "k"), base :+ "k"),  // sigma = 0: coefficient 0
      LrScorer.Candidate(Seq("xn"), base :+ "xn"),      // drops its null/NaN rows only
      LrScorer.Candidate(Seq("x2"), base))
    val fits = LrScorer.fitAll(wide, cands, "y", 3, Seq(1.0), Seq(42))
    assert(fits.filter(_.cand == 1).forall(_.coef(1) == 0.0))
    val rows = fits.filter(_.fold == 0).map(m => m.cand -> m.stats.n).toMap
    assert(rows(2) < rows(3), s"null/NaN rows must drop for xn only: $rows")
    assertParity(wide, cands, "y", Seq(1.0))
  }

  test("parity with spark.ml: the full 7-point DefaultGrid") {
    assertParity(planted, Seq(LrScorer.Candidate(Seq("x1"), Seq("x1", "x2", "y"))), "y",
      LrScorer.DefaultGrid)
  }

  test("single-class and empty training folds score the constant predictor") {
    // label = "row is in fold 0" under a hash of (x1, x2) only: fold 0's
    // training rows are all negative (constant p = 0), folds 1 and 2 train
    // on both classes and test on negatives only (evaluator convention: AUC 0)
    val hashCols = Seq("x1", "x2")
    val df = planted.withColumn("y0",
      (LrScorer.foldCol(42, 3, hashCols.map(col)) === 0).cast("int"))
    val cand = LrScorer.Candidate(Seq("x1"), hashCols)
    val fits = LrScorer.fitAll(df, Seq(cand), "y0", 3, Seq(1.0), Seq(42))
    val f0 = fits.find(_.fold == 0).get
    assert(f0.passes == 0 && f0.intercept == 0.0 && f0.stats.auc == 0.5)
    assert(f0.stats.rss == f0.stats.n.toDouble && f0.stats.accuracy == 0.0 && f0.stats.n > 0)
    assert(fits.filter(_.fold > 0).forall(m => m.passes > 0 && m.stats.auc == 0.0))
    assertParity(df, Seq(cand), "y0", Seq(1.0))
    // a constant hash row puts every row in one fold: its training fold is
    // empty (p = 0.5), the other two test folds are empty (vacuous stats)
    val one = planted.withColumn("g", lit(1))
    val e = LrScorer.fitAll(one, Seq(LrScorer.Candidate(Seq("x1"), Seq("g"))), "y", 3,
      Seq(1.0), Seq(42))
    val (full, empty) = e.partition(_.stats.n > 0)
    assert(full.size == 1 && full.head.intercept == 0.5 && full.head.stats.auc == 0.5)
    assert(full.head.stats.rss == 0.25 * full.head.stats.n)
    assert(empty.size == 2 && empty.forall(_.stats == LrScorer.FoldStats(0.5, 0.0, 0L, 1.0, 0.0, 1.0)))
  }

  test("fold ids: each candidate's fold is foldCol over its own matrix") {
    val wide = planted.withColumn("z", col("x1") + col("x2"))
    val cands = Seq(LrScorer.Candidate(Seq("x1"), Seq("x1", "x2", "y")),
      LrScorer.Candidate(Seq("z"), Seq("x1", "x2", "y", "z")))
    val salts = Seq(42, 43)
    val mat = LrScorer.matrix(wide, cands, "y", 3, salts).collect()
    for ((c, ci) <- cands.zipWithIndex; (salt, si) <- salts.zipWithIndex) {
      val own = wide.select(c.rowCols.map(col): _*)
        .select(LrScorer.foldCol(salt, 3)).collect().map(_.getInt(0))
      val batched = mat.map(_.getInt(1 + cands.size + ci * salts.size + si))
      assert(batched.toSeq == own.toSeq, s"candidate $ci salt $salt")
    }
  }

  test("AUC is exact Mann-Whitney with ties beyond the evaluator's 2000-score binning") {
    // 9000 rows, 3 folds: ~3000 distinct scores per test fold, where
    // BinaryClassificationEvaluator would downsample its ROC to 1000 bins
    val df = spark.range(9000).select(
        (pmod(xxhash64(col("id")), lit(1000003L)).cast("double") / 1000003).as("x"),
        (pmod(xxhash64(col("id") + 5), lit(1000L)).cast("double") / 1000).as("e"))
      .withColumn("y", (col("x") + col("e") > 1.0).cast("int"))
      .drop("e")
    val fits = LrScorer.fitAll(df, Seq(LrScorer.Candidate(Seq("x"), df.columns.toSeq)), "y", 3,
      Seq(1.0), Seq(42))
    val rows = df.withColumn("f", LrScorer.foldCol(42, 3)).collect()
      .map(r => (r.getDouble(0), r.getInt(1), r.getInt(2)))
    fits.foreach { m =>
      val scored = rows.filter(_._3 == m.fold)
        .map { case (x, y, _) => (1.0 - 1.0 / (1.0 + math.exp(x * m.coef(0) + m.intercept)), y) }
      assert(scored.map(_._1).distinct.length > 2000)
      val (pos, neg) = scored.partition(_._2 == 1)
      val twiceU = pos.iterator.map { case (p, _) =>
        neg.iterator.map { case (q, _) => if (p > q) 2L else if (p == q) 1L else 0L }.sum
      }.sum
      assert(m.stats.auc == twiceU.toDouble / (2.0 * pos.length * neg.length), s"fold ${m.fold}")
    }
  }
}
