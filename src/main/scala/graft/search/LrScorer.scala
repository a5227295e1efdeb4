package graft.search

import graft.exprs._
import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Exact model-based scoring of search survivors — the reference's CV
  * grid-search LogisticRegression oracle (`run_evaluation.py:142-243`) and
  * the AICc final selection (`ComplexityDrivenFeatureConstruction.py:
  * 754-802`), applied to the FEW candidates that survive the cheap MI gate
  * (the reference fits LR for every candidate; fitting only survivors is
  * the Spark-shaped two-stage oracle announced in SURVEY §2.4).
  *
  * Folds are deterministic hash folds (`pmod(xxhash64(struct(row), salt),
  * k)`, [[foldCol]]) — never randomSplit, which is not reproducible under
  * repartition. Repeated-CV stability (`multiple_cv_scikit.py`) = the same
  * scoring under different fold salts.
  *
  * Batched many-models fit: one call scores many candidates, and every
  * (candidate, fold salt, grid value, fold) is one MODEL. Each model solves
  * spark.ml `LogisticRegression`'s binomial objective exactly (standardization
  * on, L2 only, intercept unpenalized):
  * {{{
  *   mean log-loss + regParam/2 * sum_j (beta_j * sigma_j)^2
  * }}}
  * with sigma_j the training fold's sample standard deviation of feature j
  * (a feature with sigma_j = 0 gets coefficient 0, as in spark.ml). The fit
  * is damped Newton in standardized coordinates:
  *  - pass 0 (one job) packs the candidate columns into cached column-major
  *    blocks and returns per-(candidate, salt, fold) row/label counts and
  *    Welford feature moments; training-fold moments are merged from them;
  *  - each Newton iteration is ONE job: every block returns the log-loss,
  *    gradient and Hessian sums of every not-yet-converged model, and the
  *    driver solves the (1 + #features)-square systems. A step that raises
  *    the objective is halved instead (one pass re-evaluates it);
  *  - one shuffle job gives every model's out-of-fold metrics from its
  *    (score, label) counts: AUC by exact Mann–Whitney counting with ties,
  *    rss, accuracy and tp/fp/fn, plus each test fold's consistency counts.
  * Driver memory is O(models × blocks), independent of the row count.
  *
  * Determinism: every sum over rows is reduced in block order (partials are
  * collected, not tree-reduced) and the metric sums run in score order, so
  * a score is bit-identical run to run. The grid pick still compares
  * ROUNDED values (1e-9 AUC / 1e-6 rss), and so do the search's AUC
  * decisions, since a different input partitioning moves floats by ULPs.
  */
object LrScorer {

  /** CV summary for the best grid point, carrying the reference's full
    * additional-metric suite (`run_evaluation.py:83-138`, means over the
    * test folds of the winning grid config):
    *  - accuracy / f1: hard predictions at p > 0.5 (sklearn predict)
    *  - rss / n: out-of-fold squared probability residuals (`calculate_rss`)
    *  - consistency: fraction of test rows whose feature tuple maps to a
    *    single label (`calculate_consistency`)
    *  - AIC/AICc/BIC, two k conventions: `k = #features` (feature_number)
    *    and `k = complexity + #features + 1` (complexity) — per fold with
    *    that fold's (rss, n), then meaned, as the reference keeps them.
    */
  final case class LrScore(
      auc: Double,
      rss: Double,
      n: Long,
      accuracy: Double = Double.NaN,
      f1: Double = Double.NaN,
      consistency: Double = Double.NaN,
      aicFeat: Double = Double.NaN,
      aiccFeat: Double = Double.NaN,
      bicFeat: Double = Double.NaN,
      aicComp: Double = Double.NaN,
      aiccComp: Double = Double.NaN,
      bicComp: Double = Double.NaN)

  /** One candidate of a batched score.
    *
    * @param features   its feature columns (cast to double; a row with a
    *                   null or NaN feature or label is dropped for THIS
    *                   candidate only)
    * @param rowCols    the columns its fold hash covers, in order — the
    *                   candidate's own matrix, so its folds are exactly
    *                   [[foldCol]] over that matrix
    * @param complexity representation complexity, used by the
    *                   `*_complexity` information criteria
    *                   (`k = complexity + #features + 1`)
    */
  final case class Candidate(features: Seq[String], rowCols: Seq[String], complexity: Int = 0)

  private[search] final case class FoldStats(
      auc: Double, rss: Double, n: Long,
      accuracy: Double, f1: Double, consistency: Double)

  /** One fitted (candidate, salt, grid value, fold) model: coefficients on
    * the ORIGINAL feature scale, as spark.ml reports them, and its
    * out-of-fold stats. `passes` = Newton passes the model took; 0 marks
    * the constant predictor of a degenerate training fold, which carries
    * its p(1) in `intercept` (and an empty test fold, with NaN there).
    */
  private[search] final case class FoldFit(
      cand: Int, salt: Int, reg: Double, fold: Int,
      intercept: Double, coef: IndexedSeq[Double], passes: Int, stats: FoldStats)

  /** Reference default LR grid: 7 C values (`ComplexityDrivenFeature
    * Construction.py:40-47`), C = 1/regParam.
    */
  val DefaultGrid: Seq[Double] = Seq(0.001, 0.01, 0.1, 1.0, 10.0, 100.0, 1000.0).map(1.0 / _)

  /** Fold id of a row: hash over `rowCols` (default: the full row). */
  def foldCol(salt: Int, k: Int, rowCols: Seq[Column] = Seq(col("*"))): Column =
    pmod(xxhash64(struct(rowCols: _*), lit(salt)), lit(k)).cast("int")

  /** CV-score one candidate set: per grid value, k-fold CV AUC; keep the
    * best mean; the full per-fold metric suite comes from the best grid's
    * out-of-fold predictions. The one-candidate case of [[scoreAll]].
    *
    * @param complexity representation complexity of the candidate set, used
    *                   by the `*_complexity` information criteria
    *                   (`k = complexity + #features + 1`)
    */
  def score(
      dfIn: DataFrame,
      featureCols: Seq[String],
      labelCol: String,
      folds: Int = 5,
      grid: Seq[Double] = Seq(1.0),
      saltSeed: Int = 42,
      complexity: Int = 0): LrScore =
    scoreAll(dfIn, Seq(Candidate(featureCols, dfIn.columns.toSeq, complexity)), labelCol,
      folds, grid, Seq(saltSeed)).head.head

  /** CV-score many candidates of one matrix under several fold salts in one
    * batch: result(candidate)(salt index).
    */
  def scoreAll(
      df: DataFrame,
      cands: Seq[Candidate],
      labelCol: String,
      folds: Int = 5,
      grid: Seq[Double] = Seq(1.0),
      salts: Seq[Int] = Seq(42)): IndexedSeq[IndexedSeq[LrScore]] = {
    // fitAll's order: candidate, salt, grid value, fold
    val perCs = fitAll(df, cands, labelCol, folds, grid, salts).map(_.stats)
      .grouped(folds).toIndexedSeq.grouped(grid.size).toIndexedSeq
    cands.indices.map(c => salts.indices.map(s =>
      summarize(perCs(c * salts.size + s), cands(c).features.size, cands(c).complexity, folds)))
  }

  /** Grid pick and metric means of one (candidate, salt): `perGrid(g)(f)`. */
  private def summarize(perGrid: Seq[Seq[FoldStats]], nFeatures: Int, complexity: Int,
      folds: Int): LrScore = {
    // primary: best mean CV AUC (the reference's criterion). Tie-break:
    // LOWER out-of-fold rss — a separable candidate ties every grid point
    // at AUC 1.0, and the reference's first-in-grid-order pick would keep
    // the most-regularized (worst-calibrated) model, making the rss the
    // information criteria feed on degenerate; preferring the calibrated
    // model among AUC-equals is the deterministic, semantics-preserving fix.
    // BOTH channels are rounded before comparison, so two grid points whose
    // scores differ only by float noise tie and the rss decides
    val best = perGrid.maxBy(per => (
      math.rint(per.map(_.auc).sum / folds * 1e9),
      -math.rint(per.map(_.rss).sum * 1e6)))

    def mean(g: FoldStats => Double): Double = best.map(g).sum / folds
    val kF = nFeatures.toDouble
    val kC = complexity + nFeatures + 1.0
    def aicOf(s: FoldStats, k: Double) =
      2 * k + s.n * math.log(math.max(s.rss, 1e-12) / s.n)
    def aiccOf(s: FoldStats, k: Double) =
      aicOf(s, k) + (2 * k * (k + 1)) / math.max(s.n - k - 1, 1.0)
    def bicOf(s: FoldStats, k: Double) =
      math.log(s.n.toDouble) * k + s.n * math.log(math.max(s.rss, 1e-12) / s.n)

    LrScore(
      auc = mean(_.auc),
      rss = best.map(_.rss).sum,
      n = best.map(_.n).sum,
      accuracy = mean(_.accuracy),
      f1 = mean(_.f1),
      consistency = mean(_.consistency),
      aicFeat = mean(aicOf(_, kF)), aiccFeat = mean(aiccOf(_, kF)), bicFeat = mean(bicOf(_, kF)),
      aicComp = mean(aicOf(_, kC)), aiccComp = mean(aiccOf(_, kC)), bicComp = mean(bicOf(_, kC)))
  }

  /** Repeated CV with different fold salts (`multiple_cv_scikit.py:44-161`):
    * mean and stddev of the CV AUC across repeats (all repeats in one batch).
    */
  def repeatedCv(df: DataFrame, featureCols: Seq[String], labelCol: String,
      repeats: Int = 5, folds: Int = 5, grid: Seq[Double] = Seq(1.0)): (Double, Double) = {
    val scores = scoreAll(df, Seq(Candidate(featureCols, df.columns.toSeq)), labelCol,
      folds, grid, (0 until repeats).map(42 + _)).head.map(_.auc)
    val mu = scores.sum / repeats
    val sd = math.sqrt(scores.map(s => (s - mu) * (s - mu)).sum / repeats)
    (mu, sd)
  }

  /** AICc final selection over per-complexity champions
    * (`ComplexityDrivenFeatureConstruction.py:754-802`):
    * AICc = 2k + n*ln(rss/n) + 2k(k+1)/(n-k-1), k = complexity.
    * Returns (champion, aicc) per complexity and the global argmin.
    * All champions score in one batch.
    */
  def selectByAicc(
      df: DataFrame,
      result: CdfcResult,
      labelCol: String,
      folds: Int = 5,
      grid: Seq[Double] = Seq(1.0)): (Scored, Seq[(Scored, Double)]) = {
    // per-complexity champion: when the search ran its LR stage, pick by
    // the AUC channel among LR-scored members (never compare an AUC against
    // an MI value); classes the LR stage did not touch fall back to MI
    val champions = result.survivors.filter(_.passed)
      .groupBy(_.complexity).toSeq.sortBy(_._1)
      .map { case (_, ss) =>
        val lrScored = ss.filter(s => result.lrAuc.contains(s.key))
        if (lrScored.nonEmpty) lrScored.maxBy(s => (result.lrAuc(s.key), s.key))
        else ss.maxBy(_.score)
      }
    // keep the full input row in each champion's fold hash so it has row
    // entropy even for low-cardinality champions (one-hot, discretized)
    val named = champions.zipWithIndex.map { case (ch, i) => s"__lr_c$i" -> ch.expr }
    val mat = LayerBuilder.select(df, df.columns.toSeq, named, result.fit)
    val scores = scoreAll(mat,
      champions.zip(named).map { case (ch, (n, _)) =>
        Candidate(Seq(n), df.columns.toSeq :+ n, ch.complexity) },
      labelCol, folds, grid).map(_.head)
    val scored = champions.zip(scores).map { case (ch, s) =>
      val k = ch.complexity.toDouble
      val n = s.n.toDouble
      ch -> (2 * k + n * math.log(math.max(s.rss, 1e-12) / n) +
        (2 * k * (k + 1)) / math.max(n - k - 1, 1.0))
    }
    (scored.minBy(_._2)._1, scored)
  }

  // ---- batched fit ----------------------------------------------------

  /** Newton passes per fit (spark.ml's `maxIter` budget; a fit converges in
    * well under a dozen); a model still moving after them keeps its best
    * evaluated point.
    */
  private val MaxPasses = 50
  /** Converged once a Newton step moves no standardized coefficient by more
    * than this (relative to max(1, |theta|)): the next step would be O(tol²).
    */
  private val StepTol = 1e-10

  /** Index arithmetic of one batch. Fold column cs = c*S + s (candidate c,
    * salt s); model m = (cs*G + g)*K + f; its fold group q = cs*K + f.
    */
  private final case class Layout(dims: Array[Int], xOff: Array[Int], s: Int, g: Int, k: Int) {
    def cands: Int = dims.length
    def groups: Int = cands * s * k
    def models: Int = groups * g
    def model(cs: Int, gi: Int, f: Int): Int = (cs * g + gi) * k + f
    def group(m: Int): Int = (m / (g * k)) * k + m % k
    def candOf(m: Int): Int = m / (s * g * k)
  }

  /** One partition's rows, column-major: label, every candidate's features
    * (NaN = null) and every (candidate, salt)'s fold id.
    */
  private final class Block(val y: Array[Double], val x: Array[Array[Double]],
      val fold: Array[Array[Int]]) extends Serializable {
    def n: Int = y.length
    def valid(i: Int, from: Int, d: Int): Boolean = {
      if (y(i).isNaN) return false
      var j = from
      while (j < from + d) { if (x(j)(i).isNaN) return false; j += 1 }
      true
    }
  }

  /** Row/label counts and Welford feature moments of one row set. */
  private final class Moments(d: Int) extends Serializable {
    var n = 0L
    var pos = 0L
    val mean = new Array[Double](d)
    val m2 = new Array[Double](d)
    def add(y: Double, xs: Array[Array[Double]], off: Int, i: Int): Unit = {
      n += 1
      if (y == 1.0) pos += 1
      var j = 0
      while (j < d) {
        val v = xs(off + j)(i)
        val delta = v - mean(j)
        mean(j) += delta / n
        m2(j) += delta * (v - mean(j))
        j += 1
      }
    }
    def merge(o: Moments): Unit = if (o.n > 0) {
      val tot = n + o.n
      var j = 0
      while (j < d) {
        val delta = o.mean(j) - mean(j)
        mean(j) += delta * o.n / tot
        m2(j) += o.m2(j) + delta * delta * n * o.n / tot
        j += 1
      }
      n = tot
      pos += o.pos
    }
    /** Sample standard deviation (spark.ml's summarizer: n - 1). */
    def std(j: Int): Double = if (n > 1) math.sqrt(m2(j) / (n - 1)) else 0.0
  }

  /** Wide projection the batch reads: label, each candidate's features cast
    * to double, then each (candidate, salt)'s fold id over its own row.
    */
  private[search] def matrix(df: DataFrame, cands: Seq[Candidate], labelCol: String,
      folds: Int, salts: Seq[Int]): DataFrame = {
    def named(n: String) = col(s"`${n.replace("`", "``")}`")
    df.select((named(labelCol).cast("double") +:
      cands.flatMap(_.features.map(c => named(c).cast("double"))) ++:
      cands.flatMap(c => salts.map(s => foldCol(s, folds, c.rowCols.map(named)))))
      .zipWithIndex.map { case (c, i) => c.as(s"_c$i") }: _*)
  }

  /** Fit every (candidate, salt, grid value, fold) model of a batch and
    * compute its out-of-fold stats, in (candidate, salt, grid value, fold)
    * order. Edge-case conventions:
    *  - an empty test fold has no predictions: rss 0, n 0, accuracy and
    *    consistency 1, f1 0, AUC 0.5;
    *  - an empty or single-class TRAINING fold admits no separating model:
    *    the constant predictor it implies is scored — p(1) = the lone label
    *    (0.5 with no training row) — with AUC 0.5;
    *  - a single-class TEST fold gets `BinaryClassificationEvaluator`'s ROC
    *    endpoint convention: AUC 1 with no negatives, 0 with no positives.
    */
  private[search] def fitAll(
      df: DataFrame,
      cands: Seq[Candidate],
      labelCol: String,
      folds: Int,
      grid: Seq[Double],
      salts: Seq[Int]): IndexedSeq[FoldFit] = {
    if (cands.isEmpty) return IndexedSeq.empty
    val dims = cands.map(_.features.size).toArray
    val lay = Layout(dims, dims.scanLeft(0)(_ + _), salts.size, grid.size, folds)
    val nX = dims.sum
    val nF = cands.size * salts.size
    val blocks: RDD[Block] = matrix(df, cands, labelCol, folds, salts).rdd
      .mapPartitions { rows =>
        val y = Array.newBuilder[Double]
        val x = Array.fill(nX)(Array.newBuilder[Double])
        val fo = Array.fill(nF)(Array.newBuilder[Int])
        def dbl(r: org.apache.spark.sql.Row, i: Int) = if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
        rows.foreach { r =>
          y += dbl(r, 0)
          var j = 0
          while (j < nX) { x(j) += dbl(r, 1 + j); j += 1 }
          j = 0
          while (j < nF) { fo(j) += r.getInt(1 + nX + j); j += 1 }
        }
        Iterator(new Block(y.result(), x.map(_.result()), fo.map(_.result())))
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // ---- pass 0: per-(candidate, salt, fold) test-fold moments --------
      val perBlock = blocks.map(b => moments(b, lay)).collect()
      val bad = perBlock.map(_._1).sum
      require(bad == 0, s"LrScorer: label $labelCol must be 0/1 ($bad rows are not)")
      val test = Array.tabulate(lay.groups) { q =>
        val m = new Moments(dims(q / (lay.s * lay.k)))
        perBlock.foreach(p => m.merge(p._2(q)))
        m
      }
      val train = Array.tabulate(lay.groups) { q =>
        val m = new Moments(dims(q / (lay.s * lay.k)))
        val base = q - q % lay.k
        (0 until lay.k).filter(_ != q % lay.k).foreach(f => m.merge(test(base + f)))
        m
      }
      val mu = train.map(_.mean.clone())
      val inv = train.map(t => Array.tabulate(t.mean.length) { j =>
        val s = t.std(j); if (s > 0) 1.0 / s else 0.0 })

      // ---- Newton passes ------------------------------------------------
      val regOf = (m: Int) => grid((m / lay.k) % lay.g)
      // start: coefficients 0, intercept = training log-odds (spark.ml's)
      val states = (0 until lay.models).flatMap { m =>
        val (tr, te) = (train(lay.group(m)), test(lay.group(m)))
        if (te.n > 0 && tr.pos > 0 && tr.pos < tr.n)
          Some(m -> new Newton(m, dims(lay.candOf(m)) + 1, math.log(tr.pos.toDouble / (tr.n - tr.pos))))
        else None
      }.toMap
      var pass = 0
      while (pass < MaxPasses && states.valuesIterator.exists(!_.done)) {
        val theta = new Array[Array[Double]](lay.models)
        states.valuesIterator.filter(!_.done).foreach(st => theta(st.m) = st.theta)
        val partials = blocks.map(b => newtonSums(b, lay, theta, mu, inv)).collect()
        pass += 1
        states.valuesIterator.filter(!_.done).foreach { st =>
          val acc = new Array[Double](partials(0)(st.m).length)
          partials.foreach { p =>
            val a = p(st.m)
            var i = 0
            while (i < acc.length) { acc(i) += a(i); i += 1 }
          }
          st.update(acc, train(lay.group(st.m)).n, regOf(st.m), pass)
        }
      }

      // original-scale coefficients (spark.ml's report): beta_j = w_j / sigma_j,
      // intercept = b - sum_j w_j mu_j / sigma_j; a model with no fit but a
      // test fold scores its constant p(1) (NaN: fitted, or no test rows)
      val coef = new Array[Array[Double]](lay.models)
      val const = Array.fill(lay.models)(Double.NaN)
      (0 until lay.models).foreach { m =>
        val q = lay.group(m)
        states.get(m) match {
          case Some(st) =>
            val th = st.result
            val d = th.length - 1
            val beta = Array.tabulate(d)(j => th(1 + j) * inv(q)(j))
            coef(m) = (th(0) - (0 until d).map(j => beta(j) * mu(q)(j)).sum) +: beta
          case None if test(q).n > 0 =>
            val tr = train(q)
            const(m) = if (tr.n == 0) 0.5 else if (tr.pos > 0) 1.0 else 0.0
          case None =>
        }
      }

      // ---- metrics pass -------------------------------------------------
      val sums: Map[Int, (Array[Long], Double)] = blocks
        .flatMap(b => metricKeys(b, lay, coef, const))
        .reduceByKey(new ById(math.max(1, math.min(lay.models + lay.groups,
          df.sparkSession.sparkContext.defaultParallelism))),
          (a: (Long, Long), b: (Long, Long)) => (a._1 + b._1, a._2 + b._2))
        .mapPartitions(it => summarizeCounts(it, lay.models))
        .collect().iterator.map { case (id, ls, rss) => id -> (ls, rss) }.toMap

      for (c <- cands.indices; s <- salts.indices; g <- grid.indices; f <- 0 until folds) yield {
        val m = lay.model(c * salts.size + s, g, f)
        val q = lay.group(m)
        val stats =
          if (test(q).n == 0) FoldStats(0.5, 0.0, 0L, 1.0, 0.0, 1.0)
          else {
            val (ls, rss) = sums(m)
            val Array(u2, pos, neg, tp, fp, fn) = ls
            val n = pos + neg
            val auc =
              if (!const(m).isNaN) 0.5
              else if (neg == 0) 1.0
              else if (pos == 0) 0.0
              else u2.toDouble / (2.0 * pos * neg)
            val tn = neg - fp
            val f1 = if (2 * tp + fp + fn == 0) 0.0 else 2.0 * tp / (2.0 * tp + fp + fn)
            val Array(consistent, rows) = sums(lay.models + q)._1
            FoldStats(auc, rss, n, (tp + tn).toDouble / n, f1, consistent.toDouble / rows)
          }
        val (intercept, beta) =
          if (coef(m) != null) (coef(m)(0), coef(m).toIndexedSeq.tail)
          else (const(m), IndexedSeq.fill(dims(c))(0.0))
        FoldFit(c, s, grid(g), f, intercept, beta, states.get(m).map(_.passes).getOrElse(0), stats)
      }
    } finally { blocks.unpersist(blocking = false); () }
  }

  /** Damped Newton state of one model in standardized coordinates
    * theta = (intercept, w_1..w_d).
    */
  private final class Newton(val m: Int, dim: Int, logOdds: Double) {
    var theta: Array[Double] = Array.tabulate(dim)(j => if (j == 0) logOdds else 0.0)
    private var accepted: Array[Double] = null
    private var fAccepted = Double.PositiveInfinity
    private var halvings = 0
    var done = false
    var passes = 0

    /** The final point: the last Newton step once converged, else the best
      * evaluated point.
      */
    def result: Array[Double] = if (done || accepted == null) theta else accepted

    /** Consume the sums of one pass at `theta`: [loss, grad(dim), hess upper]. */
    def update(sums: Array[Double], n: Long, reg: Double, pass: Int): Unit = {
      passes = pass
      var pen = 0.0
      var j = 1
      while (j < dim) { pen += theta(j) * theta(j); j += 1 }
      val obj = sums(0) / n + reg / 2 * pen
      if (!(obj <= fAccepted + 1e-12 * math.max(1.0, math.abs(fAccepted)))) {
        // the step overshot (or left the domain): halve it toward the last
        // accepted point; the next pass re-evaluates
        halvings += 1
        if (accepted == null || halvings > 30) {
          if (accepted != null) theta = accepted
          done = true
        } else theta = Array.tabulate(dim)(i => (accepted(i) + theta(i)) / 2)
        return
      }
      accepted = theta.clone()
      fAccepted = obj
      halvings = 0
      val g = Array.tabulate(dim)(i => sums(1 + i) / n + (if (i > 0) reg * theta(i) else 0.0))
      val h = Array.ofDim[Double](dim, dim)
      var k = 1 + dim
      for (a <- 0 until dim; b <- a until dim) {
        val v = sums(k) / n + (if (a == b && a > 0) reg else 0.0)
        h(a)(b) = v; h(b)(a) = v
        k += 1
      }
      val step = solve(h, g)
      theta = Array.tabulate(dim)(i => theta(i) - step(i))
      val scale = math.max(1.0, theta.map(math.abs).max)
      if (step.forall(s => math.abs(s) <= StepTol * scale)) done = true
    }
  }

  /** Solve h x = g by Gaussian elimination with partial pivoting; a
    * direction with no curvature gets a zero step.
    */
  private def solve(h: Array[Array[Double]], g: Array[Double]): Array[Double] = {
    val n = g.length
    val a = Array.tabulate(n)(i => h(i).clone() :+ g(i))
    for (j <- 0 until n) {
      val p = (j until n).maxBy(r => math.abs(a(r)(j)))
      val t = a(j); a(j) = a(p); a(p) = t
      if (math.abs(a(j)(j)) > 1e-300)
        for (r <- j + 1 until n) {
          val f = a(r)(j) / a(j)(j)
          for (c <- j to n) a(r)(c) -= f * a(j)(c)
        }
    }
    val x = new Array[Double](n)
    for (r <- n - 1 to 0 by -1) {
      val piv = a(r)(r)
      if (math.abs(piv) > 1e-300)
        x(r) = (a(r)(n) - (r + 1 until n).map(c => a(r)(c) * x(c)).sum) / piv
    }
    x
  }

  /** Calls `f(i, c, cs)` for every row i valid for candidate c (non-null,
    * non-NaN label and features) and every fold column cs of c.
    */
  private def foreachValid(b: Block, lay: Layout)(f: (Int, Int, Int) => Unit): Unit = {
    var i = 0
    while (i < b.n) {
      var c = 0
      while (c < lay.cands) {
        if (b.valid(i, lay.xOff(c), lay.dims(c))) {
          var cs = c * lay.s
          while (cs < (c + 1) * lay.s) { f(i, c, cs); cs += 1 }
        }
        c += 1
      }
      i += 1
    }
  }

  /** Pass 0 over one block: rows whose non-null label is not 0/1, and each
    * (candidate, salt, fold) group's test-fold moments.
    */
  private def moments(b: Block, lay: Layout): (Long, Array[Moments]) = {
    val out = Array.tabulate(lay.groups)(q => new Moments(lay.dims(q / (lay.s * lay.k))))
    foreachValid(b, lay) { (i, c, cs) =>
      out(cs * lay.k + b.fold(cs)(i)).add(b.y(i), b.x, lay.xOff(c), i)
    }
    (b.y.count(y => !y.isNaN && y != 0.0 && y != 1.0).toLong, out)
  }

  /** One Newton pass over one block: per model with a `theta`, the sums
    * [log-loss, gradient, Hessian upper triangle] over its training rows, in
    * standardized coordinates z_j = (x_j - mu_j) / sigma_j (0 when sigma_j = 0).
    */
  private def newtonSums(b: Block, lay: Layout, theta: Array[Array[Double]],
      mu: Array[Array[Double]], inv: Array[Array[Double]]): Array[Array[Double]] = {
    val out = theta.map(th => if (th == null) null else {
      val d = th.length
      new Array[Double](1 + d + d * (d + 1) / 2)
    })
    val z = new Array[Double](lay.dims.max + 1)
    z(0) = 1.0
    foreachValid(b, lay) { (i, c, cs) =>
      val (y, d, r) = (b.y(i), lay.dims(c), b.fold(cs)(i))
      var f = 0
      while (f < lay.k) {
        if (f != r) {
          val q = cs * lay.k + f
          var j = 0
          while (j < d) { z(1 + j) = (b.x(lay.xOff(c) + j)(i) - mu(q)(j)) * inv(q)(j); j += 1 }
          var g = 0
          while (g < lay.g) {
            val m = lay.model(cs, g, f)
            val th = theta(m)
            if (th != null) {
              var eta = 0.0
              j = 0
              while (j <= d) { eta += th(j) * z(j); j += 1 }
              val p = 1.0 / (1.0 + math.exp(-eta))
              val w = p * (1.0 - p)
              val acc = out(m)
              acc(0) += math.log1p(math.exp(-math.abs(eta))) + math.max(eta, 0.0) - y * eta
              j = 0
              while (j <= d) { acc(1 + j) += (p - y) * z(j); j += 1 }
              var k = 2 + d
              var a = 0
              while (a <= d) {
                var bb = a
                while (bb <= d) { acc(k) += w * z(a) * z(bb); k += 1; bb += 1 }
                a += 1
              }
            }
            g += 1
          }
        }
        f += 1
      }
    }
    out
  }

  /** Shuffle key of the metrics pass: a model id < #models with its score
    * (one value), or #models + fold group with a test row's feature tuple.
    */
  private final case class Key(id: Int, v: Vector[Double])

  private final class ById(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = key.asInstanceOf[Key].id % numPartitions
    override def equals(o: Any): Boolean = o match {
      case p: ById => p.numPartitions == numPartitions
      case _       => false
    }
    override def hashCode: Int = numPartitions
  }

  /** Metrics pass over one block: (key, (positives, negatives)) per test
    * row and model — the score spark.ml reports as probability(1),
    * `1 - 1/(1 + exp(margin))`, margin = x·beta + intercept — and per test
    * row and fold group (its feature tuple, -0.0 read as 0.0).
    */
  private def metricKeys(b: Block, lay: Layout, coef: Array[Array[Double]],
      const: Array[Double]): Iterator[(Key, (Long, Long))] = {
    val out = collection.mutable.ArrayBuffer.empty[(Key, (Long, Long))]
    foreachValid(b, lay) { (i, c, cs) =>
      val lab = if (b.y(i) == 1.0) (1L, 0L) else (0L, 1L)
      val (d, off, f) = (lay.dims(c), lay.xOff(c), b.fold(cs)(i))
      out += Key(lay.models + cs * lay.k + f, Vector.tabulate(d)(j => b.x(off + j)(i) + 0.0)) -> lab
      var g = 0
      while (g < lay.g) {
        val m = lay.model(cs, g, f)
        val p =
          if (coef(m) != null) {
            val cf = coef(m)
            var dot = 0.0
            var j = 0
            while (j < d) { dot += b.x(off + j)(i) * cf(1 + j); j += 1 }
            1.0 - 1.0 / (1.0 + math.exp(dot + cf(0)))
          } else const(m)
        out += Key(m, Vector(p)) -> lab
        g += 1
      }
    }
    out.iterator
  }

  /** Reduce side of the metrics pass, per id:
    *  - a model: (U2 = 2 × Mann–Whitney U counting ties as 1/2, positives,
    *    negatives, tp, fp, fn; rss), swept in ascending score order;
    *  - a fold group: (rows whose tuple has one label, rows; 0).
    */
  private def summarizeCounts(it: Iterator[(Key, (Long, Long))],
      models: Int): Iterator[(Int, Array[Long], Double)] =
    it.toArray.groupBy(_._1.id).iterator.map { case (id, kvs) =>
      if (id < models) {
        var (u2, pos, neg, tp, fp, fn, rss) = (0L, 0L, 0L, 0L, 0L, 0L, 0.0)
        kvs.sortBy(_._1.v(0))(Ordering.Double.TotalOrdering).foreach { case (k, (p1, n0)) =>
          val p = k.v(0)
          u2 += 2 * p1 * neg + p1 * n0
          pos += p1; neg += n0
          rss += p1 * (1 - p) * (1 - p) + n0 * p * p
          if (p > 0.5) { tp += p1; fp += n0 } else fn += p1
        }
        (id, Array(u2, pos, neg, tp, fp, fn), rss)
      } else {
        val rows = kvs.map { case (_, (p1, n0)) => p1 + n0 }.sum
        val consistent = kvs.collect { case (_, (p1, n0)) if p1 == 0 || n0 == 0 => p1 + n0 }.sum
        (id, Array(consistent, rows), 0.0)
      }
    }
}
