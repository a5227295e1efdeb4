package graft.search

import graft.exprs._
import graft.exprs.Applicability.profileOf
import graft.profile.{ColumnProfile, Profiler}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Complexity-driven feature construction: the reference's layered
  * breadth-first lattice search (`feature_selection/
  * ComplexityDrivenFeatureConstruction.py:381-685`) re-expressed Spark-first.
  *
  * Layer c enumerates all candidates of exactly c transformation nodes:
  * unary ops applied to layer c-1, binary ops over every 2-partition
  * [p, c-1-p] (`:163-170`), GroupByThen over (value, key) pairs. Each
  * candidate is canonicalized ([[Canon]]) and deduped against the seen-set
  * (`:142-160`), pruned by property applicability ([[Applicability]]),
  * then the surviving layer is scored in two shuffle-free row passes
  * ([[MIScorer]]): runtime constant prune + value-fingerprint dedup
  * (`run_evaluation.py:287-298`) + gain scoring. The epsilon gate passes a
  * candidate iff it is raw/one-hot or its gain per added complexity exceeds
  * epsilon (`run_evaluation.py:370-371`).
  *
  * Two-stage gain oracle: normalized binned MI (the reference's own
  * prefilter statistic) gates the full lattice; with `lrTopK > 0` the
  * layer's top survivors are re-scored by the reference's exact CV
  * grid-search LR oracle (`run_evaluation.py:142-243`) and AUC replaces MI
  * for their gate and for champion selection — so on fixtures where binned
  * MI and LR-AUC disagree (non-monotone dependence MI over-rates), the
  * champion is the LR champion, as in the reference. The MI prefilter is
  * the Spark-shaped concession: the reference fits LR for every candidate,
  * which at lattice width is strictly dominated by prefilter + top-K exact.
  *
  * Scale shape: per layer, one profile pass and one MI-score pass over
  * one wide select of all candidates (each a shuffle-free row pass: one
  * job, no exchange), then one batched LR re-score, plus the fit jobs of
  * the layer's fitted ops. Layer 1 scores from the raw-column profile pass
  * and reads every categorical's one-hot values in one more job; a
  * checkpointed run counts its input lineage once; a layer commit runs no
  * job. Measured on the `search_lr` benchmark (cMax 2, AQE on, traced
  * seeds 7 and 108): 26 jobs per search — layer 1: profile 1, one-hot
  * values 1, MI 1, LR 6, lineage 1; layer 2: fits 8, profile 1, MI 1,
  * LR 6.
  * No candidate column is ever collected; the only shuffles are the
  * windows of GroupByThen candidates (all candidates with the same key
  * share one exchange).
  */
final case class CdfcConfig(
    cMax: Int = 3,
    epsilon: Double = 0.0,
    bins: Int = 10,
    batchSize: Int = 48,
    maxLayerWidth: Int = 512,
    unaryOps: Seq[UnaryOp] = Seq(
      UnaryOp.Minus, UnaryOp.Inv, UnaryOp.Log, UnaryOp.MinMax,
      UnaryOp.ImputeMean, UnaryOp.MDLP),
    binaryOps: Seq[BinOp] = Seq(BinOp.Add, BinOp.Mul),
    groupByAggs: Seq[AggKind] = Seq(AggKind.Mean, AggKind.Max, AggKind.Min, AggKind.Std),
    stopAfterNonImproving: Int = 2,
    /** When > 0, each layer's top-`lrTopK` MI survivors are re-scored with
      * the exact CV grid-search LR oracle (`run_evaluation.py:142-243`) and
      * LR AUC replaces binned MI for their score, epsilon gate, and champion
      * selection — completing the two-stage oracle of SURVEY §2.4 (cheap MI
      * prefilter for the lattice, exact LR for the survivors). Direct
      * parents of a re-scored candidate are LR-scored too (memoized), so
      * the gain is AUC-vs-AUC, never mixed-scale.
      *
      * DEFAULT IS ON (4): the reference's gain oracle is the CV-LR fit for
      * EVERY candidate (`run_evaluation.py:142-243`), so the public default
      * must be the two-stage MI->LR oracle, not the MI prefilter alone — on
      * fixtures where binned MI and LR-AUC rank champions differently, a
      * MI-only default would diverge from reference semantics (the
      * q_cdfc_lr planted decoy demonstrates exactly that). Set 0 for the
      * MI-only prefilter, used internally by property gates that pin
      * MI-stage mechanics (stop rules, layer logs, AICc-over-MI-search). */
    lrTopK: Int = 4,
    lrFolds: Int = 3,
    lrGrid: Seq[Double] = Seq(1.0),
    /** Reference auto-stop for unbounded searches (`ComplexityDrivenFeature
      * Construction.py:660-676`): after layer c > 2, stop when the harmonic
      * mean of cumulative SimplicityScore and AccuracyScore of the champion
      * two layers back dominates both later champions. */
    harmonicStop: Boolean = false)

final case class Scored(
    expr: FeatureExpr,
    key: String,
    complexity: Int,
    score: Double,
    passed: Boolean,
    inherited: Boolean)

/** Per-layer accounting. `dropped` counts candidates past `maxLayerWidth`
  * that were cut BEFORE evaluation — never silently: the overflow order is
  * deterministic (best-parent score desc, canonical key asc) and the count
  * is recorded here and logged.
  */
final case class LayerLog(complexity: Int, enumerated: Int, survived: Int, dropped: Int)

final case class CdfcResult(
    best: Scored,
    survivors: Seq[Scored],
    layers: Seq[LayerLog],
    fit: FitStats,
    /** CV-LR AUC per canonical key for every candidate the two-stage oracle
      * LR-scored (empty when lrTopK == 0). Downstream selection (champion
      * tables, AICc) reads THIS channel for LR-scored candidates so AUC and
      * MI values are never compared against each other.
      */
    lrAuc: Map[String, Double] = Map.empty)

final class Cdfc(
    df: DataFrame,
    rawNumeric: Seq[String],
    rawCategorical: Seq[String],
    groupKeys: Seq[String],
    label: Column,
    cfg: CdfcConfig = CdfcConfig(),
    checkpointDir: Option[String] = None) {

  import graft.checkpoint.Checkpoint
  import graft.checkpoint.Checkpoint.{SearchState, SurvivorRow}

  // NOTE on persisting the base: measured 4x SLOWER at sf0.1 (239s vs 55s
  // for the flagship search) — the columnar cache build + per-job decompress
  // costs more than replaying the short lineage at test scale. At 10^12
  // rows the caller should persist the base input itself; the search does
  // not force it.
  def run(): CdfcResult = {
    val seen = collection.mutable.HashSet[String]()
    val fingerprints = collection.mutable.HashSet[Long]()
    val scores = collection.mutable.HashMap[String, Double]()
    val profiles = collection.mutable.HashMap[String, ColumnProfile]()
    var fit = FitStats.empty
    val survivors = collection.mutable.ArrayBuffer[Scored]()
    val layerLog = collection.mutable.ArrayBuffer[LayerLog]()
    // per-complexity candidate pool for enumeration (passed candidates only,
    // reference buckets `cost_2_*`, `ComplexityDrivenFeatureConstruction.py:572-589`)
    val byComplexity = collection.mutable.HashMap[Int, Vector[FeatureExpr]]().withDefaultValue(Vector.empty)

    // ---- layer 1: raw numeric features -------------------------------
    val rawProfiles = Profiler.profile(df,
      rawNumeric.map(n => n -> col(n)), rawCategorical.map(n => n -> col(n)))
    profiles ++= rawProfiles
    val layer1 = rawNumeric.map(RawCol(_))

    // one-hots: generated once from raw categoricals (OneHotGenerator),
    // complexity 2, always pass the gate (`run_evaluation.py:370`)
    val oneHots: Seq[FeatureExpr] =
      rawCategorical.zip(Profiler.distinctValues(df, rawCategorical.map(col), limit = 32))
        .flatMap { case (n, vs) => vs.map(v => Unary(UnaryOp.EqualsStr(v), RawCol(n))) }

    // ---- helpers -----------------------------------------------------
    def enumerateLayer(cost: Int, oneHots: Seq[FeatureExpr]): Seq[FeatureExpr] =
      Cdfc.enumerate(cost, byComplexity, oneHots, groupKeys, cfg)

    def parentsOf(e: FeatureExpr): Seq[FeatureExpr] = e match {
      case Unary(_, ch)          => Seq(ch)
      case BinaryE(_, l, r)      => Seq(l, r)
      case GroupByThenE(_, v, k) => Seq(v, k)
      case _                     => Seq.empty
    }

    def maxParentScore(e: FeatureExpr): Double = {
      val ss = parentsOf(e).flatMap(p => scores.get(Canon.key(p)))
      if (ss.isEmpty) 0.0 else ss.max
    }

    // ---- exact LR oracle for the layer's top survivors ----------------
    // (two-stage: MI gates the lattice, CV-LR AUC re-scores and re-gates
    // the top-K survivors per layer; lrScores memoizes candidate AND
    // parent AUCs so gains compare like with like)
    val lrScores = collection.mutable.HashMap[String, Double]()
    lazy val dfLr = df.withColumn("__cdfc_label", label)
    /** Batched LR oracle for a layer's to-score set: ONE wide
      * `LayerBuilder.select` holds every candidate's feature column, and
      * [[LrScorer.scoreAll]] fits every candidate x fold x grid model of the
      * layer together. Each candidate's fold hash covers `dfLr.columns :+
      * its own feature` — exactly the per-candidate matrix a
      * one-select-per-candidate path would build (same columns, same
      * values), so its folds do not depend on which other candidates share
      * the layer.
      *
      * Keep EVERY input column in the fold matrix: the fold hash needs
      * full-row entropy, or a low-cardinality candidate (one-hot, group
      * mean over few keys) collapses whole value-groups into one fold.
      */
    def lrAucBatch(es: Seq[FeatureExpr]): Seq[(String, Double)] = {
      if (es.isEmpty) return Seq.empty
      val named = es.zipWithIndex.map { case (e, i) => s"__lr_c$i" -> e }
      val matAll = LayerBuilder.select(dfLr, dfLr.columns.toSeq, named, fit)
      val scores = LrScorer.scoreAll(matAll,
        named.map { case (n, _) => LrScorer.Candidate(Seq(n), dfLr.columns.toSeq :+ n) },
        "__cdfc_label", cfg.lrFolds, cfg.lrGrid)
      // stored ROUNDED (1e-9): every downstream comparison (epsilon gate,
      // champion maxBy, AICc per-class pick) is tie-sensitive, and an AUC
      // moves by ULPs when the input is partitioned differently
      es.zip(scores).map { case (e, s) => Canon.key(e) -> math.rint(s.head.auc * 1e9) / 1e9 }
    }
    // parents whose AUC participates in the LR gain: the group KEY of a
    // GroupByThen is not a feature, and a categorical raw column (a one-hot
    // child) cannot be LR-fitted — both are excluded from gain baselines
    def lrGainParents(e: FeatureExpr): Seq[FeatureExpr] = {
      val ps = e match {
        case GroupByThenE(_, v, _) => Seq(v)
        case other                 => parentsOf(other)
      }
      ps.filter(p => profileOf(p, profiles).forall(_.isNumeric))
    }
    def lrRescore(startIdx: Int, cost: Int): Unit = {
      val layerNew = (startIdx until survivors.size)
        .map(i => i -> survivors(i)).filter { case (_, s) => s.passed && !s.inherited }
      if (layerNew.isEmpty) return
      val top = layerNew.sortBy { case (_, s) => (-s.score, s.key) }.take(cfg.lrTopK)
      val need = (top.map(_._2.expr) ++ top.flatMap(t => lrGainParents(t._2.expr)))
        .distinctBy(Canon.key).filterNot(e => lrScores.contains(Canon.key(e)))
      lrScores ++= lrAucBatch(need)
      top.foreach { case (i, s) =>
        val auc = lrScores(s.key)
        val parentAuc = lrGainParents(s.expr).flatMap(p => lrScores.get(Canon.key(p)))
          .maxOption.getOrElse(0.5)
        val pass = Cdfc.isRawOrOneHot(s.expr) || auc - parentAuc > cfg.epsilon
        survivors(i) = s.copy(score = auc, passed = pass)
        if (!pass)
          byComplexity(cost) = byComplexity(cost).filterNot(ee => Canon.key(ee) == s.key)
      }
    }

    def evaluate(candidates: Seq[FeatureExpr], cost: Int): Unit = {
      if (candidates.isEmpty) return
      val startIdx = survivors.size
      // affine-invariance skip rule (`run_evaluation.py:313-330`): -x, a+b,
      // a-b inherit the best parent score without evaluation
      val (inherit, toEval) = candidates.partition {
        case Unary(UnaryOp.Minus, _)                  => true
        case BinaryE(BinOp.Add | BinOp.Sub, _, _)     => true
        case _                                        => false
      }
      fit = Fitter.fit(df, toEval ++ inherit, known = fit, label = Some(label))

      toEval.grouped(cfg.batchSize).foreach { batch =>
        val named = batch.map(e => Lower.alias(e) -> e)
        val cols = LayerBuilder.columns(df, named, fit)
        // raw columns already have their profile from the layer-1 pass
        // (`rawProfiles`); MIScorer profiles the others (runtime bin bounds,
        // not analytic ones: those are conservative and would skew the bins)
        val known = named.collect { case (n, RawCol(c)) if rawProfiles.contains(c) =>
          n -> rawProfiles(c) }.toMap
        val stats = MIScorer.scoreBatch(df, cols, label, cfg.bins, known)
        named.foreach { case (n, e) =>
          val st = stats(n)
          val k = Canon.key(e)
          seen += k
          profiles(k) = st.profile.copy(name = k)
          val isConstant = st.profile.distinct <= 1
          val isDup = fingerprints.contains(st.fingerprint)
          if (!isConstant && !isDup) {
            fingerprints += st.fingerprint
            scores(k) = st.mi
            val gain = st.mi - maxParentScore(e)
            val passed = Cdfc.isRawOrOneHot(e) || gain > cfg.epsilon
            if (passed) {
              survivors += Scored(e, k, cost, st.mi, passed = true, inherited = false)
              byComplexity(cost) = byComplexity(cost) :+ e
            }
          }
        }
      }

      inherit.foreach { e =>
        val k = Canon.key(e)
        seen += k
        val s = maxParentScore(e)
        scores(k) = s
        // inherited candidates stay in the pool but cannot pass the epsilon
        // gate themselves (gain 0); reference keeps them for composition
        byComplexity(cost) = byComplexity(cost) :+ e
        survivors += Scored(e, k, cost, s, passed = false, inherited = true)
      }

      if (cfg.lrTopK > 0) lrRescore(startIdx, cost)
    }

    // ---- checkpoint hooks --------------------------------------------
    def toRow(s: Scored): SurvivorRow =
      SurvivorRow(s.complexity, s.key, s.score, s.complexity, s.passed, s.inherited)
    // the input's per-partition row counts, counted once per run: every
    // layer's manifest carries the same lineage
    lazy val lineage = Checkpoint.partitionRows(df)
    def commitLayer(layer: Int, newRows: Seq[Scored], t0: Long): Unit =
      checkpointDir.foreach { d =>
        Checkpoint.save(d, SearchState(layer, seen.toSet, fingerprints.toSet,
            scores.toMap, survivors.map(toRow).toSeq, fit, profiles.toMap, lrScores.toMap,
            layerLog.toSeq),
          newRows.map(toRow), (System.nanoTime() - t0) / 1000000L, lineage)
      }
    val restored = checkpointDir.flatMap(d => Checkpoint.load(d, cfg.cMax))
    restored.foreach { st =>
      seen ++= st.seen; fingerprints ++= st.fingerprints; scores ++= st.scores
      fit = st.fit; profiles ++= st.profiles; lrScores ++= st.lrAuc
      layerLog ++= st.layers
      st.survivors.foreach { r =>
        val e = FeatureExprParser.parse(r.expr)
        survivors += Scored(e, r.expr, r.complexity, r.score, r.passed, r.inherited)
        // pool membership mirrors the fresh run: passed candidates and
        // inherited (affine) ones compose further; an LR-rejected survivor
        // (passed=false, not inherited) was REMOVED from the pool by
        // lrRescore and must stay out after a resume too
        if (r.passed || r.inherited)
          byComplexity(r.complexity) = byComplexity(r.complexity) :+ e
      }
    }

    // harmonic-mean auto-stop machinery (reference `:266-318`, over the
    // cumulative per-complexity candidate buckets = our survivor pool)
    def accuracyScore(score: Double, upTo: Int): Double = {
      val pool = survivors.filter(_.complexity <= upTo)
      if (pool.isEmpty) 0.0 else pool.count(_.score <= score).toDouble / pool.size
    }
    def simplicityScore(comp: Int, upTo: Int): Double = {
      val pool = survivors.filter(_.complexity <= upTo)
      if (pool.isEmpty) 0.0 else pool.count(_.complexity >= comp).toDouble / pool.size
    }

    // champion channel: with the LR stage on, the champion is the best
    // LR-SCORED candidate by AUC (the LR set = each layer's top-K + their
    // gain parents) — an AUC is never compared against an MI value, which
    // would let a non-rescored or inherited candidate win on the wrong
    // scale. Without LR, it is the best MI survivor as before.
    def champion: Option[Scored] =
      if (cfg.lrTopK > 0)
        survivors.flatMap(s => lrScores.get(s.key).map(a => s.copy(score = a)))
          .maxByOption(s => (s.score, s.key))
      else survivors.maxByOption(_.score)

    // ---- layer loop --------------------------------------------------
    if (restored.isEmpty) {
      val t0 = System.nanoTime()
      evaluate(layer1, 1)
      commitLayer(1, survivors.toSeq, t0)
    }
    var best = champion
    var nonImproving = 0
    // champion (global best) snapshot after each layer, for harmonic stop
    val bestAfterLayer = collection.mutable.HashMap[Int, Scored]()
    best.foreach(b => bestAfterLayer(1) = b)
    // on resume, reconstruct per-layer champions from the restored
    // survivors (champion after layer L = best score at complexity <= L) so
    // the harmonic-stop decision after resume matches a fresh run
    restored.foreach { st =>
      (1 to st.layer).foreach { l =>
        survivors.filter(_.complexity <= l).maxByOption(_.score)
          .foreach(b => bestAfterLayer(l) = b)
      }
    }
    var harmonicStopHit = false
    var layer = restored.map(_.layer + 1).getOrElse(2)
    while (layer <= cfg.cMax && nonImproving < cfg.stopAfterNonImproving && !harmonicStopHit) {
      val t0 = System.nanoTime()
      val enumerated = enumerateLayer(layer, oneHots)
      val freshAll = enumerated.filter { e =>
        val k = Canon.key(e)
        !Canon.isConstant(e) && !seen.contains(k) && Applicability.applicable(e, profiles)
      }.distinctBy(Canon.key)
      // width cap: never a silent enumeration-order truncation — overflow is
      // ordered deterministically by best-parent score (promising parents
      // first, canonical key as the tie-break), and the drop is counted in
      // the layer log and announced
      val fresh =
        if (freshAll.size <= cfg.maxLayerWidth) freshAll
        else freshAll.sortBy(e => (-maxParentScore(e), Canon.key(e))).take(cfg.maxLayerWidth)
      val dropped = freshAll.size - fresh.size
      if (dropped > 0)
        System.err.println(s"[cdfc] layer $layer: maxLayerWidth=${cfg.maxLayerWidth} " +
          s"dropped $dropped of ${freshAll.size} candidates (kept top by parent score)")
      val survivedBefore = survivors.size
      evaluate(fresh, layer)
      layerLog += LayerLog(layer, enumerated.size, survivors.size - survivedBefore, dropped)
      commitLayer(layer, survivors.drop(survivedBefore).toSeq, t0)
      val newBest = champion
      if (newBest.map(_.score) == best.map(_.score)) nonImproving += 1
      else { nonImproving = 0; best = newBest }
      newBest.foreach(b => bestAfterLayer(layer) = b)
      if (cfg.harmonicStop && layer > 2) {
        val hms = (0 to 2).map { hI =>
          bestAfterLayer.get(layer - hI).map { ch =>
            Traversals.harmonicMean(
              simplicityScore(ch.complexity, layer),
              accuracyScore(ch.score, layer))
          }.getOrElse(0.0)
        }
        // hms(2) = champion two layers back; dominance => stop
        if (hms(2) >= hms(1) && hms(2) >= hms(0)) harmonicStopHit = true
      }
      layer += 1
    }

    val b = best.getOrElse(throw new IllegalStateException("no candidate survived"))
    CdfcResult(b, survivors.toSeq, layerLog.toSeq, fit, lrScores.toMap)
  }
}

object Cdfc {
  /** Raw columns and one-hots always pass the epsilon gate
    * (`run_evaluation.py:370`). */
  private def isRawOrOneHot(e: FeatureExpr): Boolean = e match {
    case RawCol(_) | Unary(UnaryOp.EqualsStr(_), _) => true
    case _                                          => false
  }

  /** Layer enumeration, exposed for direct testing: all candidates of
    * exactly `cost` nodes from the per-complexity pools.
    */
  def enumerate(
      cost: Int,
      byComplexity: Int => Vector[FeatureExpr],
      oneHots: Seq[FeatureExpr],
      groupKeys: Seq[String],
      cfg: CdfcConfig): Seq[FeatureExpr] = {
      val unary = byComplexity(cost - 1).flatMap(p =>
        cfg.unaryOps.map(op => Unary(op, p)))
      val oh = if (cost == 2) oneHots else Seq.empty
      val binary = for {
        p <- 1 to (cost - 1) / 2
        l <- byComplexity(p)
        r <- byComplexity(cost - 1 - p)
        op <- cfg.binaryOps
        // non-commutative ops need both operand orders (the reference's
        // generate_merge enumerates ordered pairs, order_matters); when the
        // complexity split is symmetric (p == cost-1-p) both orders already
        // arise from the double iteration, so only the asymmetric split
        // emits the reversed pair here. l==r non-commutative (x-x, x/x) is
        // constant and skipped.
        cand <- {
          val fwd = if (p == cost - 1 - p && l == r && !op.commutative) Nil
                    else Seq(BinaryE(op, l, r))
          val rev = if (!op.commutative && p != cost - 1 - p) Seq(BinaryE(op, r, l))
                    else Nil
          fwd ++ rev
        }
      } yield cand
      val gbt = for {
        p <- 1 until cost - 1
        v <- byComplexity(p)
        k <- groupKeys
        agg <- cfg.groupByAggs
        if v.complexity + 1 + 1 == cost
      } yield GroupByThenE(agg, v, RawCol(k))
      unary ++ oh ++ binary ++ gbt
    }
}
