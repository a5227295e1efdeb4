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
  * The search state is one value, [[graft.checkpoint.Checkpoint.SearchState]],
  * and each layer is a step from state to state. A fresh run starts from
  * the empty state, a resumed run from the newest committed one, and both
  * take the same loop, which tests the stop rules before every layer after
  * the first: a resume skips every completed layer, the raw-column profile
  * pass and, past layer 2, the one-hot values job, and stops where the
  * fresh run stops. The pool derives from the state's survivors; the stop
  * rules and the result's `best` from the champion recorded per layer.
  *
  * Scale shape: per layer, one profile pass and one MI-score pass over
  * one wide select of all candidates (each a shuffle-free row pass: one
  * job, no exchange), then one batched LR re-score, plus the fit jobs of
  * the layer's fitted ops. Layer 1 scores from the raw-column profile
  * pass; layer 2 reads every categorical's one-hot values in one more
  * job; a checkpointed run counts its input lineage once; a layer commit
  * runs no job. Measured on the `search_lr` benchmark (cMax 2, AQE on,
  * traced seeds 7 and 108): 26 jobs per search — layer 1: profile 1, MI
  * 1, LR 6, lineage 1; layer 2: one-hot values 1, fits 8, profile 1, MI
  * 1, LR 6.
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
  import graft.checkpoint.Checkpoint.SearchState

  // NOTE on persisting the base: measured 4x SLOWER at sf0.1 (239s vs 55s
  // for the flagship search) — the columnar cache build + per-job decompress
  // costs more than replaying the short lineage at test scale. At 10^12
  // rows the caller should persist the base input itself; the search does
  // not force it.
  def run(): CdfcResult = {
    // the input's per-partition row counts, counted once per run: every
    // layer's manifest carries the same lineage
    lazy val lineage = Checkpoint.partitionRows(df)
    var st = checkpointDir.flatMap(d => Checkpoint.load(d, cfg.cMax)).getOrElse(SearchState.empty)
    // layer 1 runs whatever the stop rules say
    while (st.layer == 0 || !Cdfc.stops(st, cfg)) {
      val t0 = System.nanoTime()
      st = step(st)
      checkpointDir.foreach(d =>
        Checkpoint.save(d, st, (System.nanoTime() - t0) / 1000000L, lineage))
    }
    val best = st.champions(st.champions.size - 1 - Cdfc.nonImproving(st))
      .getOrElse(throw new IllegalStateException("no candidate survived"))
    CdfcResult(best, st.survivors, st.layers, st.fit, st.lrAuc)
  }

  /** Layer `st.layer + 1`: from the state committed after one layer to the
    * state after the next. Layer 1 profiles the raw columns and scores the
    * raw numerics; layer c > 1 enumerates from the pool (layer 2 adds the
    * raw categoricals' one-hots), filters and caps, then scores.
    */
  private def step(st: SearchState): SearchState = {
    val layer = st.layer + 1
    val next =
      if (layer == 1) {
        val raw = Profiler.profile(df,
          rawNumeric.map(n => n -> col(n)), rawCategorical.map(n => n -> col(n)))
        evaluate(st.copy(layer = 1, profiles = st.profiles ++ raw), rawNumeric.map(RawCol(_)))
      } else {
        // the pool of complexity c: survivors that passed the gate or were
        // inherited, in survivor order (reference buckets `cost_2_*`,
        // `ComplexityDrivenFeatureConstruction.py:572-589`); an LR-rejected
        // survivor does not compose further
        val pool = st.survivors.filter(s => s.passed || s.inherited).groupBy(_.complexity)
          .map { case (c, ss) => c -> ss.map(_.expr) }.withDefaultValue(Vector.empty)
        // one-hots: generated once from raw categoricals (OneHotGenerator),
        // complexity 2, always pass the gate (`run_evaluation.py:370`)
        val oneHots =
          if (layer != 2) Seq.empty
          else rawCategorical.zip(Profiler.distinctValues(df, rawCategorical.map(col), limit = 32))
            .flatMap { case (n, vs) => vs.map(v => Unary(UnaryOp.EqualsStr(v), RawCol(n))) }
        val enumerated = Cdfc.enumerate(layer, pool, oneHots, groupKeys, cfg)
        // the applicability rule memoizes the profiles it derives
        val known = collection.mutable.HashMap[String, ColumnProfile]() ++= st.profiles
        val freshAll = enumerated.filter { e =>
          val k = Canon.key(e)
          !Canon.isConstant(e) && !st.seen.contains(k) && Applicability.applicable(e, known)
        }.distinctBy(Canon.key)
        // width cap: never a silent enumeration-order truncation — overflow is
        // ordered deterministically by best-parent score (promising parents
        // first, canonical key as the tie-break), and the drop is counted in
        // the layer log and announced
        val fresh =
          if (freshAll.size <= cfg.maxLayerWidth) freshAll
          else freshAll.sortBy(e => (-Cdfc.maxParentScore(e, st.scores), Canon.key(e)))
            .take(cfg.maxLayerWidth)
        val dropped = freshAll.size - fresh.size
        if (dropped > 0)
          System.err.println(s"[cdfc] layer $layer: maxLayerWidth=${cfg.maxLayerWidth} " +
            s"dropped $dropped of ${freshAll.size} candidates (kept top by parent score)")
        val after = evaluate(st.copy(layer = layer, profiles = known.toMap), fresh)
        after.copy(layers = after.layers :+
          LayerLog(layer, enumerated.size, after.survivors.size - st.survivors.size, dropped))
      }
    next.copy(champions = next.champions :+ champion(next))
  }

  /** Scores `candidates` of complexity `st.layer` into `st`: MI-gated in
    * batches, the affine ones inherited, then (with `lrTopK > 0`) the
    * layer's top survivors re-scored by the LR oracle.
    */
  private def evaluate(st: SearchState, candidates: Seq[FeatureExpr]): SearchState = {
    if (candidates.isEmpty) return st
    val cost = st.layer
    var seen = st.seen
    var fingerprints = st.fingerprints
    var scores = st.scores
    var profiles = st.profiles
    var survivors = st.survivors
    // affine-invariance skip rule (`run_evaluation.py:313-330`): -x, a+b,
    // a-b inherit the best parent score without evaluation
    val (inherit, toEval) = candidates.partition {
      case Unary(UnaryOp.Minus, _)                  => true
      case BinaryE(BinOp.Add | BinOp.Sub, _, _)     => true
      case _                                        => false
    }
    val fit = Fitter.fit(df, toEval ++ inherit, known = st.fit, label = Some(label))

    toEval.grouped(cfg.batchSize).foreach { batch =>
      val named = batch.map(e => Lower.alias(e) -> e)
      val cols = LayerBuilder.columns(df, named, fit)
      // raw columns already have their profile from layer 1's raw-column
      // pass; MIScorer profiles the others (runtime bin bounds, not
      // analytic ones: those are conservative and would skew the bins)
      val known = named.collect { case (n, RawCol(c)) if st.profiles.contains(c) =>
        n -> st.profiles(c) }.toMap
      val stats = MIScorer.scoreBatch(df, cols, label, cfg.bins, known)
      named.foreach { case (n, e) =>
        val fs = stats(n)
        val k = Canon.key(e)
        seen += k
        profiles += k -> fs.profile.copy(name = k)
        val isConstant = fs.profile.distinct <= 1
        val isDup = fingerprints.contains(fs.fingerprint)
        if (!isConstant && !isDup) {
          fingerprints += fs.fingerprint
          scores += k -> fs.mi
          val gain = fs.mi - Cdfc.maxParentScore(e, scores)
          if (Cdfc.isRawOrOneHot(e) || gain > cfg.epsilon)
            survivors :+= Scored(e, k, cost, fs.mi, passed = true, inherited = false)
        }
      }
    }

    inherit.foreach { e =>
      val k = Canon.key(e)
      seen += k
      val s = Cdfc.maxParentScore(e, scores)
      scores += k -> s
      // inherited candidates stay in the pool but cannot pass the epsilon
      // gate themselves (gain 0); reference keeps them for composition
      survivors :+= Scored(e, k, cost, s, passed = false, inherited = true)
    }

    val scored = st.copy(seen = seen, fingerprints = fingerprints, scores = scores,
      survivors = survivors, fit = fit, profiles = profiles)
    if (cfg.lrTopK > 0) lrRescore(scored, st.survivors.size) else scored
  }

  // ---- exact LR oracle for the layer's top survivors ----------------
  // (two-stage: MI gates the lattice, CV-LR AUC re-scores and re-gates
  // the top-K survivors per layer; lrAuc memoizes candidate AND parent
  // AUCs so gains compare like with like)
  private lazy val dfLr = df.withColumn("__cdfc_label", label)

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
  private def lrAucBatch(es: Seq[FeatureExpr], fit: FitStats): Seq[(String, Double)] = {
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

  /** Re-scores the top-`lrTopK` passed survivors from index `startIdx` on
    * (the layer's new ones) by CV-LR AUC and re-gates them on AUC gain. */
  private def lrRescore(st: SearchState, startIdx: Int): SearchState = {
    val known = collection.mutable.HashMap[String, ColumnProfile]() ++= st.profiles
    // parents whose AUC participates in the LR gain: the group KEY of a
    // GroupByThen is not a feature, and a categorical raw column (a one-hot
    // child) cannot be LR-fitted — both are excluded from gain baselines
    def lrGainParents(e: FeatureExpr): Seq[FeatureExpr] = {
      val ps = e match {
        case GroupByThenE(_, v, _) => Seq(v)
        case other                 => Cdfc.parentsOf(other)
      }
      ps.filter(p => profileOf(p, known).forall(_.isNumeric))
    }
    val layerNew = (startIdx until st.survivors.size)
      .map(i => i -> st.survivors(i)).filter { case (_, s) => s.passed && !s.inherited }
    if (layerNew.isEmpty) return st
    val top = layerNew.sortBy { case (_, s) => (-s.score, s.key) }.take(cfg.lrTopK)
    val need = (top.map(_._2.expr) ++ top.flatMap(t => lrGainParents(t._2.expr)))
      .distinctBy(Canon.key).filterNot(e => st.lrAuc.contains(Canon.key(e)))
    val lrAuc = st.lrAuc ++ lrAucBatch(need, st.fit)
    val survivors = top.foldLeft(st.survivors) { case (ss, (i, s)) =>
      val auc = lrAuc(s.key)
      val parentAuc = lrGainParents(s.expr).flatMap(p => lrAuc.get(Canon.key(p)))
        .maxOption.getOrElse(0.5)
      ss.updated(i, s.copy(score = auc,
        passed = Cdfc.isRawOrOneHot(s.expr) || auc - parentAuc > cfg.epsilon))
    }
    st.copy(survivors = survivors, profiles = known.toMap, lrAuc = lrAuc)
  }

  // champion channel: with the LR stage on, the champion is the best
  // LR-SCORED candidate by AUC (the LR set = each layer's top-K + their
  // gain parents) — an AUC is never compared against an MI value, which
  // would let a non-rescored or inherited candidate win on the wrong
  // scale. Without LR, it is the best MI survivor as before.
  private def champion(st: SearchState): Option[Scored] =
    if (cfg.lrTopK > 0)
      st.survivors.flatMap(s => st.lrAuc.get(s.key).map(a => s.copy(score = a)))
        .maxByOption(s => (s.score, s.key))
    else st.survivors.maxByOption(_.score)
}

object Cdfc {
  import graft.checkpoint.Checkpoint.SearchState

  /** Raw columns and one-hots always pass the epsilon gate
    * (`run_evaluation.py:370`). */
  private def isRawOrOneHot(e: FeatureExpr): Boolean = e match {
    case RawCol(_) | Unary(UnaryOp.EqualsStr(_), _) => true
    case _                                          => false
  }

  private def parentsOf(e: FeatureExpr): Seq[FeatureExpr] = e match {
    case Unary(_, ch)          => Seq(ch)
    case BinaryE(_, l, r)      => Seq(l, r)
    case GroupByThenE(_, v, k) => Seq(v, k)
    case _                     => Seq.empty
  }

  private def maxParentScore(e: FeatureExpr, scores: Map[String, Double]): Double =
    parentsOf(e).flatMap(p => scores.get(Canon.key(p))).maxOption.getOrElse(0.0)

  /** Trailing layers whose champion score equals the previous layer's. */
  private def nonImproving(st: SearchState): Int = {
    val s = st.champions.map(_.map(_.score))
    s.zip(s.drop(1)).reverseIterator.takeWhile { case (a, b) => a == b }.size
  }

  /** The stop rules, tested on the state after layer `st.layer`: the layer
    * cap, `stopAfterNonImproving` non-improving layers, and the reference's
    * harmonic-mean auto-stop (`ComplexityDrivenFeatureConstruction.py:
    * 660-676`): after layer c > 2, stop when the champion two layers back
    * dominates both later champions in harmonic mean of simplicity and
    * accuracy over the survivor pool (`:266-318`).
    */
  private def stops(st: SearchState, cfg: CdfcConfig): Boolean =
    st.layer >= cfg.cMax || nonImproving(st) >= cfg.stopAfterNonImproving ||
      cfg.harmonicStop && st.layer > 2 && {
        val pool = st.survivors.map(s => Traversals.Rep(s.expr, s.score, s.complexity))
        val hms = st.champions.takeRight(3).map(_.fold(0.0)(ch =>
          Traversals.hScore(Traversals.Rep(ch.expr, ch.score, ch.complexity), pool)))
        // hms(0) = champion two layers back; dominance => stop
        hms(0) >= hms(1) && hms(0) >= hms(2)
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
