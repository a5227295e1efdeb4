package graft.search

import graft.exprs._
import graft.profile.{ColumnProfile, Profiler}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Global best-first traversals — the reference's remaining traversal
  * family (`feature_selection/GlobalTraversalCognito.py:423-507`,
  * `HarmonicMeanTraversal.py:240-274,395-470`): instead of the greedy
  * single-path descent ([[Cognito]]), a FRONTIER of every evaluated-but-
  * unexpanded representation is kept, and each round pops one node, expands
  * it (unary ops of the node + binary combinations with the raw features,
  * canonical-dedup'd), scores the children in one batched job, and pushes
  * them back onto the frontier.
  *
  * The two reference variants differ only in the pop rule:
  *  - [[PopRule.BestScore]]: pop the frontier's max raw score
  *    (`GlobalTraversalCognito.py:430-436`);
  *  - [[PopRule.HarmonicMean]]: pop the max harmonic mean of two rank-based
  *    scores over everything seen so far — P(score <= current) and
  *    P(complexity >= current) (`HarmonicMeanTraversal.py:240-274`) — the
  *    accuracy/simplicity trade-off schedule.
  *
  * Scoring is the engine's batched MI gain oracle (one explode-agg job per
  * expansion, like [[Cognito]]/CDFC); the driver loop holds only expression
  * names and scores.
  */
object Traversals {

  sealed trait PopRule
  object PopRule {
    case object BestScore extends PopRule
    case object HarmonicMean extends PopRule
  }

  final case class Rep(expr: FeatureExpr, score: Double, complexity: Int)
  final case class TraversalResult(best: Rep, popped: Seq[Rep], seen: Seq[Rep])

  /** P(score <= current) over everything seen (`HarmonicMeanTraversal.py:246-255`). */
  def accuracyScore(current: Rep, allSeen: Seq[Rep]): Double =
    allSeen.count(_.score <= current.score).toDouble / allSeen.size

  /** P(complexity >= current) over everything seen (`HarmonicMeanTraversal.py:258-265`). */
  def simplicityScore(current: Rep, allSeen: Seq[Rep]): Double =
    allSeen.count(_.complexity >= current.complexity).toDouble / allSeen.size

  def harmonicMean(a: Double, b: Double): Double =
    if (a + b == 0.0) 0.0 else (2 * a * b) / (a + b)

  def hScore(current: Rep, allSeen: Seq[Rep]): Double =
    harmonicMean(simplicityScore(current, allSeen), accuracyScore(current, allSeen))

  def run(
      df: DataFrame,
      rawNumeric: Seq[String],
      label: Column,
      rule: PopRule,
      maxRuns: Int = 8,
      unaryOps: Seq[UnaryOp] = Seq(UnaryOp.Log, UnaryOp.Sqrt, UnaryOp.Square, UnaryOp.MinMax),
      binaryOps: Seq[BinOp] = Seq(BinOp.Add, BinOp.Mul),
      bins: Int = 10): TraversalResult = {
    val raws: Seq[FeatureExpr] = rawNumeric.map(RawCol(_))
    val rawProfiles = Profiler.profile(df, rawNumeric.map(n => n -> col(n)))
    val profiles = collection.mutable.HashMap[String, ColumnProfile]() ++= rawProfiles
    var fit = FitStats.empty

    def score(cands: Seq[FeatureExpr]): Map[String, Double] = {
      if (cands.isEmpty) return Map.empty
      fit = Fitter.fit(df, cands, known = fit, label = Some(label))
      val named = cands.map(e => Lower.alias(e) -> e)
      val st = MIScorer.scoreBatch(df, named.map { case (n, e) => n -> Lower.toColumn(e, fit) },
        label, bins, named.collect { case (n, RawCol(c)) => n -> rawProfiles(c) }.toMap)
      named.map { case (n, e) => Canon.key(e) -> st(n).mi }.toMap
    }

    def applicableUnary(op: UnaryOp, e: FeatureExpr): Boolean =
      // default to applicable only when no profile is derivable at all
      Applicability.profileOf(e, profiles).forall(p => Applicability.isApplicable(op, p))

    val rootScores = score(raws)
    val frontier = collection.mutable.ArrayBuffer[Rep](
      raws.map(e => Rep(e, rootScores(Canon.key(e)), e.complexity)): _*)
    val allSeen = collection.mutable.ArrayBuffer[Rep](frontier.toSeq: _*)
    val seenKeys = collection.mutable.HashSet(raws.map(Canon.key): _*)
    val popped = collection.mutable.ArrayBuffer[Rep]()
    var best = frontier.maxBy(r => (r.score, Canon.key(r.expr)))

    var runs = 0
    while (runs < maxRuns && frontier.nonEmpty) {
      val pick = rule match {
        case PopRule.BestScore =>
          // deterministic tie-break on the canonical key (the reference's
          // first-index argmax is list-order-dependent)
          frontier.maxBy(r => (r.score, Canon.key(r.expr)))
        case PopRule.HarmonicMean =>
          val snapshot = allSeen.toSeq
          frontier.maxBy(r => (hScore(r, snapshot), Canon.key(r.expr)))
      }
      frontier -= pick
      popped += pick
      if (pick.score > best.score) best = pick

      val children = (
        unaryOps.filter(applicableUnary(_, pick.expr)).map(op => Unary(op, pick.expr)) ++
          (for (r <- raws; op <- binaryOps) yield BinaryE(op, pick.expr, r)) ++
          (for (r <- raws; op <- binaryOps if !op.commutative) yield BinaryE(op, r, pick.expr))
        ).map(Canon.canon)
        .filterNot(Canon.isConstant)
        .distinctBy(Canon.key)
        .filterNot(e => seenKeys.contains(Canon.key(e)))
      seenKeys ++= children.map(Canon.key)
      val scores = score(children)
      val childReps = children.map(e => Rep(e, scores(Canon.key(e)), e.complexity))
      frontier ++= childReps
      allSeen ++= childReps
      runs += 1
    }
    TraversalResult(best, popped.toSeq, allSeen.toSeq)
  }
}
