package graft.search

import graft.exprs._
import graft.profile.{ColumnProfile, Profiler}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's traversal family beside the CDFC lattice: each round
  * pops one node off a frontier of evaluated-but-unexpanded
  * representations, expands it (unary ops of the node + binary combinations
  * with the raw features, canonical-dedup'd, pruned by
  * [[Applicability.applicable]]), scores the children in one batched job,
  * and pushes them onto the frontier.
  *
  * The three reference traversals differ only in the pop rule:
  *  - [[PopRule.Greedy]]: Cognito's depth-first descent
  *    (`candidate_generation/TreeGenerator.py:23-258`,
  *    `feature_selection/DepthFirstCognito.py`) — the frontier is only the
  *    last expansion's children; pop the best child, and stop when it does
  *    not beat the best popped so far;
  *  - [[PopRule.BestScore]]: pop the frontier's max raw score
  *    (`GlobalTraversalCognito.py:430-436`);
  *  - [[PopRule.HarmonicMean]]: pop the max harmonic mean of two rank-based
  *    scores over everything seen so far — P(score <= current) and
  *    P(complexity >= current) (`HarmonicMeanTraversal.py:240-274`) — the
  *    accuracy/simplicity trade-off schedule.
  *
  * Scoring is the engine's batched MI gain oracle (one explode-agg job per
  * expansion, like CDFC); the driver loop holds only expression names and
  * scores.
  */
object Traversals {

  sealed trait PopRule
  object PopRule {
    case object Greedy extends PopRule
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

  /** @param maxRuns expansions: under `Greedy`, the depth of the path, whose
    *                last node (the best child of the last expansion, when it
    *                improves) is popped but not expanded
    */
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

    def score(cands: Seq[FeatureExpr]): Seq[Rep] = {
      if (cands.isEmpty) return Seq.empty
      fit = Fitter.fit(df, cands, known = fit, label = Some(label))
      val named = cands.map(e => Lower.alias(e) -> e)
      val st = MIScorer.scoreBatch(df, named.map { case (n, e) => n -> Lower.toColumn(e, fit) },
        label, bins, named.collect { case (n, RawCol(c)) => n -> rawProfiles(c) }.toMap)
      named.map { case (n, e) => Rep(e, st(n).mi, e.complexity) }
    }

    val frontier = collection.mutable.ArrayBuffer[Rep](score(raws): _*)
    val allSeen = collection.mutable.ArrayBuffer[Rep](frontier.toSeq: _*)
    val seenKeys = collection.mutable.HashSet(raws.map(Canon.key): _*)
    val popped = collection.mutable.ArrayBuffer[Rep]()
    // deterministic tie-break on the canonical key (the reference's
    // first-index argmax is list-order-dependent)
    val byScore = (r: Rep) => (r.score, Canon.key(r.expr))
    var best = frontier.maxBy(byScore)

    /** The rule's next node off the frontier; None stops the traversal. */
    def next(): Option[Rep] =
      if (frontier.isEmpty) None
      else rule match {
        case PopRule.Greedy =>
          Some(frontier.maxBy(byScore)).filter(r => popped.isEmpty || r.score > best.score)
        case PopRule.BestScore => Some(frontier.maxBy(byScore))
        case PopRule.HarmonicMean =>
          val snapshot = allSeen.toSeq
          Some(frontier.maxBy(r => (hScore(r, snapshot), Canon.key(r.expr))))
      }
    def pop(r: Rep): Unit = {
      frontier -= r
      popped += r
      if (r.score > best.score) best = r
    }

    var runs = 0
    var pick = next()
    while (runs < maxRuns && pick.nonEmpty) {
      val p = pick.get
      pop(p)
      val children = (
        unaryOps.map(op => Unary(op, p.expr)) ++
          (for (r <- raws; op <- binaryOps) yield BinaryE(op, p.expr, r)) ++
          (for (r <- raws; op <- binaryOps if !op.commutative) yield BinaryE(op, r, p.expr))
        ).filter(Applicability.applicable(_, profiles))
        .map(Canon.canon)
        .filterNot(Canon.isConstant)
        .distinctBy(Canon.key)
        .filterNot(e => seenKeys.contains(Canon.key(e)))
      seenKeys ++= children.map(Canon.key)
      val childReps = score(children)
      if (rule == PopRule.Greedy) frontier.clear()
      frontier ++= childReps
      allSeen ++= childReps
      runs += 1
      pick = next()
    }
    // the greedy path ends on the last expansion's improving best child
    // (Cognito's depth limit stops the descent after it is taken)
    if (rule == PopRule.Greedy) pick.foreach(pop)
    TraversalResult(best, popped.toSeq, allSeen.toSeq)
  }
}
