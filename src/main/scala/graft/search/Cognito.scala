package graft.search

import graft.exprs._
import graft.profile.{ColumnProfile, Profiler}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cognito-style greedy tree traversal (the reference's third generator
  * family, `candidate_generation/TreeGenerator.py:23-258`): depth-first
  * descent — at each step expand the current champion expression with every
  * unary op and every binary combination with a raw feature, score the
  * children (one batched MI job), and descend into the best child while it
  * improves. The cheap depth-first alternative to the CDFC lattice; shares
  * Canon/Fitter/Lower/MIScorer.
  */
object Cognito {

  final case class CogStep(expr: FeatureExpr, mi: Double, depth: Int)

  def run(
      df: DataFrame,
      rawNumeric: Seq[String],
      label: Column,
      maxDepth: Int = 4,
      unaryOps: Seq[UnaryOp] = Seq(UnaryOp.Log, UnaryOp.Sqrt, UnaryOp.Square, UnaryOp.MinMax),
      binaryOps: Seq[BinOp] = Seq(BinOp.Add, BinOp.Mul),
      bins: Int = 10): Seq[CogStep] = {
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
      // a composition's guard reads its derived profile (Log over a
      // negative-domain product is pruned, as the reference's
      // `is_applicable` does, not scored on Spark's null for x <= 0)
      Applicability.profileOf(e, profiles).forall(p => Applicability.isApplicable(op, p))

    // root: best raw feature
    val rootScores = score(raws)
    var champion = raws.maxBy(e => (rootScores(Canon.key(e)), Canon.key(e)))
    var champMi = rootScores(Canon.key(champion))
    val path = collection.mutable.ArrayBuffer(CogStep(champion, champMi, 0))
    val seen = collection.mutable.HashSet(raws.map(Canon.key): _*)

    var depth = 1
    var improving = true
    while (depth <= maxDepth && improving) {
      val children = (
        unaryOps.filter(applicableUnary(_, champion)).map(op => Unary(op, champion)) ++
          (for (r <- raws; op <- binaryOps) yield BinaryE(op, champion, r))
        ).map(Canon.canon)
        .filterNot(Canon.isConstant)
        .distinctBy(Canon.key)
        .filterNot(e => seen.contains(Canon.key(e)))
      seen ++= children.map(Canon.key)
      val scores = score(children)
      val bestChild = children
        .map(e => e -> scores(Canon.key(e)))
        .sortBy { case (e, mi) => (-mi, Canon.key(e)) }
        .headOption
      bestChild match {
        case Some((e, mi)) if mi > champMi =>
          champion = e; champMi = mi
          path += CogStep(e, mi, depth)
          depth += 1
        case _ => improving = false
      }
    }
    path.toSeq
  }
}
