package graft.search

import graft.exprs._
import graft.profile.{ColumnProfile, Profiler}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ExploreKit-style ONE-SHOT candidate generation (the reference's
  * alternative traversal, `candidate_generation/explorekit/Generator.py:
  * 17-156`): instead of the CDFC layered lattice, generate the whole
  * candidate space in one pass —
  *
  *   Fui  = unary(Fi)                    (discretize-10, minmax)
  *   Foi  = binary(Fi ∪ Fui)             (add, mul; div, sub; GroupByThen
  *                                        max/min/mean/std)
  *   Foui = unary(Foi)
  *
  * then score Fui ∪ Foi ∪ Foui in batched MI jobs and keep the top k.
  * All operator code (Canon, Fitter, Lower, MIScorer) is shared with the
  * CDFC search; only the traversal differs.
  *
  * Deviation: Div requires a no-zero denominator (the reference divides
  * blindly and carries inf/nan downstream; Spark would bin infinities and
  * DuckDB nulls x/0, so the guard keeps results engine-portable — it is
  * [[Applicability.applicable]], the rule the CDFC search applies to
  * OneDivision; a Fui denominator's derived profile has a zero).
  */
object ExploreKit {

  final case class EkConfig(
      unaryOps: Seq[UnaryOp] = Seq(UnaryOp.DiscretizeEW(10), UnaryOp.MinMax),
      commutativeOps: Seq[BinOp] = Seq(BinOp.Add, BinOp.Mul),
      nonCommutativeOps: Seq[BinOp] = Seq(BinOp.Div, BinOp.Sub),
      groupByAggs: Seq[AggKind] = Seq(AggKind.Max, AggKind.Min, AggKind.Mean, AggKind.Std),
      maxCandidates: Int = 256,
      batchSize: Int = 64,
      bins: Int = 10)

  /** The one-shot candidate space, canonicalized and deduped (generation
    * order preserved so a cap keeps the reference's Fui-first precedence).
    */
  def generate(
      rawNumeric: Seq[String],
      groupKeys: Seq[String],
      profiles: Map[String, ColumnProfile],
      cfg: EkConfig = EkConfig()): Seq[FeatureExpr] = {
    val fi: Seq[FeatureExpr] = rawNumeric.map(RawCol(_))
    val known = collection.mutable.HashMap[String, ColumnProfile]() ++= profiles
    def unary(fs: Seq[FeatureExpr]): Seq[FeatureExpr] =
      for (f <- fs; op <- cfg.unaryOps) yield Unary(op, f)
    val fui = unary(fi)
    val base = fi ++ fui
    // stage-wise cap: the pair space is O(|base|^2) — materializing it all
    // driver-side before a final take() would blow the driver for wide
    // inputs; each stage is lazily capped at the candidate budget instead
    // (generation order preserved, so the cap keeps Fui-first precedence)
    val cap = cfg.maxCandidates
    val comm = (for {
      (l, i) <- base.iterator.zipWithIndex; r <- base.drop(i + 1).iterator
      op <- cfg.commutativeOps.iterator
    } yield BinaryE(op, l, r)).take(cap).toSeq
    val noncomm = (for {
      l <- base.iterator; r <- base.iterator if l != r
      op <- cfg.nonCommutativeOps.iterator
      cand = BinaryE(op, l, r)
      if op != BinOp.Div || Applicability.applicable(cand, known)
    } yield cand).take(cap).toSeq
    val gbt = (for {
      v <- base.iterator; k <- groupKeys.iterator; agg <- cfg.groupByAggs.iterator
    } yield GroupByThenE(agg, v, RawCol(k))).take(cap).toSeq
    val foi = comm ++ noncomm ++ gbt
    val foui = unary(foi).take(cap)
    (fui ++ foi ++ foui)
      .map(Canon.canon)
      .filterNot(Canon.isConstant)
      .distinctBy(Canon.key)
      .take(cap)
  }

  final case class EkScored(expr: FeatureExpr, key: String, mi: Double)

  /** Generate + fit + MI-score in batched jobs; returns the top-k by
    * (mi desc, canonical key asc) plus the fitted stats for transforming.
    */
  def run(
      df: DataFrame,
      rawNumeric: Seq[String],
      groupKeys: Seq[String],
      label: Column,
      k: Int = 8,
      cfg: EkConfig = EkConfig()): (Seq[EkScored], FitStats) = {
    val rawProfiles = Profiler.profile(df, rawNumeric.map(n => n -> col(n)))
    val cands = generate(rawNumeric, groupKeys, rawProfiles, cfg)
    val fit = Fitter.fit(df, cands, label = Some(label))
    val seenFp = collection.mutable.HashSet[Long]()
    val scored = collection.mutable.ArrayBuffer[EkScored]()
    cands.grouped(cfg.batchSize).foreach { batch =>
      val named = batch.map(e => Lower.alias(e) -> e)
      // materialize the batch's candidate columns ONCE (deep one-shot exprs
      // overflow whole-stage codegen; evaluating them twice — profile pass
      // + score pass — doubled the interpreted cost), then aggregate over
      // plain columns of the snapshot
      val mat = FeatureConstructor.snapshot(df.select(
        named.map { case (n, e) => Lower.toColumn(e, fit).cast("double").as(n) } :+
          label.cast("int").as("__y"): _*))
      val stats = MIScorer.scoreBatch(mat, named.map { case (n, _) => n -> col(n) },
        col("__y"), cfg.bins)
      named.foreach { case (n, e) =>
        val st = stats(n)
        if (st.profile.distinct > 1 && seenFp.add(st.fingerprint))
          scored += EkScored(e, Canon.key(e), st.mi)
      }
    }
    (scored.sortBy(s => (-s.mi, s.key)).take(k).toSeq, fit)
  }
}
