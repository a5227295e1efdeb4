package graft.exprs

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fitted statistics for fit-requiring nodes, keyed by the node's canonical
  * key ([[Canon.key]]). Every "fit" in the reference is an aggregation
  * (min/max/mean/std/quantiles/mode — e.g. `MinMaxScalingTransformation.py:
  * 21-26`); we compute them as Spark aggregations over the fit scope and
  * embed the resulting scalars as literals in the transform expression —
  * pure, deterministic, broadcast-free.
  */
final case class FitStats(m: Map[String, IndexedSeq[Double]]) {
  def apply(key: String): IndexedSeq[Double] = m(key)
  def get(key: String): Option[IndexedSeq[Double]] = m.get(key)
  def ++(o: FitStats): FitStats = FitStats(m ++ o.m)
}
object FitStats { val empty: FitStats = FitStats(Map.empty) }

/** Lowers a [[FeatureExpr]] to a Catalyst `Column`. All scalar ops stay
  * inside whole-stage codegen (built-in functions only, no UDFs); GroupByThen
  * lowers to an unordered window over the key partition for all nine
  * aggregates, exact median included (one shuffle shared by every
  * GroupByThen of a layer with the same key; a null key is one partition).
  * Callers outside the fit go through [[graft.search.LayerBuilder.columns]],
  * which canonicalizes first.
  *
  * Null semantics: strict SQL null propagation. The reference's nan-aware
  * ops (`nansum` etc.) only matter for parents with missing values, which
  * the applicability guards exclude (`LogTransformation.py:16-26` et al.);
  * imputation is the sanctioned path to remove missingness first.
  */
object Lower {

  def toColumn(e: FeatureExpr, fit: FitStats = FitStats.empty,
      raw: String => Column = col): Column = e match {
    case RawCol(n)   => raw(n)
    case ConstOne    => lit(1.0)
    case ConstVal(v) => lit(v)
    case ConcatE(_)  =>
      throw new IllegalArgumentException(
        "ConcatE is a multi-column representation; lower each child separately")

    case Unary(op, c0) =>
      val c = toColumn(c0, fit, raw)
      def stats: IndexedSeq[Double] = fit(Canon.key(e))
      op match {
        case UnaryOp.Minus   => -c
        case UnaryOp.Inv     => lit(1.0) / c
        case UnaryOp.Log     => log(c)
        case UnaryOp.Sqrt    => sqrt(c)
        case UnaryOp.Square  => c * c
        case UnaryOp.Abs     => abs(c)
        case UnaryOp.Rint    => bround(c, 0) // numpy rint: round half to even
        case UnaryOp.Exp     => exp(c)
        case UnaryOp.Sin     => sin(c)
        case UnaryOp.Cos     => cos(c)
        case UnaryOp.Tan     => tan(c)
        case UnaryOp.Sinh    => sinh(c)
        case UnaryOp.Cosh    => cosh(c)
        case UnaryOp.Tanh    => tanh(c)
        case UnaryOp.Degrees => degrees(c)
        case UnaryOp.Radians => radians(c)
        case UnaryOp.Sigmoid => lit(1.0) / (lit(1.0) + exp(-c))
        case UnaryOp.MinMax =>
          val Seq(lo, hi) = stats.take(2).toSeq
          if (hi == lo) lit(0.0) else (c - lit(lo)) / lit(hi - lo)
        case UnaryOp.StdScale | UnaryOp.ZScore =>
          val Seq(mu, sd) = stats.take(2).toSeq
          if (sd == 0.0 || sd.isNaN) lit(0.0) else (c - lit(mu)) / lit(sd)
        case UnaryOp.MDLP =>
          graft.search.Mdlp.binColumn(c, stats)
        case UnaryOp.DiscretizeEW(b) =>
          val Seq(lo, hi) = stats.take(2).toSeq
          val w = (hi - lo) / b
          // pd.cut semantics: right-closed bins, labels 0..b-1, NaN -> -1
          val bin =
            if (w == 0.0) lit(0)
            else least(greatest(ceil((c - lit(lo)) / lit(w)).cast("int") - 1, lit(0)), lit(b - 1))
          when(c.isNull || isnan(c), -1).otherwise(bin)
        case UnaryOp.DiscretizeQ(b) =>
          // pd.qcut: right-closed at the interior quantile edges
          val edges = stats // b-1 interior edges
          val bin = edges.map(edg => when(c > lit(edg), 1).otherwise(0))
            .reduceLeft[Column](_ + _)
          when(c.isNull || isnan(c), -1).otherwise(bin)
        case UnaryOp.ImputeMean | UnaryOp.ImputeMedian | UnaryOp.ImputeMode =>
          coalesce(c, lit(stats.head))
        case UnaryOp.EqualsStr(v) =>
          coalesce((c === lit(v)).cast("int"), lit(0))
      }

    case BinaryE(op, l0, r0) =>
      val l = toColumn(l0, fit, raw); val r = toColumn(r0, fit, raw)
      op match {
        case BinOp.Add  => l + r
        case BinOp.Mul  => l * r
        case BinOp.Max2 => greatest(l, r)
        case BinOp.Min2 => least(l, r)
        case BinOp.Sub  => l - r
        case BinOp.Div  => l / r
        case BinOp.Pow  => pow(l, r)
      }

    case GroupByThenE(agg, v0, k0) =>
      val v = toColumn(v0, fit, raw); val k = toColumn(k0, fit, raw)
      val w = Window.partitionBy(k)
      agg match {
        case AggKind.Mean   => avg(v).over(w)
        case AggKind.Max    => max(v).over(w)
        case AggKind.Min    => min(v).over(w)
        case AggKind.Median => median(v).over(w)
        case AggKind.Std    => stddev_pop(v).over(w)  // np.nanstd: ddof=0
        case AggKind.Var    => var_pop(v).over(w)
        case AggKind.Count  => count(v).over(w).cast("double")
        case AggKind.Sum    => sum(v).over(w)
        case AggKind.Prod   => product(v).over(w)
      }
  }

  /** Columns a search layer selects: each candidate lowered + aliased by its
    * canonical key hash (stable, short, parquet-safe).
    */
  def alias(e: FeatureExpr): String =
    "f_" + java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(Canon.key(e)).toLong & 0xffffffffL)
}
