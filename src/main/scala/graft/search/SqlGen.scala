package graft.search

import graft.exprs._
import scala.collection.mutable

/** Renders a fitted feature forest as one DuckDB query — the independent
  * oracle for the flagship CDFC search output (`q_cdfc`).
  *
  * The SEARCH (which features get selected) is not SQL-expressible; the
  * TRANSFORM of the selected features is. The generator takes the model the
  * search produced — `(name, FeatureExpr)` pairs plus [[FitStats]] — and
  * emits SQL that recomputes every output value in DuckDB from the same
  * parquet:
  *
  *  - scalar ops render to their DuckDB equivalents (EXP-form hyperbolics —
  *    DuckDB 1.0 has no sinh/cosh/tanh);
  *  - GroupByThen recomputes as `agg(v) OVER (PARTITION BY k)` — the
  *    group aggregate itself is re-derived from data, not trusted;
  *  - fitted scalars (MinMax lo/hi, impute values, MDLP cuts) embed as
  *    literals via `Double.toString`, whose shortest round-trip decimal
  *    parses back to the identical bits in DuckDB. The fit aggregates are
  *    independently pinned by the q_unary/q_impute/q_discretize/q_mdlp_cuts
  *    oracles, which DO recompute them in SQL.
  *
  * Window nesting (a GroupByThen over a GroupByThen value) is handled by
  * layered CTEs: a fragment that already contains a window function is
  * materialized as a named column one CTE deeper before being used inside
  * another OVER clause.
  */
final class SqlGen {

  // columns to add at each CTE boundary: layers(i) are selected in CTE i+1
  private val layers = mutable.ArrayBuffer[mutable.ArrayBuffer[(String, String)]]()
  private var nextId = 0

  /** A SQL fragment valid at CTE level >= `level`; `windowed` marks text
    * containing an OVER clause (illegal inside another window's argument).
    */
  final case class Frag(sql: String, level: Int, windowed: Boolean)

  def dlit(v: Double): String =
    if (v.isNaN) "CAST('nan' AS DOUBLE)"
    else if (v == Double.PositiveInfinity) "CAST('inf' AS DOUBLE)"
    else if (v == Double.NegativeInfinity) "CAST('-inf' AS DOUBLE)"
    else s"CAST(${java.lang.Double.toString(v)} AS DOUBLE)"

  private def slit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Materialize a fragment as a plain column available at `level + 1`. */
  private def materialize(f: Frag): Frag = {
    while (layers.size <= f.level) layers += mutable.ArrayBuffer()
    val name = s"__n$nextId"; nextId += 1
    layers(f.level) += name -> f.sql
    Frag(name, f.level + 1, windowed = false)
  }

  /** Fragment safe to use as a window-function argument. */
  private def windowFree(f: Frag): Frag = if (f.windowed) materialize(f) else f

  def gen(e: FeatureExpr, fit: FitStats): Frag = e match {
    case RawCol(n)   => Frag(n, 0, windowed = false)
    case ConstOne    => Frag("1.0", 0, windowed = false)
    case ConstVal(v) => Frag(dlit(v), 0, windowed = false)
    case ConcatE(_)  => throw new IllegalArgumentException("ConcatE has no single-column SQL")

    case Unary(op, c0) =>
      val c = gen(c0, fit)
      val x = c.sql
      def stats: IndexedSeq[Double] = fit(Canon.key(e))
      val sql = op match {
        case UnaryOp.Minus   => s"(-($x))"
        case UnaryOp.Inv     => s"(1.0 / ($x))"
        case UnaryOp.Log     => s"LN($x)"
        case UnaryOp.Sqrt    => s"SQRT($x)"
        case UnaryOp.Square  => s"(($x) * ($x))"
        case UnaryOp.Abs     => s"ABS($x)"
        case UnaryOp.Rint    => s"roundbankers(CAST($x AS DOUBLE), 0)"
        case UnaryOp.Exp     => s"EXP($x)"
        case UnaryOp.Sin     => s"SIN($x)"
        case UnaryOp.Cos     => s"COS($x)"
        case UnaryOp.Tan     => s"TAN($x)"
        case UnaryOp.Sinh    => s"((EXP($x) - EXP(-($x))) / 2.0)"
        case UnaryOp.Cosh    => s"((EXP($x) + EXP(-($x))) / 2.0)"
        case UnaryOp.Tanh    => s"((EXP(2.0 * ($x)) - 1.0) / (EXP(2.0 * ($x)) + 1.0))"
        case UnaryOp.Degrees => s"DEGREES($x)"
        case UnaryOp.Radians => s"RADIANS($x)"
        case UnaryOp.Sigmoid => s"(1.0 / (1.0 + EXP(-($x))))"
        case UnaryOp.MinMax =>
          val Seq(lo, hi) = stats.take(2).toSeq
          if (hi == lo) "0.0" else s"((($x) - ${dlit(lo)}) / ${dlit(hi - lo)})"
        case UnaryOp.StdScale | UnaryOp.ZScore =>
          val Seq(mu, sd) = stats.take(2).toSeq
          if (sd == 0.0 || sd.isNaN) "0.0" else s"((($x) - ${dlit(mu)}) / ${dlit(sd)})"
        case UnaryOp.MDLP =>
          if (stats.isEmpty) "0"
          else {
            val bin = stats.map(cut => s"(CASE WHEN ($x) > ${dlit(cut)} THEN 1 ELSE 0 END)")
              .mkString("(", " + ", ")")
            s"(CASE WHEN ($x) IS NULL OR isnan(CAST($x AS DOUBLE)) THEN -1 ELSE $bin END)"
          }
        case UnaryOp.DiscretizeEW(b) =>
          val Seq(lo, hi) = stats.take(2).toSeq
          val w = (hi - lo) / b
          val bin =
            if (w == 0.0) "0"
            else s"LEAST(GREATEST(CAST(CEIL((($x) - ${dlit(lo)}) / ${dlit(w)}) AS INT) - 1, 0), ${b - 1})"
          s"(CASE WHEN ($x) IS NULL OR isnan(CAST($x AS DOUBLE)) THEN -1 ELSE $bin END)"
        case UnaryOp.DiscretizeQ(_) =>
          val bin = stats.map(edg => s"(CASE WHEN ($x) > ${dlit(edg)} THEN 1 ELSE 0 END)")
            .mkString("(", " + ", ")")
          s"(CASE WHEN ($x) IS NULL OR isnan(CAST($x AS DOUBLE)) THEN -1 ELSE $bin END)"
        case UnaryOp.ImputeMean | UnaryOp.ImputeMedian | UnaryOp.ImputeMode =>
          s"COALESCE($x, ${dlit(stats.head)})"
        case UnaryOp.EqualsStr(v) =>
          s"COALESCE(CAST(($x) = ${slit(v)} AS INT), 0)"
      }
      Frag(sql, c.level, c.windowed)

    case BinaryE(op, l0, r0) =>
      val l = gen(l0, fit); val r = gen(r0, fit)
      val lvl = math.max(l.level, r.level)
      val sql = op match {
        case BinOp.Add  => s"((${l.sql}) + (${r.sql}))"
        case BinOp.Mul  => s"((${l.sql}) * (${r.sql}))"
        case BinOp.Sub  => s"((${l.sql}) - (${r.sql}))"
        case BinOp.Div  => s"((${l.sql}) / (${r.sql}))"
        case BinOp.Pow  => s"POW(${l.sql}, ${r.sql})"
        case BinOp.Max2 => s"GREATEST(${l.sql}, ${r.sql})"
        case BinOp.Min2 => s"LEAST(${l.sql}, ${r.sql})"
      }
      Frag(sql, lvl, l.windowed || r.windowed)

    case GroupByThenE(agg, v0, k0) =>
      val v = windowFree(gen(v0, fit))
      val k = windowFree(gen(k0, fit))
      val lvl = math.max(v.level, k.level)
      val over = s"OVER (PARTITION BY ${k.sql})"
      val x = s"CAST(${v.sql} AS DOUBLE)"
      val sql = agg match {
        case AggKind.Mean   => s"AVG($x) $over"
        case AggKind.Max    => s"MAX($x) $over"
        case AggKind.Min    => s"MIN($x) $over"
        case AggKind.Median => s"MEDIAN($x) $over"
        case AggKind.Std    => s"STDDEV_POP($x) $over"
        case AggKind.Var    => s"VAR_POP($x) $over"
        case AggKind.Count  => s"CAST(COUNT($x) $over AS DOUBLE)"
        case AggKind.Sum    => s"SUM($x) $over"
        case AggKind.Prod   => s"PRODUCT($x) $over"
      }
      Frag(sql, lvl, windowed = true)
  }

  /** Full query: `withSql` supplies the WITH-clause body defining the level-0
    * relation `rel0`; each output feature is rounded with the portable 6-dp
    * formula and cast to double, matching the Spark side exactly.
    */
  def render(
      withSql: String,
      rel0: String,
      keyCols: Seq[String],
      feats: Seq[(String, FeatureExpr)],
      fit: FitStats): String = {
    val outs = feats.map { case (n, e) => n -> gen(e, fit) }
    val ctes = layers.zipWithIndex.map { case (cols, i) =>
      val src = if (i == 0) rel0 else s"__l$i"
      // a level can be empty when materializations skip depths (e.g. only
      // a depth-2 window was materialized) — emit a plain pass-through so
      // the numbered CTE chain stays contiguous and syntactically valid
      if (cols.isEmpty) s"__l${i + 1} AS (\n  SELECT * FROM $src)"
      else {
        val added = cols.map { case (n, sqlTxt) => s"$sqlTxt AS $n" }.mkString(",\n    ")
        s"__l${i + 1} AS (\n  SELECT *,\n    $added\n  FROM $src)"
      }
    }
    val lastRel = if (layers.isEmpty) rel0 else s"__l${layers.size}"
    val outCols = keyCols ++ outs.map { case (n, f) =>
      s"${PortableRound.sql6(s"CAST(${f.sql} AS DOUBLE)")} AS $n"
    }
    val cteBlock = (Seq(withSql) ++ ctes).mkString(",\n")
    s"WITH $cteBlock\nSELECT\n  ${outCols.mkString(",\n  ")}\nFROM $lastRel"
  }
}
