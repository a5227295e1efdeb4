package graft.exprs

import graft.profile.ColumnProfile

/** Property-based applicability pruning + analytic stat propagation — the
  * per-op `is_applicable(parents)` / `derive_properties` pair every reference
  * transformation implements (e.g. `LogTransformation.py:16-26` guards,
  * `MinusTransformation.py:28-44` propagation). These run driver-side on
  * [[ColumnProfile]]s, never touching data: a candidate rejected here costs
  * nothing.
  */
object Applicability {

  def isApplicable(op: UnaryOp, p: ColumnProfile): Boolean = op match {
    case UnaryOp.Minus    => p.isNumeric && !p.hasMissing
    case UnaryOp.Inv      => p.isNumeric && !p.hasZero && !p.hasMissing
    case UnaryOp.Log      => p.isNumeric && !p.hasZero && p.min > 0 && !p.hasMissing
    case UnaryOp.Sqrt     => p.isNumeric && p.min >= 0
    case UnaryOp.MinMax   => p.isNumeric && !(p.min >= 0 && p.max <= 1) // skip if already scaled
    case UnaryOp.StdScale | UnaryOp.ZScore => p.isNumeric && p.distinct > 1
    case UnaryOp.MDLP => p.isNumeric && !p.hasMissing && p.distinct > 2
    case UnaryOp.DiscretizeEW(b) => p.isNumeric && p.distinct > b
    case UnaryOp.DiscretizeQ(b)  => p.isNumeric && p.distinct > b
    case _: UnaryOp.Impute       => p.hasMissing // raw-only guard in `applicable`
    case UnaryOp.EqualsStr(_)    => !p.isNumeric
    case UnaryOp.Tan             => p.isNumeric
    case _                       => p.isNumeric
  }

  def isApplicable(op: BinOp, l: ColumnProfile, r: ColumnProfile): Boolean = op match {
    case BinOp.Div => l.isNumeric && r.isNumeric && !r.hasZero
    case BinOp.Pow => l.isNumeric && r.isNumeric && (l.min >= 0 || r.distinct <= 32)
    case _         => l.isNumeric && r.isNumeric
  }

  /** GroupByThen: numeric value; key groups meaningfully (not unique-ish,
    * not constant).
    */
  def isApplicableGroupBy(value: ColumnProfile, key: ColumnProfile): Boolean =
    value.isNumeric && key.distinct > 1 &&
      (key.count == 0 || key.distinct * 2 <= key.count)

  /** Whether candidate `e` may be built from its children: the op's guard on
    * their profiles ([[profileOf]]), with Impute only over a raw column; a
    * candidate whose child has no derivable profile is not applicable, and
    * a leaf always is. The lattice, frontier and one-shot searches (`Cdfc`,
    * `Traversals`, `ExploreKit`'s Div guard) all prune through this rule.
    */
  def applicable(e: FeatureExpr, known: collection.mutable.Map[String, ColumnProfile]): Boolean =
    e match {
      case Unary(op: UnaryOp.Impute, ch) => ch.isInstanceOf[RawCol] &&
        profileOf(ch, known).exists(isApplicable(op, _))
      case Unary(op, ch) => profileOf(ch, known).exists(isApplicable(op, _))
      case BinaryE(op, l, r) =>
        (for (lp <- profileOf(l, known); rp <- profileOf(r, known))
          yield isApplicable(op, lp, rp)).getOrElse(false)
      case GroupByThenE(_, v, k) =>
        (for (vp <- profileOf(v, known); kp <- profileOf(k, known))
          yield isApplicableGroupBy(vp, kp)).getOrElse(false)
      case _ => true
    }

  /** A candidate's profile: the one `known` holds under its canonical key,
    * else one derived analytically from its children's (and memoized into
    * `known`); None when a leaf has no profile. Every search prunes through
    * this one derivation ([[applicable]]), so a guard on a composition reads
    * the composition's derived domain, never a missing profile.
    */
  def profileOf(e: FeatureExpr, known: collection.mutable.Map[String, ColumnProfile])
      : Option[ColumnProfile] = {
    val k = Canon.key(e)
    known.get(k).orElse {
      val derived = e match {
        case Unary(op, ch) => profileOf(ch, known).map(derive(op, _))
        case BinaryE(op, l, r) =>
          for (lp <- profileOf(l, known); rp <- profileOf(r, known)) yield derive(op, lp, rp)
        case GroupByThenE(a, v, kk) =>
          for (vp <- profileOf(v, known); kp <- profileOf(kk, known))
            yield deriveGroupBy(a, vp, kp)
        case _ => None
      }
      derived.foreach(known(k) = _)
      derived
    }
  }

  /** Analytic propagation of profiles through ops (no data pass). Where a
    * bound cannot be derived analytically the result is conservative
    * (NaN bound = unknown, guards treat unknown as failing).
    */
  def derive(op: UnaryOp, p: ColumnProfile): ColumnProfile = op match {
    case UnaryOp.Minus => p.copy(min = -p.max, max = -p.min)
    case UnaryOp.Inv =>
      if (p.min > 0 || p.max < 0) p.copy(min = 1.0 / p.max, max = 1.0 / p.min, hasZero = false)
      else p.copy(min = Double.NegativeInfinity, max = Double.PositiveInfinity, hasZero = false)
    case UnaryOp.Log =>
      p.copy(min = math.log(p.min), max = math.log(p.max),
        hasZero = p.min <= 1 && p.max >= 1)
    case UnaryOp.Sqrt   => p.copy(min = math.sqrt(p.min), max = math.sqrt(p.max))
    case UnaryOp.Square =>
      val lo = if (p.min <= 0 && p.max >= 0) 0.0 else math.min(p.min * p.min, p.max * p.max)
      p.copy(min = lo, max = math.max(p.min * p.min, p.max * p.max),
        hasZero = p.hasZero)
    case UnaryOp.Abs =>
      val lo = if (p.min <= 0 && p.max >= 0) 0.0 else math.min(math.abs(p.min), math.abs(p.max))
      p.copy(min = lo, max = math.max(math.abs(p.min), math.abs(p.max)))
    case UnaryOp.Exp     => p.copy(min = math.exp(p.min), max = math.exp(p.max), hasZero = false)
    case UnaryOp.Sigmoid => p.copy(min = 0.0, max = 1.0, hasZero = false)
    case UnaryOp.MinMax  => p.copy(min = 0.0, max = 1.0, hasZero = true)
    case UnaryOp.StdScale | UnaryOp.ZScore =>
      p.copy(min = Double.NaN, max = Double.NaN, hasZero = true)
    case UnaryOp.MDLP =>
      // cut count is data-dependent; conservative small-bin profile
      p.copy(min = 0, max = Double.NaN, distinct = math.min(p.distinct, 32),
        hasZero = true, missing = 0)
    case UnaryOp.DiscretizeEW(b) =>
      p.copy(min = if (p.hasMissing) -1 else 0, max = b - 1,
        distinct = math.min(p.distinct, b + (if (p.hasMissing) 1 else 0)),
        hasZero = true)
    case UnaryOp.DiscretizeQ(b) =>
      p.copy(min = if (p.hasMissing) -1 else 0, max = b - 1,
        distinct = math.min(p.distinct, b + (if (p.hasMissing) 1 else 0)),
        hasZero = true)
    case _: UnaryOp.Impute    => p.copy(missing = 0)
    case UnaryOp.EqualsStr(_) =>
      p.copy(isNumeric = true, min = 0, max = 1, distinct = 2, hasZero = true, missing = 0)
    case UnaryOp.Sin | UnaryOp.Cos =>
      p.copy(min = -1, max = 1, hasZero = true)
    case UnaryOp.Tanh => p.copy(min = -1, max = 1)
    case _ => p.copy(min = Double.NaN, max = Double.NaN, hasZero = true)
  }

  def derive(op: BinOp, l: ColumnProfile, r: ColumnProfile): ColumnProfile = {
    val missing = math.max(l.missing, r.missing)
    val dist = math.min(l.count, l.distinct * math.max(r.distinct, 1))
    op match {
      case BinOp.Add => l.copy(min = l.min + r.min, max = l.max + r.max,
        missing = missing, distinct = dist, hasZero = l.min + r.min <= 0 && l.max + r.max >= 0)
      case BinOp.Sub => l.copy(min = l.min - r.max, max = l.max - r.min,
        missing = missing, distinct = dist, hasZero = l.min - r.max <= 0 && l.max - r.min >= 0)
      case BinOp.Mul | BinOp.Div | BinOp.Pow | BinOp.Max2 | BinOp.Min2 =>
        val corners = op match {
          case BinOp.Mul => Seq(l.min * r.min, l.min * r.max, l.max * r.min, l.max * r.max)
          case BinOp.Div => Seq(l.min / r.min, l.min / r.max, l.max / r.min, l.max / r.max)
          case BinOp.Max2 => Seq(math.max(l.min, r.min), math.max(l.max, r.max))
          case BinOp.Min2 => Seq(math.min(l.min, r.min), math.min(l.max, r.max))
          case _ => Seq(Double.NaN, Double.NaN)
        }
        l.copy(min = corners.min, max = corners.max, missing = missing,
          distinct = dist, hasZero = corners.min <= 0 && corners.max >= 0)
    }
  }

  def deriveGroupBy(agg: AggKind, value: ColumnProfile, key: ColumnProfile): ColumnProfile =
    agg match {
      case AggKind.Mean | AggKind.Max | AggKind.Min | AggKind.Median =>
        value.copy(distinct = math.min(value.distinct, key.distinct), missing = 0)
      case AggKind.Std | AggKind.Var =>
        value.copy(min = 0, max = Double.NaN, distinct = key.distinct, hasZero = true, missing = 0)
      case AggKind.Count =>
        value.copy(min = 0, max = value.count.toDouble, distinct = key.distinct,
          hasZero = false, missing = 0)
      case AggKind.Sum | AggKind.Prod =>
        value.copy(min = Double.NaN, max = Double.NaN, distinct = key.distinct,
          hasZero = true, missing = 0)
    }
}
