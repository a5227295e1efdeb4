package graft.search

import graft.exprs._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Materializes a set of candidate features as one wide select — the
  * per-layer data job of the CDFC search (the reference materializes each
  * candidate separately per fold, `run_evaluation.py:276-309`; one wide
  * select amortizes the scan and lets Catalyst CSE shared parents).
  *
  * GroupByThen handling:
  *  - window-capable aggregates lower to `agg(v).over(partitionBy(key))`
  *    (one shuffle shared by every feature with the same key);
  *  - Median (not window-capable) materializes as `groupBy(key).agg(...)`
  *    + join-back. The aggregate side is |distinct keys| rows: partial
  *    aggregation happens map-side, and AQE broadcasts the join when the
  *    aggregate side is small.
  */
object LayerBuilder {

  /** Select `keys` plus each feature column, handling join-back aggregates. */
  def select(
      df: DataFrame,
      keys: Seq[String],
      feats: Seq[(String, FeatureExpr)],
      fit: FitStats = FitStats.empty,
      round6: Boolean = false): DataFrame = {
    var cur = df
    var trees: Seq[(String, FeatureExpr)] = feats.map { case (n, e) => n -> Canon.canon(e) }
    var tmpId = 0

    // Reference semantics are float64 throughout (candidates/Identity.py:2-5
    // wraps every raw column in a numpy float array); DECIMAL-typed inputs
    // would otherwise flow through Spark decimal arithmetic and diverge from
    // any double-based oracle at ROUND half-way points. Cast at the leaf.
    val decimalCols: Set[String] = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] => f.name
    }.toSet
    val raw: String => Column =
      n => if (decimalCols(n)) col(n).cast("double") else col(n)

    def needsJoin(e: FeatureExpr): Boolean = e match {
      case GroupByThenE(AggKind.Median, _, _) => true
      case _                                  => false
    }
    def collectJoinNodes(e: FeatureExpr): Seq[GroupByThenE] = {
      val kids = e match {
        case Unary(_, c)           => collectJoinNodes(c)
        case BinaryE(_, l, r)      => collectJoinNodes(l) ++ collectJoinNodes(r)
        case GroupByThenE(_, v, k) => collectJoinNodes(v) ++ collectJoinNodes(k)
        case ConcatE(cs)           => cs.flatMap(collectJoinNodes)
        case _                     => Seq.empty
      }
      // innermost-first: only report self when no descendant needs a join
      e match {
        case g: GroupByThenE if needsJoin(g) && kids.isEmpty => Seq(g)
        case _ => kids
      }
    }
    def substitute(e: FeatureExpr, from: FeatureExpr, to: FeatureExpr): FeatureExpr =
      if (e == from) to else e match {
        case Unary(op, c)           => Unary(op, substitute(c, from, to))
        case BinaryE(op, l, r)      => BinaryE(op, substitute(l, from, to), substitute(r, from, to))
        case GroupByThenE(a, v, k)  => GroupByThenE(a, substitute(v, from, to), substitute(k, from, to))
        case ConcatE(cs)            => ConcatE(cs.map(substitute(_, from, to)))
        case other                  => other
      }

    var pending = trees.flatMap(t => collectJoinNodes(t._2)).distinct
    var guard = 0
    while (pending.nonEmpty && guard < 8) {
      guard += 1
      // group join nodes by key expression -> one agg+join per key
      pending.groupBy(_.key).foreach { case (keyExpr, nodes) =>
        tmpId += 1
        val kName = s"__gbt_key_$tmpId"
        cur = cur.withColumn(kName, Lower.toColumn(keyExpr, fit, raw))
        val aggCols = nodes.zipWithIndex.map { case (g, i) =>
          val v = Lower.toColumn(g.value, fit, raw).cast("double")
          val a = g.agg match {
            case AggKind.Median => median(v)
            case AggKind.Mean   => avg(v)
            case AggKind.Max    => max(v)
            case AggKind.Min    => min(v)
            case AggKind.Std    => stddev_pop(v)
            case AggKind.Var    => var_pop(v)
            case AggKind.Count  => count(v).cast("double")
            case AggKind.Sum    => sum(v)
            case AggKind.Prod   => product(v)
          }
          a.as(s"__gbt_v_${tmpId}_$i")
        }
        // Null-safe join (<=>): the window path treats null keys as one
        // partition, so the join-back path must aggregate-and-match them too
        // (a USING join would leave null-keyed rows with null features).
        // No broadcast hint: the aggregate side is |distinct keys| rows and
        // AQE broadcasts it when it is actually small; a forced hint OOMs on
        // high-cardinality keys (e.g. Median grouped by conv_id).
        val kAgg = s"${kName}__agg"
        val grouped = cur.groupBy(col(kName).as(kAgg)).agg(aggCols.head, aggCols.tail: _*)
        cur = cur.join(grouped, col(kName) <=> col(kAgg), "left").drop(kAgg)
        nodes.zipWithIndex.foreach { case (g, i) =>
          val tmp = s"__gbt_v_${tmpId}_$i"
          trees = trees.map { case (n, t) => n -> substitute(t, g, RawCol(tmp)) }
        }
      }
      pending = trees.flatMap(t => collectJoinNodes(t._2)).distinct
    }
    require(pending.isEmpty, "unresolved GroupByThen join nodes")

    val outCols = keys.map(col) ++ trees.map { case (n, e) =>
      val c = Lower.toColumn(e, fit, raw).cast("double")
      (if (round6) PortableRound.col6(c) else c).as(n)
    }
    cur.select(outCols: _*)
  }
}
