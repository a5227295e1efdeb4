package graft.exprs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Computes the fitted statistics every fit-requiring node of a candidate
  * set needs, in as few aggregation jobs as possible.
  *
  * The reference fits each candidate pipeline separately per fold
  * (`run_evaluation.py:276-309`); Spark-shaped, all fits of a layer collapse
  * into ONE wide `agg` per fit-nesting depth (fit depth > 1 only when a
  * fitted op is nested inside another fitted op, e.g. zscore(scale(x)) —
  * bounded by c_max, in practice 1-2 passes).
  *
  * The fit scope (`fitDf`) is the caller's choice: whole table (reference
  * train-split semantics, `MinMaxScalingTransformation.py:21-26`) or a
  * fold-filtered / at-or-before subset for leakage-free variants.
  */
object Fitter {

  /** @param label required when any expression contains a supervised fit op
    *              (MDLP) — its histogram job needs the class column
    */
  def fit(fitDf: DataFrame, exprs: Seq[FeatureExpr], known: FitStats = FitStats.empty,
      label: Option[Column] = None): FitStats = {
    // All distinct fit-requiring Unary nodes across the canon'd forest.
    def fitNodes(e: FeatureExpr): Seq[Unary] = {
      val self = e match {
        case u @ Unary(op, _) if op.needsFit => Seq(u)
        case _ => Seq.empty
      }
      val kids = e match {
        case Unary(_, c)           => fitNodes(c)
        case BinaryE(_, l, r)      => fitNodes(l) ++ fitNodes(r)
        case GroupByThenE(_, v, k) => fitNodes(v) ++ fitNodes(k)
        case ConcatE(cs)           => cs.flatMap(fitNodes)
        case _                     => Seq.empty
      }
      self ++ kids
    }
    var pending: Map[String, Unary] =
      exprs.map(Canon.canon).flatMap(fitNodes).map(u => Canon.key(u) -> u).toMap
        .filterNot { case (k, _) => known.get(k).isDefined }
    var stats = known

    var guard = 0
    while (pending.nonEmpty && guard < 8) {
      guard += 1
      // Ready = nodes whose own descendants' fit-nodes are all fitted.
      val readyAll = pending.filter { case (_, u) =>
        fitNodes(u.child).forall(d => stats.get(Canon.key(d)).isDefined)
      }
      require(readyAll.nonEmpty, s"fit cycle? pending=${pending.keys}")
      // supervised fits (MDLP): ONE batched histogram job for all nodes
      val (mdlpReady, rest) = readyAll.partition(_._2.op == UnaryOp.MDLP)
      // mode fits: ONE batched two-level job (Spark's mode() aggregate
      // breaks ties nondeterministically; max_by over (count, -value) picks
      // the SMALLEST most-frequent value — reproducible in any engine)
      val (modeReady, ready) = rest.partition(_._2.op == UnaryOp.ImputeMode)
      // The per-pass batch jobs below (MDLP histogram, mode, percentile,
      // plain wide agg) are INDEPENDENT aggregations over fitDf: collect
      // them as thunks and submit concurrently (FitPool) so a pass pays the
      // slowest job's latency, not the sum. Each job's plan/partitioning is
      // byte-identical to the sequential form — only submission overlaps —
      // and results merge under distinct keys, so every fitted value is
      // unchanged.
      val batchJobs = Seq.newBuilder[() => FitStats]
      if (mdlpReady.nonEmpty) {
        val y = label.getOrElse(throw new IllegalArgumentException(
          s"MDLP fit requires a label column (nodes: ${mdlpReady.keys})"))
        val nodes = mdlpReady.toSeq.map { case (key, u) =>
          key -> Lower.toColumn(u.child, stats).cast("double")
        }
        batchJobs += (() => FitStats(graft.search.Mdlp.fitCutsBatch(fitDf, nodes, y)))
      }
      if (modeReady.nonEmpty) {
        val nodes = modeReady.toSeq.map { case (key, u) =>
          key -> Lower.toColumn(u.child, stats).cast("double")
        }
        batchJobs += (() => FitStats(modeBatch(fitDf, nodes)))
      }
      // exact percentile/median fits (DiscretizeQ, ImputeMedian) are
      // ImperativeAggregates whose per-row update loop dominates on
      // few-partition scans; their results are EXACTLY partition-invariant
      // (count merge + deterministic sort), so they run as a separate agg
      // over the pruned child columns spread to the session's parallelism.
      // Order-SENSITIVE float aggregates (avg/stddev) stay on the caller's
      // partitioning, keeping every previously-emitted float bit-identical.
      val (pctlReady, plainReady) = ready.partition(_._2.op match {
        case UnaryOp.DiscretizeQ(_) | UnaryOp.ImputeMedian => true
        case _ => false
      })
      if (pctlReady.nonEmpty) {
        val nodes = pctlReady.toSeq.map { case (key, u) =>
          key -> Lower.toColumn(u.child, stats).cast("double")
        }
        val specs = nodes.map { case (k, c) => (k, c, pending(k).op) }
        batchJobs += (() => FitStats(percentileBatch(fitDf, specs)))
      }
      if (plainReady.nonEmpty) {
        val aggsAndDecode: Seq[(String, Seq[Column], org.apache.spark.sql.Row => IndexedSeq[Double])] =
          plainReady.toSeq.map { case (key, u) =>
            val c = Lower.toColumn(u.child, stats).cast("double")
            val p = s"s${key.hashCode.toHexString}"
            def dbl(row: org.apache.spark.sql.Row, f: String): Double = {
              val i = row.fieldIndex(f)
              if (row.isNullAt(i)) Double.NaN else row.getDouble(i)
            }
            u.op match {
              case UnaryOp.MinMax | UnaryOp.DiscretizeEW(_) =>
                (key, Seq(min(c).as(s"${p}_a"), max(c).as(s"${p}_b")),
                  (r: org.apache.spark.sql.Row) => IndexedSeq(dbl(r, s"${p}_a"), dbl(r, s"${p}_b")))
              case UnaryOp.StdScale | UnaryOp.ZScore =>
                (key, Seq(avg(c).as(s"${p}_a"), stddev_pop(c).as(s"${p}_b")),
                  (r: org.apache.spark.sql.Row) => IndexedSeq(dbl(r, s"${p}_a"), dbl(r, s"${p}_b")))
              case UnaryOp.ImputeMean =>
                (key, Seq(avg(c).as(s"${p}_a")),
                  (r: org.apache.spark.sql.Row) => IndexedSeq(dbl(r, s"${p}_a")))
              case other =>
                throw new IllegalStateException(s"unexpected fit op $other")
            }
          }
        batchJobs += (() => {
          val row = fitDf.agg(
            aggsAndDecode.flatMap(_._2).head, aggsAndDecode.flatMap(_._2).tail: _*).head()
          FitStats(aggsAndDecode.map { case (k, _, dec) => k -> dec(row) }.toMap)
        })
      }
      graft.search.FitPool.all(fitDf.sparkSession, "fitter")(batchJobs.result(): _*)
        .foreach { s => stats = stats ++ s }
      pending = pending -- readyAll.keys
    }
    require(pending.isEmpty, s"unfitted nodes after ${guard} passes: ${pending.keys}")
    stats
  }

  /** Batched exact percentile/median fits (DiscretizeQ / ImputeMedian) over
    * the pruned child columns, spread to the session's parallelism — the
    * exact `percentile`/`median` results are partition-invariant (count
    * merge + one deterministic sort), so the fitted values are identical to
    * the unspread agg while the per-row update loop parallelizes.
    */
  private def percentileBatch(df: DataFrame,
      nodes: Seq[(String, Column, UnaryOp)]): Map[String, IndexedSeq[Double]] = {
    if (nodes.isEmpty) return Map.empty
    val spark = df.sparkSession
    val proj = df
      .select(nodes.zipWithIndex.map { case ((_, c, _), i) => c.as(s"__fit_$i") }: _*)
      .repartition(spark.sparkContext.defaultParallelism)
    val aggs = nodes.zipWithIndex.map { case ((_, _, op), i) =>
      op match {
        case UnaryOp.ImputeMedian => median(col(s"__fit_$i")).as(s"__a_$i")
        case UnaryOp.DiscretizeQ(b) =>
          val qs = (1 until b).map(_.toDouble / b)
          percentile(col(s"__fit_$i"), typedLit(qs)).as(s"__a_$i")
        case other => throw new IllegalStateException(s"unexpected percentile op $other")
      }
    }
    val row = proj.agg(aggs.head, aggs.tail: _*).head()
    nodes.zipWithIndex.map { case ((k, _, op), i) =>
      val idx = row.fieldIndex(s"__a_$i")
      op match {
        case UnaryOp.DiscretizeQ(b) =>
          k -> (if (row.isNullAt(idx)) IndexedSeq.fill(b - 1)(Double.NaN)
                else row.getSeq[Double](idx).toIndexedSeq)
        case _ =>
          k -> IndexedSeq[Double](if (row.isNullAt(idx)) Double.NaN else row.getDouble(idx))
      }
    }.toMap
  }

  /** Deterministic batched mode fit: explode (nid, v) -> per-value counts ->
    * per-nid argmax by (count, -value), i.e. the SMALLEST most-frequent
    * value. Two map-side-combinable aggregations, no driver-side values.
    */
  private def modeBatch(df: DataFrame,
      nodes: Seq[(String, Column)]): Map[String, IndexedSeq[Double]] = {
    if (nodes.isEmpty) return Map.empty
    val pairs = nodes.zipWithIndex.map { case ((_, c), i) =>
      struct(lit(i).as("nid"), c.cast("double").as("v"))
    }
    val rows = df.select(explode(array(pairs: _*)).as("nv"))
      .select(col("nv.nid").as("nid"), col("nv.v").as("v"))
      .filter(col("v").isNotNull && !isnan(col("v")))
      .groupBy(col("nid"), col("v")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("nid"))
      .agg(max_by(col("v"), struct(col("cnt"), -col("v"))).as("m"))
      .collect()
    val byNid = rows.map(r => r.getInt(0) -> r.getDouble(1)).toMap
    nodes.zipWithIndex.map { case ((k, _), i) =>
      k -> IndexedSeq[Double](byNid.getOrElse(i, Double.NaN))
    }.toMap
  }
}
