package graft.search

import org.apache.spark.GraftBridge
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.functions._

/** Fayyad-Irani MDLP supervised discretization, reference-faithful
  * (`transformations/mdlp_discretization/MDLP.py`):
  *
  *  - candidate cuts = midpoints between adjacent distinct values whose
  *    merged class set has more than one class (`feature_boundary_points`)
  *  - best cut per partition = max information gain, smallest cut on ties
  *  - accepted iff gain > (log2(N-1) + delta)/N with
  *    delta = log2(3^k) - k*E + k_left*E_left + k_right*E_right
  *    (the reference uses log2(3^k), not the textbook 3^k - 2 — we match
  *    the reference)
  *  - recurse into both sides; cuts sorted ascending
  *
  * Spark shape: ONE aggregation job collects the (value, class) histogram
  * (cardinality-bounded — this is the reference's own implicit bound, since
  * it materializes unique values); the recursion runs driver-side on prefix
  * sums, O(distinct x classes) per level. The transform lowers to a pure
  * comparison sum (whole-stage codegen).
  */
object Mdlp {

  /** Fit cut points on (value, label). Returns ascending cuts; empty when
    * MDLP rejects every cut (the reference raises "MDLP discretization
    * failed!" — callers drop the candidate; in the search the resulting
    * constant column dies in the constant prune). Cardinality-guarded and
    * quantile-routed like [[fitCutsBatch]] (it delegates there).
    */
  def fitCuts(df: DataFrame, value: Column, label: Column,
      maxDistinct: Int = 100000): IndexedSeq[Double] =
    fitCutsBatch(df, Seq("__single" -> value), label, maxDistinct)("__single")

  /** The Fayyad-Irani recursion proper, over sorted distinct values and
    * per-value class counts.
    */
  private def runMdlp(values: Array[Double], counts: Array[Array[Long]],
      k: Int): IndexedSeq[Double] = {
    // prefix(i)(c) = counts over values(0..i-1)
    val prefix = Array.ofDim[Long](values.length + 1, k)
    for (i <- values.indices; c <- 0 until k)
      prefix(i + 1)(c) = prefix(i)(c) + counts(i)(c)

    // boundary(i): a candidate cut exists between values(i-1) and values(i)
    val boundary = Array.tabulate(values.length) { i =>
      i > 0 && {
        val merged = (0 until k).count(c => counts(i - 1)(c) > 0 || counts(i)(c) > 0)
        merged > 1
      }
    }

    def rangeCounts(lo: Int, hi: Int): Array[Long] =
      Array.tabulate(k)(c => prefix(hi)(c) - prefix(lo)(c))
    def entropy(cc: Array[Long]): Double = {
      val n = cc.sum.toDouble
      if (n == 0) 0.0
      else -cc.iterator.filter(_ > 0).map { x =>
        val p = x / n; p * (math.log(p) / math.log(2))
      }.sum
    }

    val cuts = collection.mutable.ArrayBuffer[Double]()
    def recurse(lo: Int, hi: Int): Unit = {
      if (hi - lo < 2) return
      val cc = rangeCounts(lo, hi)
      val nTotal = cc.sum.toDouble
      val eFull = entropy(cc)
      // candidates: boundary indices strictly inside the partition range
      val cands = (lo + 1 until hi).filter(boundary)
      if (cands.isEmpty) return
      var bestI = -1
      var bestGain = Double.NegativeInfinity
      cands.foreach { i =>
        val l = rangeCounts(lo, i); val r = rangeCounts(i, hi)
        val gain = eFull -
          (l.sum / nTotal) * entropy(l) - (r.sum / nTotal) * entropy(r)
        if (gain > bestGain + 1e-15) { bestGain = gain; bestI = i } // first on ties
      }
      val l = rangeCounts(lo, bestI); val r = rangeCounts(bestI, hi)
      val kAll = cc.count(_ > 0); val kl = l.count(_ > 0); val kr = r.count(_ > 0)
      val delta = kAll * (math.log(3) / math.log(2)) - kAll * eFull +
        kl * entropy(l) + kr * entropy(r)
      val threshold = ((math.log(nTotal - 1) / math.log(2)) + delta) / nTotal
      if (bestGain > threshold && l.sum > 0 && r.sum > 0) {
        cuts += (values(bestI - 1) + values(bestI)) / 2.0
        recurse(lo, bestI)
        recurse(bestI, hi)
      }
    }
    recurse(0, values.length)
    cuts.sorted.toIndexedSeq
  }

  /** Batch variant: ONE histogram job for many (key, value-column) pairs —
    * rows are exploded as (node, value) pairs so all per-node histograms
    * come back from a single groupBy, instead of one job per MDLP node
    * (the per-layer job count is what dominates search latency).
    *
    * Scale guard (IN-PLAN, before any driver collect): the histogram is
    * cached DISTRIBUTED and a per-node distinct-value count decides each
    * node's route. A node within `maxDistinct` collects its exact histogram
    * (unchanged values); a node above it never reaches the driver raw —
    * it is pre-bucketed into at most `min(maxDistinct, 2048)` weighted
    * quantile bins (pd.qcut semantics, computed FROM the cached histogram,
    * no extra scan of `df`) and MDLP runs over bucket representatives, with
    * accepted cuts mapped back to real value midpoints. All over-bound
    * nodes share one quantile aggregation and one bucketing pass, whatever
    * their number. A genuinely continuous column at 100x scale therefore
    * degrades to quantile-MDLP instead of blowing up the driver on collect.
    */
  def fitCutsBatch(df: DataFrame, nodes: Seq[(String, Column)], label: Column,
      maxDistinct: Int = 100000): Map[String, IndexedSeq[Double]] = {
    if (nodes.isEmpty) return Map.empty
    val pairs = nodes.zipWithIndex.map { case ((_, c), i) =>
      struct(lit(i).as("nid"), c.cast("double").as("v"))
    }
    val hist = df
      .filter(label.isNotNull)
      .select(explode(array(pairs: _*)).as("nv"), label.cast("string").as("y"))
      .select(col("nv.nid").as("nid"), col("nv.v").as("v"), col("y"))
      .filter(col("v").isNotNull && !isnan(col("v")))
      .groupBy(col("nid"), col("v"), col("y"))
      .agg(count(lit(1)).as("n"))
      .cache()
    try {
      val dv = hist.groupBy(col("nid")).agg(count_distinct(col("v")).as("d"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val (small, big) = nodes.zipWithIndex.partition { case (_, i) =>
        dv.getOrElse(i, 0L) <= maxDistinct
      }
      val exact: Map[String, IndexedSeq[Double]] =
        if (small.isEmpty) Map.empty
        else {
          val keep = small.map(_._2)
          val rows = (if (big.isEmpty) hist
                      else hist.filter(col("nid").isin(keep: _*))).collect()
          val byNode = rows.groupBy(_.getInt(0))
          small.map { case ((key, _), i) =>
            key -> cutsFromHistogram(byNode.getOrElse(i, Array.empty)
              .map(r => (r.getDouble(1), r.getString(2), r.getLong(3))), maxDistinct)
          }.toMap
        }
      exact ++ quantileBucketedCuts(hist, big.map { case ((key, _), i) => key -> i }, maxDistinct)
    } finally { hist.unpersist(); () }
  }

  /** The over-bound route of [[fitCutsBatch]] for all its `nodes` ((key,
    * nid) pairs) at once: weighted quantile bins per node from ONE
    * percentile aggregation grouped by `nid` over the (nid, v, y, n)
    * histogram, ONE shuffle-free row pass that buckets each node's rows by
    * its own bounds (Bucketizer semantics) and keeps each bucket's real
    * extremes and class counts, then per node MDLP over bucket indices, cuts
    * mapped back to midpoints between adjacent occupied buckets' real
    * extremes (so `binColumn`'s `v > cut` classifies every data row exactly
    * as the index-space recursion decided).
    */
  private def quantileBucketedCuts(hist: DataFrame, nodes: Seq[(String, Int)],
      maxDistinct: Int): Map[String, IndexedSeq[Double]] = {
    if (nodes.isEmpty) return Map.empty
    val bins = math.min(maxDistinct, 2048)
    val probs = (1 until bins).map(_.toDouble / bins)
    val nodeHist = hist.filter(col("nid").isin(nodes.map(_._2): _*))
    val splits: Map[Int, Array[Double]] = nodeHist.groupBy(col("nid"))
      .agg(percentile(col("v"), typedLit(probs), col("n")))
      .collect().flatMap { r =>
        val bounds = if (r.isNullAt(1)) Seq.empty else r.getSeq[Double](1).distinct.sorted
        if (bounds.isEmpty) None
        else Some(r.getInt(0) -> (Double.NegativeInfinity +: bounds :+ Double.PositiveInfinity).toArray)
      }.toMap
    // (nid, bucket) -> (lowest v, highest v, count per class)
    type Buckets = collection.mutable.HashMap[(Int, Int), (Double, Double, Map[String, Long])]
    def add(bs: Buckets, k: (Int, Int), lo: Double, hi: Double, ys: Map[String, Long]): Unit =
      bs(k) = bs.get(k).fold((lo, hi, ys)) { case (l, h, y0) =>
        (if (compareDoubles(lo, l) < 0) lo else l, if (compareDoubles(hi, h) > 0) hi else h,
          ys.foldLeft(y0) { case (m, (y, n)) => m.updated(y, m.getOrElse(y, 0L) + n) })
      }
    val buckets = GraftBridge.foldPartitions(
        nodeHist.filter(col("nid").isin(splits.keys.toSeq: _*))
          .select(col("nid"), col("v"), col("y"), col("n"))) { (_, rows) =>
      val bs: Buckets = collection.mutable.HashMap.empty
      rows.foreach { r =>
        val (nid, v) = (r.getInt(0), r.getDouble(1))
        add(bs, nid -> bucketOf(splits(nid), v), v, v, Map(r.getUTF8String(2).toString -> r.getLong(3)))
      }
      bs
    }.foldLeft(collection.mutable.HashMap.empty: Buckets) { (acc, bs) =>
      bs.foreach { case (k, (lo, hi, ys)) => add(acc, k, lo, hi, ys) }
      acc
    }
    val byNode = buckets.toSeq.groupBy(_._1._1)
    nodes.map { case (key, nid) =>
      val byBucket = byNode.getOrElse(nid, Seq.empty)
        .map { case ((_, b), (lo, hi, ys)) => (b.toDouble, lo, hi, ys) }.sortBy(_._1).toArray
      val idxHist = byBucket.flatMap { case (b, _, _, ys) => ys.map { case (y, n) => (b, y, n) } }
      val idxCuts = cutsFromHistogram(idxHist, maxDistinct = bins + 1)
      val occupied = byBucket.map(t => t._1 -> (t._2, t._3)).toMap
      val occIdx = byBucket.map(_._1)
      key -> idxCuts.map { c =>
        val below = occIdx.filter(_ < c).last
        val above = occIdx.filter(_ > c).head
        (occupied(below)._2 + occupied(above)._1) / 2.0
      }
    }.toMap
  }

  /** Bucketizer's bucket of a non-NaN `v` over `splits` (from -Infinity to
    * +Infinity): `splits(b) <= v < splits(b + 1)`, the last bucket closed. */
  private def bucketOf(splits: Array[Double], v: Double): Int =
    if (v == splits.last) splits.length - 2
    else {
      val i = java.util.Arrays.binarySearch(splits, v)
      if (i >= 0) i else -i - 2
    }

  /** Driver-side MDLP recursion over a (value, class, count) histogram. */
  private def cutsFromHistogram(hist: Array[(Double, String, Long)],
      maxDistinct: Int): IndexedSeq[Double] = {
    if (hist.isEmpty) return IndexedSeq.empty
    val classes = hist.map(_._2).distinct.sorted
    val classIdx = classes.zipWithIndex.toMap
    val byValue = hist.groupBy(_._1).toArray.sortBy(_._1)
    require(byValue.length <= maxDistinct,
      s"MDLP: ${byValue.length} distinct values exceeds driver bound $maxDistinct")
    val values = byValue.map(_._1)
    val k = classes.length
    val counts = byValue.map { case (_, rows) =>
      val a = new Array[Long](k)
      rows.foreach(r => a(classIdx(r._2)) += r._3)
      a
    }
    runMdlp(values, counts, k)
  }

  /** The top-level Fayyad-Irani decision WITHOUT recursion: the best
    * boundary midpoint over the full range and whether MDLP accepts it.
    * Unlike the search's internal recursion (which keeps the reference's
    * first-on-ties float compare), gains and the threshold are rounded to
    * 1e-12 with the portable floor formula before comparison, so an
    * independent SQL engine reproduces the choice bit-for-bit (log/entropy
    * chains differ by ULPs across libm implementations).
    */
  def topCut(df: DataFrame, value: Column, label: Column): Option[(Double, Boolean)] = {
    val hist = df
      .filter(value.isNotNull && !isnan(value.cast("double")) && label.isNotNull)
      .groupBy(value.cast("double").as("v"), label.cast("string").as("y"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getDouble(0), r.getString(1), r.getLong(2)))
    if (hist.isEmpty) return None
    val classes = hist.map(_._2).distinct.sorted
    val k = classes.length
    val cidx = classes.zipWithIndex.toMap
    val values = hist.map(_._1).distinct.sorted
    val vidx = values.zipWithIndex.toMap
    val counts = Array.ofDim[Long](values.length, k)
    hist.foreach { case (v, y, n) => counts(vidx(v))(cidx(y)) += n }
    val prefix = Array.ofDim[Long](values.length + 1, k)
    for (i <- values.indices; c <- 0 until k)
      prefix(i + 1)(c) = prefix(i)(c) + counts(i)(c)
    def rangeCounts(lo: Int, hi: Int): Array[Long] =
      Array.tabulate(k)(c => prefix(hi)(c) - prefix(lo)(c))
    def entropy(cc: Array[Long]): Double = {
      val n = cc.sum.toDouble
      if (n == 0) 0.0
      else -cc.iterator.filter(_ > 0).map { x =>
        val p = x / n; p * (math.log(p) / math.log(2))
      }.sum
    }
    def r12(x: Double): Double = math.floor(x * 1e12 + 0.5) / 1e12
    val cc = rangeCounts(0, values.length)
    val nTotal = cc.sum.toDouble
    val eFull = entropy(cc)
    val cands = (1 until values.length).filter { i =>
      (0 until k).count(c => counts(i - 1)(c) > 0 || counts(i)(c) > 0) > 1
    }
    if (cands.isEmpty) return None
    var bestI = -1
    var bestGain = Double.NegativeInfinity
    cands.foreach { i =>
      val l = rangeCounts(0, i); val r = rangeCounts(i, values.length)
      val gain = r12(eFull -
        (l.sum / nTotal) * entropy(l) - (r.sum / nTotal) * entropy(r))
      if (gain > bestGain) { bestGain = gain; bestI = i } // smallest cut on ties
    }
    val l = rangeCounts(0, bestI); val r = rangeCounts(bestI, values.length)
    val kAll = cc.count(_ > 0); val kl = l.count(_ > 0); val kr = r.count(_ > 0)
    val delta = kAll * (math.log(3) / math.log(2)) - kAll * eFull +
      kl * entropy(l) + kr * entropy(r)
    val threshold = r12(((math.log(nTotal - 1) / math.log(2)) + delta) / nTotal)
    Some(((values(bestI - 1) + values(bestI)) / 2.0, bestGain > threshold))
  }

  /** Lower the fitted cuts to a bin column: bin = #cuts below x (right-
    * closed at cuts), null/NaN -> -1; no accepted cuts -> constant 0
    * (dies in the search's constant prune, reference raises).
    */
  def binColumn(c: Column, cuts: IndexedSeq[Double]): Column =
    if (cuts.isEmpty) lit(0)
    else {
      val bin = cuts.map(e => when(c > lit(e), 1).otherwise(0)).reduce[Column](_ + _)
      when(c.isNull || isnan(c.cast("double")), -1).otherwise(bin)
    }
}
