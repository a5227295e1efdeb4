package graft.search

import graft.profile.{ColumnProfile, Profiler}
import org.apache.spark.GraftBridge
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.functions._

/** Candidate gain oracle: mutual information between the equi-width-binned
  * feature and the (binary) label, computed for a whole batch of candidates
  * in ONE shuffle-free row pass
  * ([[org.apache.spark.GraftBridge.foldPartitions]]): each partition counts
  * its rows by (feature, bin, label) into a plain F x (bins+1) x 2 array,
  * merged on the driver. No row shuffles and no aggregate is planned or
  * compiled per batch; the bin is computed in the row loop from the
  * profile bounds, so no per-batch literal enters generated code.
  *
  * This is the cheap closed-form stand-in for the reference's per-candidate
  * CV grid-search LR scoring (`run_evaluation.py:142-243`) used to prune;
  * the same shape the reference itself uses for its MI prefilter
  * (`fairexp.py:117-126`, `mutual_info_classif`). Scores are in nats,
  * normalized by H(y) so the gate threshold is scale-free.
  *
  * The same pass also returns each candidate's value fingerprint, the
  * wrapping Long sum of xxhash64 of the rounded value over the labelled
  * rows, for the value-equality dedup (`run_evaluation.py:292-298`). A sum
  * is order-free like an xor, but a value that occurs an even number of
  * times does not cancel out of it. Missing, min, max
  * and distinct come from the candidate's [[ColumnProfile]], the one
  * profile pass that also sets the bin bounds; it feeds the runtime
  * constant prune (`:287-290`).
  */
object MIScorer {

  /** `profile` covers every row of the scored frame, as the bin bounds do;
    * `mi` and `fingerprint` cover its labelled rows.
    */
  final case class FeatureStats(profile: ColumnProfile, mi: Double, fingerprint: Long)

  /** @param label    boolean/0-1 column (rows with null label are excluded
    *                 from the MI counts and the fingerprint)
    * @param profiles profiles the caller already holds, keyed by feature
    *                 name; every other feature is profiled here, all in one
    *                 [[Profiler.profile]] call
    */
  def scoreBatch(
      df: DataFrame,
      feats: Seq[(String, Column)],
      label: Column,
      bins: Int = 10,
      profiles: Map[String, ColumnProfile] = Map.empty): Map[String, FeatureStats] = {
    if (feats.isEmpty) return Map.empty
    val prof = profiles ++ Profiler.profile(df, feats.filterNot(f => profiles.contains(f._1)))
    val y = label.cast("int")
    val nF = feats.size
    val bounds = feats.map { case (n, _) =>
      val p = prof(n)
      (p.min, p.max, if (p.max > p.min) (p.max - p.min) / bins else 1.0)
    }.toArray
    // per labelled row: y, then each feature's value and its fingerprint
    // hash (filtered before the select, so no feature is evaluated on an
    // unlabelled row)
    val rows = df.filter(y.isNotNull).select(y +: feats.flatMap { case (_, c) =>
      val v = c.cast("double")
      Seq(v, xxhash64(round(v, 6)))
    }: _*)
    // per partition: counts by (feature, bin, y in {0, 1}) and each
    // feature's fingerprint, the wrapping Long sum of its hashes (order-free,
    // so the partitions' sums add up to the feature's fingerprint)
    def zero = (new Array[Long](nF * (bins + 1) * 2), new Array[Long](nF))
    val (cnt, fps) = GraftBridge.foldPartitions(rows) { (_, it) =>
      val (cnt, fp) = zero
      it.foreach { r =>
        val yv = r.getInt(0)
        var i = 0
        while (i < nF) {
          val (lo, hi, w) = bounds(i)
          val b = if (r.isNullAt(2 * i + 1)) bins else bin(r.getDouble(2 * i + 1), lo, hi, w, bins)
          if (yv == 0 || yv == 1) cnt((i * (bins + 1) + b) * 2 + yv) += 1
          fp(i) += r.getLong(2 * i + 2)
          i += 1
        }
      }
      (cnt, fp)
    }.foldLeft(zero) { (a, b) =>
      a._1.indices.foreach(k => a._1(k) += b._1(k))
      a._2.indices.foreach(k => a._2(k) += b._2(k))
      a
    }

    feats.zipWithIndex.map { case ((n, _), i) =>
      val counts = (0 to bins).map { b =>
        val k = (i * (bins + 1) + b) * 2
        (cnt(k), cnt(k + 1))
      }
      val total = counts.map(t => t._1 + t._2).sum.toDouble
      val py1 = counts.map(_._2).sum / total
      val py0 = 1.0 - py1
      var mi = 0.0
      counts.foreach { case (c0, c1) =>
        val pb = (c0 + c1) / total
        if (c0 > 0) { val p = c0 / total; mi += p * math.log(p / (pb * py0)) }
        if (c1 > 0) { val p = c1 / total; mi += p * math.log(p / (pb * py1)) }
      }
      val hy = -Seq(py0, py1).filter(_ > 0).map(p => p * math.log(p)).sum
      n -> FeatureStats(prof(n), mi = if (hy > 0) mi / hy else 0.0, fingerprint = fps(i))
    }.toMap
  }

  /** The right-closed equi-width bin in [0, bins-1] of a non-null `v` over
    * [lo, hi] with width `w`; NaN -> bin `bins`. [lo, hi] is the profile's
    * non-NaN range, so one NaN row does not widen it. Compares in Spark's
    * order (-0.0 equals 0.0). The <= lo / >= hi short-circuits equal the
    * ceil formula for finite values and absorb +-Infinity (infs arise from
    * unguarded Div/Inv candidates in one-shot generators); an index past
    * the Int range clamps to the last bin.
    */
  private def bin(v: Double, lo: Double, hi: Double, w: Double, bins: Int): Int =
    if (v.isNaN) bins
    else if (compareDoubles(v, lo) <= 0) 0
    else if (compareDoubles(v, hi) >= 0) bins - 1
    else math.min(math.max(math.ceil((v - lo) / w).toLong - 1, 0L), bins - 1L).toInt
}
