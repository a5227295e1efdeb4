package graft.profile

import org.apache.spark.GraftBridge
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** Data-derived column properties driving applicability pruning — the analog
  * of the reference's `properties` dict (`RawFeature.py:74-92`,
  * `Transformation.py:47-65`): {missing, has_zero, min, max, distinct,
  * categorical}. Computed in ONE row pass for all columns of a layer (the
  * reference scans each column separately; [[Profiler.profile]] profiles
  * every column in one job regardless of column count).
  */
final case class ColumnProfile(
    name: String,
    isNumeric: Boolean,
    count: Long,
    missing: Long,
    min: Double,
    max: Double,
    hasZero: Boolean,
    distinct: Long) {
  def hasMissing: Boolean = missing > 0
}

object Profiler {

  /** Profile `numericCols` (expressions given as (name -> Column)) plus
    * `categoricalCols` in one shuffle-free row pass
    * ([[org.apache.spark.GraftBridge.foldPartitions]]): each partition folds
    * plain per-column accumulators, merged on the driver in partition
    * order, so a 64-candidate batch is one job with no aggregate to plan or
    * compile. A numeric column is read as a double, a categorical one as a
    * string: its missing count is `IS NULL`, its min and max are NaN and it
    * never has a zero. A NaN counts as missing and never bounds the range:
    * min and max are Spark's `min`/`max` over the non-NaN values (-0.0
    * equals 0.0 and the first one seen is kept), NaN when there is none.
    * `distinct` is Spark's HyperLogLog++ sketch at `approx_count_distinct`'s
    * default rsd, the same value that aggregate gives — the reference uses
    * exact nunique, but the only consumers are threshold guards (distinct
    * <= bins, constant-column prune), where the sketch is exact for small
    * cardinalities.
    */
  def profile(
      df: DataFrame,
      numericCols: Seq[(String, Column)],
      categoricalCols: Seq[(String, Column)] = Nil): Map[String, ColumnProfile] = {
    val cols = numericCols ++ categoricalCols
    if (cols.isEmpty) return Map.empty
    val nNum = numericCols.size
    val rows = df.select(cols.zipWithIndex.map { case ((_, c), i) =>
      if (i < nNum) c.cast("double") else c.cast("string")
    }: _*)
    val types = rows.schema.fields.map(_.dataType)
    val acc = GraftBridge.foldPartitions(rows) { (_, it) =>
      val a = new ProfileAcc(types, nNum)
      it.foreach(a.add)
      a
    }.foldLeft(new ProfileAcc(types, nNum))(_ merge _)
    cols.zipWithIndex.map { case ((n, _), i) =>
      n -> ColumnProfile(n, isNumeric = i < nNum, count = acc.rows, missing = acc.missing(i),
        min = if (acc.seen(i)) acc.min(i) else Double.NaN,
        max = if (acc.seen(i)) acc.max(i) else Double.NaN,
        hasZero = acc.zeros(i) > 0, distinct = acc.distinct(i))
    }.toMap
  }

  /** The relative error of `approx_count_distinct`'s default sketch. */
  private val DistinctRsd = 0.05

  /** One partition's profile counters over the projected columns (`types`,
    * numeric ones first): counts, Spark-ordered non-NaN min/max, zero counts and one
    * HyperLogLog++ register block per column. */
  private final class ProfileAcc(types: Array[DataType], nNum: Int) extends Serializable {
    private val n = types.length
    private val hll = new HyperLogLogPlusPlusHelper(DistinctRsd)
    private val words = hll.numWords
    private val sketch = new SpecificInternalRow(Seq.fill(n * words)(LongType))
    var rows = 0L
    val missing, zeros = new Array[Long](n)
    val min, max = new Array[Double](n)
    val seen = new Array[Boolean](n)
    (0 until n * words).foreach(sketch.setLong(_, 0L))

    private def offer(i: Int, v: Double): Unit = {
      if (!seen(i) || compareDoubles(v, min(i)) < 0) min(i) = v
      if (!seen(i) || compareDoubles(v, max(i)) > 0) max(i) = v
      seen(i) = true
    }

    def add(r: InternalRow): Unit = {
      rows += 1
      var i = 0
      while (i < n) {
        if (r.isNullAt(i)) missing(i) += 1
        else if (i < nNum) {
          val v = r.getDouble(i)
          if (v.isNaN) missing(i) += 1
          else offer(i, v)
          if (v == 0.0) zeros(i) += 1
          hll.update(sketch, i * words, v, types(i))
        } else hll.update(sketch, i * words, r.getUTF8String(i), types(i))
        i += 1
      }
    }

    /** Folds `o`, a later partition, into this one. */
    def merge(o: ProfileAcc): ProfileAcc = {
      rows += o.rows
      (0 until n).foreach { i =>
        missing(i) += o.missing(i)
        zeros(i) += o.zeros(i)
        if (o.seen(i)) { offer(i, o.min(i)); offer(i, o.max(i)) }
        hll.merge(sketch, o.sketch, i * words, i * words)
      }
      this
    }

    def distinct(i: Int): Long = hll.query(sketch, i * words)
  }

  /** Distinct values of each categorical column on the fit scope, in Spark's
    * string order, for OneHot enumeration (`generators/OneHotGenerator.py:
    * 6-21`). Capped — a column with more distinct values than `limit` is not
    * one-hot-able and gets none. One shuffle-free job for all columns: each
    * partition keeps only its `limit + 1` smallest values per column (a
    * bounded sorted set), so at most that many per column and partition
    * reach the driver, as with a `takeOrdered`.
    */
  def distinctValues(df: DataFrame, cols: Seq[Column], limit: Int = 100): Seq[Seq[String]] = {
    if (cols.isEmpty) return Seq.empty
    val n = cols.size
    val perPartition = GraftBridge.foldPartitions(df.select(cols.map(_.cast("string")): _*)) {
      (_, rows) =>
        val sets = Array.fill(n)(new java.util.TreeSet[UTF8String]())
        rows.foreach(r => (0 until n).foreach(i =>
          if (!r.isNullAt(i)) offerSmallest(sets(i), r.getUTF8String(i), limit + 1)))
        sets
    }
    (0 until n).map { i =>
      val merged = new java.util.TreeSet[UTF8String]()
      perPartition.foreach(_(i).forEach(v => offerSmallest(merged, v, limit + 1)))
      if (merged.size > limit) Seq.empty else merged.asScala.toSeq.map(_.toString)
    }
  }

  /** Keeps `s` the `keep` smallest of `s` and `v` (`v` is copied: a row's
    * string may point into a reused buffer). */
  private def offerSmallest(s: java.util.TreeSet[UTF8String], v: UTF8String, keep: Int): Unit =
    if (s.size < keep || v.compareTo(s.last) < 0) {
      s.add(v.clone())
      if (s.size > keep) s.pollLast()
    }
}
