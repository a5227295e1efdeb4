package graft.profile

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** Data-derived column properties driving applicability pruning — the analog
  * of the reference's `properties` dict (`RawFeature.py:74-92`,
  * `Transformation.py:47-65`): {missing, has_zero, min, max, distinct,
  * categorical}. Computed in ONE aggregation pass for all columns of a layer
  * (the reference scans each column separately; [[Profiler.profile]]
  * aggregates every column in one job regardless of column count).
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
    * `categoricalCols` in one aggregation: the rows explode to one
    * `(fid, v: double, s: string)` element per column and group by `fid`,
    * so a 64-candidate batch is a few compact aggregates, not the F x 6
    * expressions of a wide `agg` (which blow the codegen method limit and
    * fall back to interpreted aggregation). A numeric column fills `v`, a
    * categorical one `s`: its missing count is `s IS NULL`, its min and
    * max are NaN and it never has a zero. `distinct` uses
    * approx_count_distinct — the reference uses exact nunique, but the
    * only consumers are threshold guards (distinct <= bins, constant-column
    * prune), where the approx sketch at default rsd is exact for small
    * cardinalities.
    */
  def profile(
      df: DataFrame,
      numericCols: Seq[(String, Column)],
      categoricalCols: Seq[(String, Column)] = Nil): Map[String, ColumnProfile] = {
    val cols = numericCols ++ categoricalCols
    if (cols.isEmpty) return Map.empty
    val nNum = numericCols.size
    val elems = cols.zipWithIndex.map { case ((_, c), i) =>
      val (num, str) =
        if (i < nNum) (c.cast("double"), lit(null).cast("string"))
        else (lit(null).cast("double"), c.cast("string"))
      struct(lit(i).as("fid"), num.as("v"), str.as("s"))
    }
    val (v, s) = (col("v"), col("s"))
    val rows = df.select(explode(array(elems: _*)).as("e"))
      .select(col("e.fid").as("fid"), col("e.v").as("v"), col("e.s").as("s"))
      .groupBy(col("fid"))
      .agg(
        count(lit(1)).as("cnt"),
        count(when(when(col("fid") < nNum, v.isNull || isnan(v)).otherwise(s.isNull), 1))
          .as("miss"),
        min(v).as("mn"),
        max(v).as("mx"),
        count(when(v === 0.0, 1)).as("zero"),
        approx_count_distinct(v).as("dist_v"),
        approx_count_distinct(s).as("dist_s"))
      .collect()
    val byFid = rows.map(r => r.getInt(r.fieldIndex("fid")) -> r).toMap
    cols.zipWithIndex.map { case ((n, _), i) =>
      val isNumeric = i < nNum
      n -> (byFid.get(i) match {
        // fid absent = zero input rows (empty df): zero counts, unknown bounds
        case None =>
          ColumnProfile(n, isNumeric, count = 0L, missing = 0L,
            min = Double.NaN, max = Double.NaN, hasZero = false, distinct = 0L)
        case Some(r) =>
          def dbl(f: String): Double = {
            val ix = r.fieldIndex(f)
            if (r.isNullAt(ix)) Double.NaN else r.getDouble(ix)
          }
          ColumnProfile(n, isNumeric,
            count = r.getLong(r.fieldIndex("cnt")),
            missing = r.getLong(r.fieldIndex("miss")),
            min = dbl("mn"), max = dbl("mx"),
            hasZero = r.getLong(r.fieldIndex("zero")) > 0,
            distinct = r.getLong(r.fieldIndex(if (isNumeric) "dist_v" else "dist_s")))
      })
    }.toMap
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
    val perPartition = df.select(cols.map(_.cast("string")): _*).queryExecution.toRdd
      .mapPartitions { rows =>
        val sets = Array.fill(n)(new java.util.TreeSet[UTF8String]())
        rows.foreach(r => (0 until n).foreach(i =>
          if (!r.isNullAt(i)) offerSmallest(sets(i), r.getUTF8String(i), limit + 1)))
        Iterator(sets)
      }
      .collect()
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
