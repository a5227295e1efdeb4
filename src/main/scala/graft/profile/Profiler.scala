package graft.profile

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** Data-derived column properties driving applicability pruning — the analog
  * of the reference's `properties` dict (`RawFeature.py:74-92`,
  * `Transformation.py:47-65`): {missing, has_zero, min, max, distinct,
  * categorical}. Computed in ONE aggregation pass for all columns of a layer
  * (the reference scans each column separately; one wide `agg` is the
  * Spark-shaped equivalent — a single job regardless of column count).
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
    * `categoricalCols` in one pass. `distinct` uses approx_count_distinct —
    * the reference uses exact nunique, but the only consumers are threshold
    * guards (distinct <= bins, constant-column prune), where the approx
    * sketch at default rsd is exact for small cardinalities.
    */
  def profile(
      df: DataFrame,
      numericCols: Seq[(String, Column)],
      categoricalCols: Seq[(String, Column)] = Nil): Map[String, ColumnProfile] = {
    if (numericCols.isEmpty && categoricalCols.isEmpty) return Map.empty
    val aggs: Seq[Column] =
      numericCols.flatMap { case (n, c) =>
        val d = c.cast("double")
        Seq(
          count(lit(1)).as(s"${n}__cnt"),
          count(when(d.isNull || isnan(d), 1)).as(s"${n}__miss"),
          min(d).as(s"${n}__min"),
          max(d).as(s"${n}__max"),
          count(when(d === 0.0, 1)).as(s"${n}__zero"),
          approx_count_distinct(d).as(s"${n}__dist"))
      } ++
      categoricalCols.flatMap { case (n, c) =>
        Seq(
          count(lit(1)).as(s"${n}__cnt"),
          count(when(c.isNull, 1)).as(s"${n}__miss"),
          approx_count_distinct(c).as(s"${n}__dist"))
      }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    def g[T](f: String, dflt: T): T = {
      val i = row.fieldIndex(f)
      if (row.isNullAt(i)) dflt else row.get(i).asInstanceOf[T]
    }
    val nums = numericCols.map { case (n, _) =>
      n -> ColumnProfile(n, isNumeric = true,
        count = g(s"${n}__cnt", 0L), missing = g(s"${n}__miss", 0L),
        min = g(s"${n}__min", Double.NaN), max = g(s"${n}__max", Double.NaN),
        hasZero = g(s"${n}__zero", 0L) > 0, distinct = g(s"${n}__dist", 0L))
    }
    val cats = categoricalCols.map { case (n, _) =>
      n -> ColumnProfile(n, isNumeric = false,
        count = g(s"${n}__cnt", 0L), missing = g(s"${n}__miss", 0L),
        min = Double.NaN, max = Double.NaN, hasZero = false,
        distinct = g(s"${n}__dist", 0L))
    }
    (nums ++ cats).toMap
  }

  /** Explode-based numeric-only profile for wide candidate batches: same
    * results as [[profile]], but the F x 6 wide-agg expressions (which blow
    * the codegen method limit for a 64-candidate batch and fall back to
    * interpreted aggregation) become 6 aggregates grouped by fid.
    */
  def profileBatch(
      df: DataFrame,
      numericCols: Seq[(String, Column)]): Map[String, ColumnProfile] = {
    if (numericCols.isEmpty) return Map.empty
    val pairs = numericCols.zipWithIndex.map { case ((_, c), i) =>
      struct(lit(i).as("fid"), c.cast("double").as("v"))
    }
    val v = col("v")
    val rows = df.select(explode(array(pairs: _*)).as("fv"))
      .select(col("fv.fid").as("fid"), col("fv.v").as("v"))
      .groupBy(col("fid"))
      .agg(
        count(lit(1)).as("cnt"),
        count(when(v.isNull || isnan(v), 1)).as("miss"),
        min(v).as("mn"),
        max(v).as("mx"),
        count(when(v === 0.0, 1)).as("zero"),
        approx_count_distinct(v).as("dist"))
      .collect()
    val byFid = rows.map(r => r.getInt(r.fieldIndex("fid")) -> r).toMap
    numericCols.zipWithIndex.map { case ((n, _), i) =>
      byFid.get(i) match {
        // fid absent = zero input rows (empty df): the wide-agg path would
        // return one row of zero counts — mirror that, don't crash
        case None =>
          n -> ColumnProfile(n, isNumeric = true, count = 0L, missing = 0L,
            min = Double.NaN, max = Double.NaN, hasZero = false, distinct = 0L)
        case Some(r) =>
          def dbl(f: String): Double = {
            val ix = r.fieldIndex(f)
            if (r.isNullAt(ix)) Double.NaN else r.getDouble(ix)
          }
          n -> ColumnProfile(n, isNumeric = true,
            count = r.getLong(r.fieldIndex("cnt")),
            missing = r.getLong(r.fieldIndex("miss")),
            min = dbl("mn"), max = dbl("mx"),
            hasZero = r.getLong(r.fieldIndex("zero")) > 0,
            distinct = r.getLong(r.fieldIndex("dist")))
      }
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
