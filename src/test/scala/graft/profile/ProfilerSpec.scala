package graft.profile

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class ProfilerSpec extends SparkSpec {

  /** The per-column one-hot query `distinctValues` replaced: distinct
    * non-null values in Spark's string order, capped at `limit`. */
  private def perColumn(df: DataFrame, c: Column, limit: Int): Seq[String] = {
    val vals = df.select(c.cast("string").as("v")).filter(col("v").isNotNull)
      .groupBy("v").count().orderBy(col("v")).limit(limit + 1)
      .collect().map(_.getString(0)).toSeq
    if (vals.size > limit) Seq.empty else vals
  }

  /** The one-row wide `df.agg` profile that `profile` replaced: six
    * aggregates per numeric column, three per categorical one. */
  private def wideAgg(df: DataFrame, numeric: Seq[String], categorical: Seq[String])
      : Map[String, ColumnProfile] = {
    val aggs = numeric.flatMap { n =>
      val d = col(n).cast("double")
      Seq(count(lit(1)), count(when(d.isNull || isnan(d), 1)), min(d), max(d),
        count(when(d === 0.0, 1)), approx_count_distinct(d))
    } ++ categorical.flatMap { n =>
      Seq(count(lit(1)), count(when(col(n).isNull, 1)), approx_count_distinct(col(n)))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    def dbl(i: Int): Double = if (row.isNullAt(i)) Double.NaN else row.getDouble(i)
    val nums = numeric.zipWithIndex.map { case (n, j) =>
      val o = 6 * j
      n -> ColumnProfile(n, isNumeric = true, row.getLong(o), row.getLong(o + 1),
        dbl(o + 2), dbl(o + 3), row.getLong(o + 4) > 0, row.getLong(o + 5))
    }
    val cats = categorical.zipWithIndex.map { case (n, j) =>
      val o = 6 * numeric.size + 3 * j
      n -> ColumnProfile(n, isNumeric = false, row.getLong(o), row.getLong(o + 1),
        Double.NaN, Double.NaN, hasZero = false, row.getLong(o + 2))
    }
    (nums ++ cats).toMap
  }

  // NaN != NaN under ==: compare the doubles by their bits
  private def bits(p: ColumnProfile) = (p.name, p.isNumeric, p.count, p.missing,
    java.lang.Double.doubleToLongBits(p.min), java.lang.Double.doubleToLongBits(p.max),
    p.hasZero, p.distinct)

  test("profile: one grouped aggregation equals the wide-agg profile") {
    val id = col("id")
    def every(k: Int) = pmod(id, lit(k)) === 0
    val df = spark.range(3000).select(
        when(every(97), lit(null)).when(every(89), lit(Double.NaN))
          .when(every(83), lit(Double.PositiveInfinity))
          .when(every(79), lit(Double.NegativeInfinity))
          .when(every(7), lit(0.0)).otherwise((id - 1000) / 3.0).as("a"),
        when(every(11), lit(null)).otherwise(pmod(id, lit(50)) - 25).cast("int").as("b"),
        lit(0.0).as("zero"),
        lit(null).cast("double").as("none"),
        when(every(13), lit(null)).otherwise(element_at(typedLit(Seq("é", "😀", "！", "日本", "a")),
          (pmod(id, lit(5)) + 1).cast("int"))).as("cat"),
        pmod(id, lit(1200)).cast("string").as("many"))
      .repartition(5)
    val numeric = Seq("a", "b", "zero", "none")
    val categorical = Seq("cat", "many")
    for ((frame, what) <- Seq(df -> "rows", df.filter(lit(false)) -> "empty")) {
      val got = Profiler.profile(frame, numeric.map(n => n -> col(n)),
        categorical.map(n => n -> col(n)))
      val want = wideAgg(frame, numeric, categorical)
      assert(got.keySet == want.keySet, what)
      want.foreach { case (n, p) => assert(bits(got(n)) == bits(p), s"$what: $n") }
    }
    val got = Profiler.profile(df, Seq("a" -> col("a")), Seq("cat" -> col("cat")))
    assert(got("a").min == Double.NegativeInfinity && got("a").max.isNaN && got("a").hasZero)
    assert(got("cat").missing > 0 && got("cat").distinct == 5 && !got("cat").isNumeric)
  }

  test("distinctValues: one query over all columns matches the per-column results") {
    // `few`: 31 values incl. ones whose UTF-8 order differs from Java's
    // UTF-16 order (U+FF01 sorts before U+1F600 in Spark), plus nulls;
    // `many`: 40 values, over the one-hot cap of 32
    val few = (0 until 28).map(i => f"v$i%02d") ++ Seq("！", "😀", "é")
    val df = spark.range(4000).select(
        when(pmod(col("id"), lit(13)) =!= 0, element_at(typedLit(few),
          (pmod(col("id") * 7, lit(few.size)) + 1).cast("int"))).as("few"),
        (pmod(col("id"), lit(40)) - 20).as("many"))
      .repartition(6)
    val cols = Seq(col("few"), col("many"))
    for (limit <- Seq(32, 100)) {
      val got = Profiler.distinctValues(df, cols, limit)
      assert(got == cols.map(perColumn(df, _, limit)), s"limit=$limit")
    }
    val got32 = Profiler.distinctValues(df, cols, limit = 32)
    assert(got32.head.size == few.size && got32.head.contains("😀"))
    assert(got32(1).isEmpty)
    // exactly at the cap still one-hots; one over it does not
    assert(Profiler.distinctValues(df, Seq(col("many")), limit = 40).head.size == 40)
    assert(Profiler.distinctValues(df, Seq(col("many")), limit = 39).head.isEmpty)
    assert(Profiler.distinctValues(df.filter(lit(false)), cols, 32) == Seq(Nil, Nil))
  }
}
