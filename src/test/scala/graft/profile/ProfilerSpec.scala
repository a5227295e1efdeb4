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
