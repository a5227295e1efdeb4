package graft.windows

import graft.SparkSpec
import graft.transcripts.Transcripts
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cost-based GroupByThen routing: per-regime plan shape, live-probe picks,
  * and the bit-parity contract between the two routes.
  */
class GroupByAutoSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString()

  private val len = length(col("text")).cast("double")

  // balanced: 200 conversations x ~5 turns; skewed: one conversation holds
  // ~80% of all turns (maxKey~800 > total/parallelism=1000/4). Materialized
  // to parquet so plan assertions see only the operator under test (the
  // synthetic generator's own derivation window would pollute them).
  private def materialize(df: DataFrame, tag: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(s"gba_$tag").toString
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }
  private lazy val balanced =
    materialize(Transcripts.synthetic(spark, 1000, 200), "bal")
  private lazy val skewed = materialize(
    Transcripts.synthetic(spark, 1000, 200).withColumn("conv_id",
      when(pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(5L)) < 4, lit("hot"))
        .otherwise(col("conv_id"))), "skew")

  test("balanced histogram routes to the key-partition window (no join)") {
    val out = WindowFeatures.groupByThenAuto(balanced, "conv_id", len, "g")
    val p = plan(out)
    assert(p.contains("Window"), s"expected window route:\n$p")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"window route must not join:\n$p")
  }

  test("dominant-key histogram routes to salted two-phase + broadcast join-back") {
    val out = WindowFeatures.groupByThenAuto(skewed, "conv_id", len, "g")
    val p = plan(out)
    assert(p.contains("BroadcastHashJoin"), s"expected salted route:\n$p")
    assert(!p.contains("Window"), s"salted route must not window:\n$p")
  }

  test("routing never changes values: both routes bit-identical on integer-valued input") {
    def canon(routed: DataFrame) =
      routed.select(col("conv_id"), col("turn_idx"), col("g_mean"), col("g_std"),
          col("g_min"), col("g_max"), col("g_cnt"), col("g_sum"))
        .orderBy("conv_id", "turn_idx").collect().toSeq
    for (input <- Seq(balanced, skewed)) {
      val w = canon(WindowFeatures.groupByThenWindowed(input, "conv_id", len, "g"))
      val s = canon(WindowFeatures.groupByThenSalted(input, "conv_id", len, "g", salts = 8))
      assert(w == s)
    }
  }

  test("empty input: probe short-circuits, both routes return zero rows") {
    val empty = balanced.filter(lit(false))
    assert(graft.Route.keyStats(empty, "conv_id") == ((0L, 0L)))
    assert(WindowFeatures.groupByThenAuto(empty, "conv_id", len, "g").count() == 0L)
  }

  test("null keys get null aggregates on every route, as in an equi-join back") {
    import spark.implicits._
    val df = Seq[(String, Int, Double)](("a", 0, 1.0), ("a", 1, 5.0), (null, 0, 3.0),
      (null, 1, 9.0)).toDF("conv_id", "turn_idx", "v")
    val a = (Some(3.0), Some(math.sqrt(8.0)), Some(1.0), Some(5.0), Some(2L), Some(6.0))
    val none = (None, None, None, None, None, None)
    val expected = Seq((Option.empty[String], 0, none), (None, 1, none),
      (Some("a"), 0, a), (Some("a"), 1, a))
    val routes = Seq(
      "window" -> WindowFeatures.groupByThenWindowed(df, "conv_id", col("v"), "g"),
      "salted" -> WindowFeatures.groupByThenSalted(df, "conv_id", col("v"), "g"),
      "auto" -> WindowFeatures.groupByThenAuto(df, "conv_id", col("v"), "g"))
    for ((name, out) <- routes) {
      val got = out.select("conv_id", "turn_idx", "g_mean", "g_std", "g_min", "g_max",
          "g_cnt", "g_sum")
        .as[(Option[String], Int, Option[Double], Option[Double], Option[Double],
          Option[Double], Option[Long], Option[Double])]
        .collect().map(r => (r._1, r._2, (r._3, r._4, r._5, r._6, r._7, r._8)))
        .sortBy(r => (r._1.getOrElse(""), r._2)).toSeq
      assert(got == expected, name)
    }
  }

  // r5-verdict item 6: the one router branch with no plan assertion — the
  // non-broadcast fallback (key dimension too big to broadcast). The
  // join-back must be a SHUFFLE join, and AQE's skew-join handling must
  // actually engage on it (thresholds lowered to gate scale in a cloned
  // session; the parent test session's conf is untouched) — unlike the
  // window route, whose single hot-key partition nothing can split.
  test("non-broadcast salted fallback: shuffle join-back, AQE skew-split engages, values identical") {
    val dir = java.nio.file.Files.createTempDirectory("gba_skewns").toString
    Transcripts.synthetic(spark, 4000, 200).withColumn("conv_id",
      when(pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(5L)) < 4, lit("hot"))
        .otherwise(col("conv_id")))
      .write.mode("overwrite").parquet(dir)
    val ss = spark.newSession()
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    ss.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    ss.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2k")
    ss.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1k")
    val t = ss.read.parquet(dir)
    val out = WindowFeatures.groupByThenSalted(t, "conv_id", len, "g",
      salts = 8, broadcastJoin = false)
    val rows = out.select(col("conv_id"), col("turn_idx"), col("g_mean"), col("g_std"),
        col("g_min"), col("g_max"), col("g_cnt"), col("g_sum"))
      .orderBy("conv_id", "turn_idx").collect().toSeq
    val p = out.queryExecution.executedPlan.toString()
    assert(!p.contains("BroadcastHashJoin"), s"fallback must not broadcast:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"expected a shuffle join-back:\n$p")
    assert(p.toLowerCase.contains("skew"), s"expected AQE skew-split markers:\n$p")
    // value parity with the broadcast route on the same input
    val bRows = WindowFeatures.groupByThenSalted(spark.read.parquet(dir), "conv_id",
        len, "g", salts = 8, broadcastJoin = true)
      .select(col("conv_id"), col("turn_idx"), col("g_mean"), col("g_std"),
        col("g_min"), col("g_max"), col("g_cnt"), col("g_sum"))
      .orderBy("conv_id", "turn_idx").collect().toSeq
    assert(rows == bRows)
  }
}
