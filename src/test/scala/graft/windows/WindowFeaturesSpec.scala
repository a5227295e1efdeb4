package graft.windows

import graft.SparkSpec
import graft.transcripts.{Transcripts, Turn}
import graft.Tables
import org.apache.spark.sql.functions._

class WindowFeaturesSpec extends SparkSpec {
  import spark.implicits._

  private def turns(rows: (String, Int, String, String, Option[String], String)*) =
    rows.map { case (c, i, r, t, tool, time) => Turn(c, i, r, t, tool, ts(time)) }.toDS.toDF

  test("sessionId splits on gaps > threshold, 0-based per conversation") {
    val df = turns(
      ("a", 0, "user", "x", None, "2024-01-01 00:00:00"),
      ("a", 1, "assistant", "y", None, "2024-01-01 00:10:00"),
      ("a", 2, "user", "z", None, "2024-01-01 01:10:00"),   // 60 min gap -> new session
      ("a", 3, "tool", "w", Some("search"), "2024-01-01 01:20:00"),
      ("b", 0, "user", "q", None, "2024-01-01 00:00:00"))
    val got = df.withColumn("sid", WindowFeatures.sessionId(1800L))
      .select("conv_id", "turn_idx", "sid").as[(String, Int, Int)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(("a", 0, 0), ("a", 1, 0), ("a", 2, 1), ("a", 3, 1), ("b", 0, 0)))
  }

  test("backfill carries last non-null tool forward, never backward") {
    val df = turns(
      ("a", 0, "user", "x", None, "2024-01-01 00:00:00"),
      ("a", 1, "tool", "y", Some("search"), "2024-01-01 00:01:00"),
      ("a", 2, "user", "z", None, "2024-01-01 00:02:00"),
      ("a", 3, "tool", "w", Some("code"), "2024-01-01 00:03:00"),
      ("a", 4, "user", "v", None, "2024-01-01 00:04:00"))
    val got = df.withColumn("lt", WindowFeatures.backfill(col("tool")))
      .select("turn_idx", "lt").as[(Int, Option[String])]
      .collect().sortBy(_._1).map(_._2).toSeq
    assert(got == Seq(None, Some("search"), Some("search"), Some("code"), Some("code")))
  }

  test("rollingRows mean over last 3 turns") {
    val df = turns(
      ("a", 0, "u", "aa", None, "2024-01-01 00:00:00"),      // len 2
      ("a", 1, "u", "aaaa", None, "2024-01-01 00:01:00"),    // len 4
      ("a", 2, "u", "aaaaaa", None, "2024-01-01 00:02:00"),  // len 6
      ("a", 3, "u", "aaaaaaaa", None, "2024-01-01 00:03:00"))// len 8
    val got = df.withColumn("m",
        WindowFeatures.rollingRows(avg, length(col("text")).cast("double"), 3))
      .select("turn_idx", "m").as[(Int, Double)]
      .collect().sortBy(_._1).map(_._2).toSeq
    assert(got == Seq(2.0, 3.0, 4.0, 6.0))
  }

  test("standardFeatures replaces an input column of an output's name in place") {
    // the input already holds two output names, one early and one late
    val in = Transcripts.fromEvents(Tables.events(spark, sf0001))
      .withColumn("session_id", lit("stale")).withColumn("text_len", lit(-1.0))
    val textLen = length(col("text")).cast("double")
    // one column at a time from the single-feature helpers
    val expected = in
      .withColumn("text_len", textLen)
      .withColumn("gap_secs", WindowFeatures.gapSecs())
      .withColumn("prev_role", WindowFeatures.lagCol(col("role"), 1))
      .withColumn("roll5_mean_len", WindowFeatures.rollingRows(avg, textLen, 5))
      .withColumn("session_id", WindowFeatures.sessionId(1800L))
      .withColumn("run_mean_len", WindowFeatures.groupByThenAtOrBefore(avg, textLen))
      .withColumn("last_tool", WindowFeatures.backfill(col("tool")))
    val got = WindowFeatures.standardFeatures(in)
    assert(got.schema == expected.schema)
    assert(got.columns.toSeq == in.columns.toSeq ++
      Seq("gap_secs", "prev_role", "roll5_mean_len", "run_mean_len", "last_tool"))
    val rows = got.orderBy("conv_id", "turn_idx").collect().toSeq
    assert(rows.nonEmpty && rows.exists(_.getAs[Int]("session_id") > 0))
    assert(rows == expected.orderBy("conv_id", "turn_idx").collect().toSeq)
  }

  test("no temporal leakage: dropping later turns leaves earlier features unchanged") {
    val full = Transcripts.fromEvents(Tables.events(spark, sf0001))
    val feats = WindowFeatures.standardFeatures(full)
    val cutoff = lit("2024-01-10 00:00:00").cast("timestamp")
    val truncFeats = WindowFeatures.standardFeatures(full.filter(col("ts") <= cutoff))
    val a = feats.filter(col("ts") <= cutoff)
      .drop("ts").orderBy("conv_id", "turn_idx").collect()
    val b = truncFeats.drop("ts").orderBy("conv_id", "turn_idx").collect()
    assert(a.length == b.length && a.length > 0)
    assert(a.sameElements(b))
  }

  test("partitioning invariance: shuffle partitions do not change results") {
    val full = Transcripts.fromEvents(Tables.events(spark, sf0001)).repartition(13)
    val feats = WindowFeatures.standardFeatures(full)
      .drop("ts").orderBy("conv_id", "turn_idx").collect()
    val feats2 = WindowFeatures.standardFeatures(
        Transcripts.fromEvents(Tables.events(spark, sf0001)).repartition(3))
      .drop("ts").orderBy("conv_id", "turn_idx").collect()
    assert(feats.sameElements(feats2))
  }
}
