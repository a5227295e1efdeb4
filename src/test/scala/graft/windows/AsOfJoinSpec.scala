package graft.windows

import graft.SparkSpec
import graft.Tables
import graft.transcripts.Transcripts
import org.apache.spark.sql.functions._

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def left() = Seq(
    ("a", 0, "2024-01-01 00:00:00"),
    ("a", 1, "2024-01-01 00:05:00"),
    ("a", 2, "2024-01-01 00:10:00"),
    ("b", 0, "2024-01-01 00:07:00"))
    .map { case (c, i, t) => (c, i, ts(t)) }.toDF("conv_id", "turn_idx", "ts")

  private def right() = Seq(
    ("a", 1L, "2024-01-01 00:05:00", 10.0),  // exactly at a/turn1 -> visible there
    ("a", 2L, "2024-01-01 00:05:00", 20.0),  // same ts, higher seq wins
    ("a", 3L, "2024-01-01 00:09:00", 30.0),
    ("c", 4L, "2024-01-01 00:00:00", 99.0))
    .map { case (c, s, t, v) => (c, s, ts(t), v) }.toDF("conv_id", "seq", "ts", "pval")

  private val expected = Seq(
    ("a", 0, None), ("a", 1, Some(20.0)), ("a", 2, Some(30.0)), ("b", 0, None))

  test("asOf: latest right value at-or-before, equal-ts visible, max-seq tie-break") {
    val got = AsOfJoin.asOf(left(), right(), "conv_id", Seq("pval"), col("seq"))
      .select("conv_id", "turn_idx", "pval").as[(String, Int, Option[Double])]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == expected)
  }

  test("asOfSkew matches asOf on hand data for several bucket counts") {
    for (b <- Seq(1, 2, 7)) {
      val got = AsOfJoin.asOfSkew(left(), right(), "conv_id", Seq("pval"), col("seq"), b)
        .select("conv_id", "turn_idx", "pval").as[(String, Int, Option[Double])]
        .collect().sortBy(r => (r._1, r._2)).toSeq
      assert(got == expected, s"buckets=$b")
    }
  }

  test("null entity keys match nothing on every as-of route") {
    val l = Seq[(String, Long)](("a", 1L), ("a", 5L), (null, 3L), (null, 9L))
      .toDF("conv_id", "turn_idx").withColumn("ts", timestamp_seconds(col("turn_idx")))
    val r = Seq[(String, Long, Double)](("a", 0L, 10.0), ("a", 4L, 20.0), (null, 2L, 30.0),
        (null, 8L, 40.0))
      .toDF("conv_id", "seq", "pval").withColumn("ts", timestamp_seconds(col("seq")))
    val expected = Seq((Option.empty[String], 3L, Option.empty[Double]), (None, 9L, None),
      (Some("a"), 1L, Some(10.0)), (Some("a"), 5L, Some(20.0)))
    val routes = Seq(
      "asOf" -> AsOfJoin.asOf(l, r, "conv_id", Seq("pval"), col("seq")),
      "asOfBroadcast" -> AsOfJoin.asOfBroadcast(l, r, "conv_id", Seq("pval"), col("seq")),
      "auto" -> AsOfJoin.auto(l, r, "conv_id", Seq("pval"), col("seq"))) ++
      Seq(1, 4).map(b => s"asOfSkew($b)" ->
        AsOfJoin.asOfSkew(l, r, "conv_id", Seq("pval"), col("seq"), b))
    for ((name, out) <- routes) {
      val got = out.select("conv_id", "turn_idx", "pval")
        .as[(Option[String], Long, Option[Double])]
        .collect().sortBy(x => (x._1.getOrElse(""), x._2)).toSeq
      assert(got == expected, name)
    }
  }

  test("null entity keys match nothing on every range-aggregate route") {
    val l = Seq[(String, Long)](("a", 1L), ("a", 5L), (null, 3L), (null, 9L))
      .toDF("conv_id", "turn_idx").withColumn("ts", timestamp_seconds(col("turn_idx")))
    val r = Seq[(String, Long, Double)](("a", 0L, 10.0), ("a", 4L, 20.0), (null, 2L, 30.0),
        (null, 8L, 40.0))
      .toDF("conv_id", "seq", "pval").withColumn("ts", timestamp_seconds(col("seq")))
    val aggs = Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)](
      "cnt" -> (c => count(c)), "mx" -> (c => max(c)))
    val expected = Seq((Option.empty[String], 3L, 0L, Option.empty[Double]), (None, 9L, 0L, None),
      (Some("a"), 1L, 1L, Some(10.0)), (Some("a"), 5L, 2L, Some(20.0)))
    val routes = ("rangeAgg" -> AsOfJoin.rangeAgg(l, r, "conv_id", "pval", 3600L, aggs)) +:
      Seq(1, 4).map(b => s"rangeAggSkew($b)" ->
        AsOfJoin.rangeAggSkew(l, r, "conv_id", "pval", 3600L, aggs, b))
    for ((name, out) <- routes) {
      val got = out.select("conv_id", "turn_idx", "cnt", "mx")
        .as[(Option[String], Long, Long, Option[Double])]
        .collect().sortBy(x => (x._1.getOrElse(""), x._2)).toSeq
      assert(got == expected, name)
    }
  }

  test("asOfSkew == asOf on sf0.001 transcripts x purchases") {
    val l = Transcripts.fromEvents(Tables.events(spark, sf0001))
    val r = Tables.events(spark, sf0001)
      .filter(col("event_type") === "purchase")
      .select(concat(lit("c"), col("user_id").cast("string")).as("conv_id"),
        col("ts").cast("timestamp").as("ts"), col("event_id"), col("value").as("pval"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("conv_id", "turn_idx", "pval").as[(String, Int, Option[Double])]
        .collect().sortBy(x => (x._1, x._2)).toSeq
    val plain = canon(AsOfJoin.asOf(l, r, "conv_id", Seq("pval"), col("event_id")))
    val skew = canon(AsOfJoin.asOfSkew(l, r, "conv_id", Seq("pval"), col("event_id"), 8))
    assert(plain.nonEmpty && plain == skew)
  }

  test("rangeAggSkew == rangeAgg across bucket counts, incl. delta > bucket width") {
    val l = Transcripts.fromEvents(Tables.events(spark, sf0001))
    val r = Tables.events(spark, sf0001)
      .filter(col("event_type") === "purchase")
      .select(concat(lit("c"), col("user_id").cast("string")).as("conv_id"),
        col("ts").cast("timestamp").as("ts"), col("value"))
    val aggs = Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)](
      "c1h" -> (c => count(c)), "mx1h" -> (c => max(c)))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("conv_id"), col("turn_idx"), col("c1h"), col("mx1h"))
        .as[(String, Int, Long, Option[Double])]
        .collect().sortBy(x => (x._1, x._2)).toSeq
    val plain = canon(AsOfJoin.rangeAgg(l, r, "conv_id", "value", 3600L, aggs))
    assert(plain.nonEmpty && plain.exists(_._3 > 0))
    // 256 buckets over ~a few days of events makes bucketWidth < 1h, so the
    // fringe replication spans MULTIPLE buckets — the exactness-critical case
    for (b <- Seq(4, 32, 256)) {
      val skew = canon(AsOfJoin.rangeAggSkew(l, r, "conv_id", "value", 3600L, aggs, b))
      assert(skew == plain, s"buckets=$b")
    }
  }

  test("a multi-aggregate rangeAgg equals one single-aggregate call per aggregate") {
    val l = Transcripts.fromEvents(Tables.events(spark, sf0001))
    val r = Tables.events(spark, sf0001)
      .filter(col("event_type") === "purchase")
      .select(concat(lit("c"), col("user_id").cast("string")).as("conv_id"),
        col("ts").cast("timestamp").as("ts"), col("value"))
    type Aggs = Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)]
    val aggs: Aggs = Seq("c1h" -> (c => count(c)), "s1h" -> (c => sum(c)), "mx1h" -> (c => max(c)))
    val key = Seq("conv_id", "turn_idx")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(key.map(col): _*).collect().toSeq
    val routes = Seq[(String, Aggs => org.apache.spark.sql.DataFrame)](
      "rangeAgg" -> (a => AsOfJoin.rangeAgg(l, r, "conv_id", "value", 3600L, a)),
      "rangeAggSkew" -> (a => AsOfJoin.rangeAggSkew(l, r, "conv_id", "value", 3600L, a, 8)))
    for ((name, route) <- routes) {
      val all = route(aggs)
      assert(all.columns.toSeq == l.columns.toSeq ++ aggs.map(_._1), name)
      val singles = aggs.map(a => route(Seq(a)).select((key :+ a._1).map(col): _*))
        .reduce(_.join(_, key))
      val got = rows(all.select((key ++ aggs.map(_._1)).map(col): _*))
      assert(got.nonEmpty && got.exists(_.getLong(2) > 0), name)
      assert(got == rows(singles), name)
    }
  }

  test("skew variants return empty on an empty time domain instead of NPEing") {
    // min/max over zero rows is NULL; the bucket math must short-circuit
    val l = left().filter(lit(false))
    val r = right().filter(lit(false))
    assert(AsOfJoin.asOfSkew(l, r, "conv_id", Seq("pval"), col("seq")).count() == 0L)
    val aggs = Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)](
      "cnt" -> (c => count(c)))
    assert(AsOfJoin.rangeAggSkew(l, r, "conv_id", "pval", 3600L, aggs).count() == 0L)
    // empty right side only: left rows still come back (null/zero-filled)
    assert(AsOfJoin.rangeAggSkew(left(), r, "conv_id", "pval", 3600L, aggs).count() == 4L)
  }
}
