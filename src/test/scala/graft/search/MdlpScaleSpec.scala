package graft.search

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The r5-verdict scale fix: MDLP's value histogram must be bounded IN-PLAN
  * before any driver collect — a column over `maxDistinct` routes to
  * weighted-quantile pre-bucketing instead of collecting one row per
  * distinct value.
  */
class MdlpScaleSpec extends SparkSpec {

  test("over-bound column completes via the quantile route and finds the planted cut") {
    // 150k distinct values, label flips at 75000 — exact MDLP would cut at
    // 74999.5; the quantile route must complete without collecting 150k
    // histogram rows and land a cut at the same boundary region
    val df = spark.range(150000L).select(
      col("id").cast("double").as("v"),
      (col("id") >= 75000L).cast("int").as("y"))
    val cuts = Mdlp.fitCuts(df, col("v"), col("y"), maxDistinct = 10000)
    assert(cuts.nonEmpty, "quantile-routed MDLP found no cut on a perfectly separable column")
    assert(cuts.exists(c => c > 73000 && c < 77000),
      s"no cut near the planted boundary 75000: $cuts")
  }

  test("under-bound columns keep the exact path (same cuts as before the guard)") {
    // step label over 7 distinct values: exact MDLP accepts the midpoint 3.5
    val df = spark.range(7000L).select(
      (col("id") % 7).cast("double").as("v"),
      ((col("id") % 7) >= 4).cast("int").as("y"))
    val cuts = Mdlp.fitCuts(df, col("v"), col("y"))
    assert(cuts == IndexedSeq(3.5), s"exact path changed: $cuts")
  }

  test("batch with mixed routes: exact node exact, over-bound node bounded") {
    val df = spark.range(60000L).select(
      col("id").cast("double").as("cont"),          // 60k distinct -> routed
      (col("id") % 5).cast("double").as("disc"),    // 5 distinct  -> exact
      (col("id") >= 30000L).cast("int").as("y"))
    val cuts = Mdlp.fitCutsBatch(df,
      Seq("cont" -> col("cont"), "disc" -> col("disc")), col("y"), maxDistinct = 5000)
    assert(cuts("disc").isEmpty || cuts("disc").forall(c => c > 0 && c < 5))
    assert(cuts("cont").exists(c => c > 28000 && c < 32000),
      s"routed node missed the planted boundary: ${cuts("cont")}")
  }

  test("over-bound nodes share one quantile route and keep their per-node cuts") {
    // three continuous nodes over the bound with their planted boundaries
    // in different places, and one exact node
    val df = spark.range(60000L).select(
      col("id").cast("double").as("up"),
      (col("id") * 2 + 7).cast("double").as("scaled"),
      (lit(0) - col("id")).cast("double").as("down"),
      (col("id") % 5).cast("double").as("disc"),
      (col("id") >= 30000L).cast("int").as("y"))
    val names = Seq("up", "scaled", "down")
    def jobs(f: => Unit): Long = {
      val rec = new graft.SideBench.Recorder(spark)
      try { rec.take(); f; rec.take().jobs } finally rec.close()
    }
    var cuts = Map.empty[String, IndexedSeq[Double]]
    val batchJobs = jobs {
      cuts = Mdlp.fitCutsBatch(df, (names :+ "disc").map(n => n -> col(n)), col("y"),
        maxDistinct = 5000)
    }
    names.foreach { n =>
      assert(cuts(n) == Mdlp.fitCuts(df, col(n), col("y"), maxDistinct = 5000), n)
    }
    assert(cuts("up").exists(c => c > 29000 && c < 31000), cuts("up"))
    assert(cuts("scaled").exists(c => c > 58000 && c < 62000), cuts("scaled"))
    assert(cuts("down").exists(c => c > -31000 && c < -29000), cuts("down"))
    assert(cuts("disc").isEmpty || cuts("disc").forall(c => c > 0 && c < 5))
    val oneJobs = jobs { Mdlp.fitCutsBatch(df, Seq("up" -> col("up"), "disc" -> col("disc")),
      col("y"), maxDistinct = 5000); () }
    assert(batchJobs == oneJobs, s"$batchJobs jobs for three over-bound nodes, $oneJobs for one")
  }
}
