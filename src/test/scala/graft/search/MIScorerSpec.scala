package graft.search

import graft.{SideBench, SparkSpec}
import graft.profile.{ColumnProfile, Profiler}
import org.apache.spark.sql.functions._

class MIScorerSpec extends SparkSpec {
  import spark.implicits._

  // null labels on every 10th row, where `b` also holds its only -100; NaN
  // in `a`, nulls in `b`, and a constant `c`
  private lazy val scoped = (0 until 200).map { i =>
    val y = if (i % 10 == 0) None else Some(i % 2)
    val a = if (i % 7 == 3) Double.NaN else i.toDouble
    val b = if (i % 5 == 1) None else if (y.isEmpty) Some(-100.0) else Some((i % 13).toDouble - 6)
    (i, y, a, b, 3.0)
  }.toDF("id", "y", "a", "b", "c")
  private val feats = Seq("a", "b", "c").map(n => n -> col(n))

  // NaN != NaN under ==: compare the doubles by their bits
  private def bits(p: ColumnProfile) = (p.name, p.isNumeric, p.count, p.missing,
    java.lang.Double.doubleToLongBits(p.min), java.lang.Double.doubleToLongBits(p.max),
    p.hasZero, p.distinct)

  private def jobsDuring(f: => Unit): Long = {
    val rec = new SideBench.Recorder(spark)
    try { rec.take(); f; rec.take().jobs } finally rec.close()
  }

  test("profile covers every row; MI and fingerprint cover the labelled rows") {
    val st = MIScorer.scoreBatch(scoped, feats, col("y"))
    val all = Profiler.profile(scoped, feats)
    feats.foreach { case (n, _) => assert(bits(st(n).profile) == bits(all(n)), n) }
    // the bin bounds are the all-rows profile's, so the labelled-only run
    // gets the same profiles and must give the same counts
    val labelled = MIScorer.scoreBatch(scoped.filter(col("y").isNotNull), feats, col("y"),
      profiles = all)
    feats.foreach { case (n, _) =>
      assert(st(n).mi == labelled(n).mi, n)
      assert(st(n).fingerprint == labelled(n).fingerprint, n)
    }
    assert(all("b").min == -100.0 && all("c").distinct == 1 && all("a").max.isNaN)
    assert(st("a").mi > 0 && st("c").mi == 0.0)
  }

  test("with every profile supplied, a batch runs one grouped aggregation's jobs") {
    val prof = Profiler.profile(scoped, feats)
    val oneAgg = jobsDuring {
      scoped.groupBy(col("y"), col("c")).agg(count(lit(1))).collect(); ()
    }
    val supplied = jobsDuring { MIScorer.scoreBatch(scoped, feats, col("y"), profiles = prof); () }
    assert(supplied == oneAgg, s"$supplied jobs vs $oneAgg for one grouped aggregation")
    val profiling = jobsDuring { Profiler.profile(scoped, feats); () }
    val unsupplied = jobsDuring { MIScorer.scoreBatch(scoped, feats, col("y")); () }
    assert(unsupplied == profiling + oneAgg,
      s"$unsupplied jobs vs $profiling for one profile pass + $oneAgg")
  }
}
