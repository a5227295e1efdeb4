package graft.search

import graft.SparkSpec
import graft.profile.{ColumnProfile, Profiler}
import org.apache.spark.GraftBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame}
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

  /** (jobs, stages, shuffle bytes written) of the Spark work `f` starts;
    * an exchange adds a stage (and under AQE a job) and writes shuffle
    * bytes. */
  private def work(f: => Unit): (Int, Int, Long) = {
    val jobs, stages = new java.util.concurrent.atomic.AtomicInteger
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size); ()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach(m => shuffled.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    GraftBridge.waitUntilListenerBusEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { f; GraftBridge.waitUntilListenerBusEmpty(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    (jobs.get, stages.get, shuffled.get)
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
    // `a`'s NaN rows (199 among them) are missing and do not bound its range
    assert(all("b").min == -100.0 && all("c").distinct == 1 && all("a").max == 198.0)
    assert(st("a").mi > 0 && st("c").mi == 0.0)
  }

  test("with every profile supplied, a batch runs one job and no exchange") {
    val prof = Profiler.profile(scoped, feats)
    assert(work { MIScorer.scoreBatch(scoped, feats, col("y"), profiles = prof); () } == ((1, 1, 0L)))
    // a profile pass is one more such job
    assert(work { Profiler.profile(scoped, feats); () } == ((1, 1, 0L)))
    assert(work { MIScorer.scoreBatch(scoped, feats, col("y")); () } == ((2, 2, 0L)))
  }

  test("value fingerprints: even value counts do not cancel; equal values collide") {
    // 400 rows of x in {-2, -1, 1, 2}, 100 of each: every value of x, 1/x
    // and x*x occurs an even number of times, and so do both indicators'
    // (200/200 and 240/160 ones): an xor of the hashes gives all five 0
    val df = spark.range(400).select(col("id"),
      element_at(typedLit(Seq(-2.0, -1.0, 1.0, 2.0)), (pmod(col("id"), lit(4)) + 1).cast("int"))
        .as("x"),
      (pmod(col("id"), lit(3)) === 0).cast("int").as("y"))
    val x = col("x")
    val cands = Seq("x" -> x, "inv" -> lit(1.0) / x, "sq" -> x * x,
      "half" -> (col("id") < 200).cast("double"), "most" -> (col("id") < 240).cast("double"),
      "x_again" -> -(-x))
    val st = MIScorer.scoreBatch(df, cands, col("y"))
    // the searches' value dedup: a candidate whose fingerprint was seen drops
    val seen = collection.mutable.HashSet[Long]()
    assert(cands.map(_._1).filter(n => seen.add(st(n).fingerprint)) ==
      Seq("x", "inv", "sq", "half", "most"))
    assert(st("x_again").fingerprint == st("x").fingerprint)
  }

  test("row pass equals the explode + group-by profile and scorer, bit for bit") {
    val id = col("id")
    def every(k: Int) = pmod(id, lit(k)) === 0
    val df = spark.range(3000).select(id,
        when(every(10), lit(null)).otherwise(pmod(id, lit(2))).cast("int").as("y"),
        when(every(97), lit(null)).when(every(89), lit(Double.NaN))
          .when(every(7), lit(0.0)).otherwise((id - 1000) / 3.0).as("a"),
        (pmod(id * 7, lit(101)) / 7.0).as("b"),
        when(every(83), lit(Double.PositiveInfinity)).when(every(79), lit(Double.NegativeInfinity))
          .otherwise(pmod(id, lit(13))).as("inf"),
        lit(3.0).as("const"),
        lit(null).cast("double").as("none"),
        element_at(typedLit(Seq("x", "y", "z")), (pmod(id, lit(3)) + 1).cast("int")).as("cat"))
      .repartition(5)
    val numeric = Seq("a", "b", "inf", "const", "none").map(n => n -> col(n))
    for ((frame, what) <- Seq(df -> "rows", df.filter(lit(false)) -> "empty",
        df.coalesce(1) -> "one partition")) {
      val got = MIScorer.scoreBatch(frame, numeric, col("y"))
      val want = ExplodeReference.scoreBatch(frame, numeric, col("y"), bins = 10)
      assert(got.keySet == want.keySet, what)
      want.foreach { case (n, w) =>
        assert(bits(got(n).profile) == bits(w.profile), s"$what: $n")
        assert(got(n).mi == w.mi, s"$what: $n")
        assert(got(n).fingerprint == w.fingerprint, s"$what: $n")
      }
      val cats = Seq("cat" -> col("cat"), "b" -> col("b").cast("string"))
      val gotP = Profiler.profile(frame, numeric, cats)
      val wantP = ExplodeReference.profile(frame, numeric, cats)
      wantP.foreach { case (n, p) => assert(bits(gotP(n)) == bits(p), s"$what: profile $n") }
    }
    val st = MIScorer.scoreBatch(df, numeric, col("y"))
    assert(st("a").mi > 0 && st("const").mi == 0.0 && st("const").profile.distinct == 1)
    assert(st("inf").profile.min == Double.NegativeInfinity && st("none").profile.min.isNaN)
    // NaN beside an infinity: the bounds are the non-NaN range [1, Inf], so
    // every finite value bins at 0 and the infinities at the last bin
    val mixed = Seq("m" -> when(every(5), lit(Double.NaN))
      .when(every(7), lit(Double.PositiveInfinity)).otherwise(id.cast("double")))
    val nanInf = MIScorer.scoreBatch(df, mixed, col("y"))("m")
    val nanInfRef = ExplodeReference.scoreBatch(df, mixed, col("y"), bins = 10)("m")
    assert(nanInf.profile.max == Double.PositiveInfinity && nanInf.profile.min == 1.0)
    assert(nanInf.mi == nanInfRef.mi && nanInf.mi > 0)
  }

  test("one NaN row does not widen the bin range") {
    // x = 0..999 with y = (x > 500): the bins split the range at 500, so MI
    // is near 1. A NaN in the bounds (max NaN, width 1) put every x above 9
    // into the last bin and the MI near 0
    val clean = spark.range(1000).select(col("id").cast("double").as("x"),
      (col("id") > 500).cast("int").as("y"))
    val withNaN = clean.union(Seq((Double.NaN, 0)).toDF("x", "y"))
    val a = MIScorer.scoreBatch(clean, Seq("x" -> col("x")), col("y"))("x")
    val b = MIScorer.scoreBatch(withNaN, Seq("x" -> col("x")), col("y"))("x")
    assert(a.mi > 0.99 && b.mi > 0.98, s"clean ${a.mi}, one NaN ${b.mi}")
    assert(b.profile.min == 0.0 && b.profile.max == 999.0 && b.profile.missing == 1)
  }
}

/** The explode + group-by aggregations that [[Profiler.profile]] and
  * [[MIScorer.scoreBatch]] ran before their row passes, kept as the parity
  * reference: the rows explode to one `(fid, value)` element per column and
  * group by `fid` (profile) or by `(fid, bin, y)` (scorer). The scorer's
  * groups collect their hashes for the wrapping-sum fingerprint (a Catalyst
  * `sum` throws on overflow under ANSI).
  */
object ExplodeReference {

  def profile(df: DataFrame, numericCols: Seq[(String, Column)],
      categoricalCols: Seq[(String, Column)] = Nil): Map[String, ColumnProfile] = {
    val cols = numericCols ++ categoricalCols
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
        count(when(when(col("fid") < nNum, v.isNull || isnan(v)).otherwise(s.isNull), 1)),
        min(when(!isnan(v), v)), max(when(!isnan(v), v)), count(when(v === 0.0, 1)),
        approx_count_distinct(v), approx_count_distinct(s))
      .collect()
    val byFid = rows.map(r => r.getInt(0) -> r).toMap
    cols.zipWithIndex.map { case ((n, _), i) =>
      val isNumeric = i < nNum
      n -> (byFid.get(i) match {
        case None =>
          ColumnProfile(n, isNumeric, 0L, 0L, Double.NaN, Double.NaN, hasZero = false, 0L)
        case Some(r) =>
          def dbl(ix: Int): Double = if (r.isNullAt(ix)) Double.NaN else r.getDouble(ix)
          ColumnProfile(n, isNumeric, r.getLong(1), r.getLong(2), dbl(3), dbl(4),
            r.getLong(5) > 0, r.getLong(if (isNumeric) 6 else 7))
      })
    }.toMap
  }

  def scoreBatch(df: DataFrame, feats: Seq[(String, Column)], label: Column,
      bins: Int): Map[String, MIScorer.FeatureStats] = {
    val prof = profile(df, feats)
    val y = label.cast("int")
    val pairs = feats.zipWithIndex.map { case ((_, c), i) =>
      struct(lit(i).as("fid"), c.cast("double").as("v"))
    }
    def at(xs: Seq[Double]) = element_at(typedLit(xs), col("fid") + 1)
    val lo = at(feats.map(f => prof(f._1).min))
    val hi = at(feats.map(f => prof(f._1).max))
    val w = at(feats.map { f =>
      val p = prof(f._1)
      if (p.max > p.min) (p.max - p.min) / bins else 1.0
    })
    val v = col("v")
    val binCol = when(v.isNull || isnan(v), lit(bins))
      .when(v <= lo, lit(0))
      .when(v >= hi, lit(bins - 1))
      .otherwise(least(greatest(ceil((v - lo) / w).cast("int") - 1, lit(0)), lit(bins - 1)))
    val grouped = df.filter(y.isNotNull)
      .select(explode(array(pairs: _*)).as("fv"), y.as("__y"))
      .select(col("fv.fid").as("fid"), col("fv.v").as("v"), col("__y"))
      .withColumn("__bin", binCol)
      .groupBy(col("fid"), col("__bin"), col("__y"))
      .agg(count(lit(1)).as("n"), collect_list(xxhash64(round(v, 6))).as("fp"))
      .collect()
    val byFid = grouped.groupBy(_.getInt(0)).withDefaultValue(Array.empty)
    feats.zipWithIndex.map { case ((n, _), i) =>
      val groups = byFid(i)
      val counts = (0 to bins).map { b =>
        def cnt(yv: Int): Long = groups.iterator
          .filter(g => g.getInt(1) == b && g.getInt(2) == yv).map(_.getLong(3)).sum
        (cnt(0), cnt(1))
      }
      val total = counts.map(t => t._1 + t._2).sum.toDouble
      val py1 = counts.map(_._2).sum / total
      val py0 = 1.0 - py1
      var mi = 0.0
      counts.foreach { case (c0, c1) =>
        val pb = (c0 + c1) / total
        if (c0 > 0) { val p = c0 / total; mi += p * math.log(p / (pb * py0)) }
        if (c1 > 0) { val p = c1 / total; mi += p * math.log(p / (pb * py1)) }
      }
      val hy = -Seq(py0, py1).filter(_ > 0).map(p => p * math.log(p)).sum
      val fp = groups.iterator.map(_.getSeq[Long](4).sum).sum
      n -> MIScorer.FeatureStats(prof(n), if (hy > 0) mi / hy else 0.0, fp)
    }.toMap
  }
}
