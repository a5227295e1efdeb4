package graft.search

import graft.{SideBench, SparkSpec}
import graft.exprs._
import graft.profile.{ColumnProfile, Profiler}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class TraversalsSpec extends SparkSpec {
  import spark.implicits._

  private def planted = spark.range(2500).select(
    (pmod(xxhash64(col("id")), lit(100)).cast("double") / 100 + 0.5).as("x1"),
    (pmod(xxhash64(col("id") + 7), lit(100)).cast("double") / 100 + 0.5).as("x2"))
    .withColumn("y", (col("x1") * col("x2") > lit(1.0)).cast("int"))

  test("rank scores and harmonic mean match the reference arithmetic") {
    val reps = Seq(
      Traversals.Rep(RawCol("a"), 0.2, 1),
      Traversals.Rep(RawCol("b"), 0.5, 1),
      Traversals.Rep(Unary(UnaryOp.Log, RawCol("a")), 0.8, 2),
      Traversals.Rep(BinaryE(BinOp.Mul, RawCol("a"), RawCol("b")), 0.9, 3))
    val m = reps(3)
    // accuracy: P(score <= 0.9) = 4/4 ; simplicity: P(complexity >= 3) = 1/4
    assert(Traversals.accuracyScore(m, reps) == 1.0)
    assert(Traversals.simplicityScore(m, reps) == 0.25)
    val h = Traversals.hScore(m, reps)
    assert(math.abs(h - 2 * 0.25 * 1.0 / 1.25) < 1e-12, h.toString)
    assert(Traversals.harmonicMean(0.0, 0.0) == 0.0)
  }

  test("best-first global traversal finds the planted composition") {
    val res = Traversals.run(planted, Seq("x1", "x2"), col("y"),
      Traversals.PopRule.BestScore, maxRuns = 3,
      unaryOps = Seq(UnaryOp.Log, UnaryOp.MinMax), binaryOps = Seq(BinOp.Mul, BinOp.Add))
    assert(Canon.key(res.best.expr).contains("mul"), Canon.key(res.best.expr))
    val rootMax = res.seen.filter(_.complexity == 1).map(_.score).max
    assert(res.best.score > rootMax)
    // every popped node was on the frontier exactly once
    assert(res.popped.map(r => Canon.key(r.expr)).distinct.size == res.popped.size)
  }

  test("harmonic-mean traversal reaches the composition and pops simple reps early") {
    val res = Traversals.run(planted, Seq("x1", "x2"), col("y"),
      Traversals.PopRule.HarmonicMean, maxRuns = 5,
      unaryOps = Seq(UnaryOp.Log, UnaryOp.MinMax), binaryOps = Seq(BinOp.Mul, BinOp.Add))
    assert(Canon.key(res.best.expr).contains("mul"), Canon.key(res.best.expr))
    // the first pop must be a raw feature: with only raws seen, simplicity
    // P(complexity >= 1) = 1 dominates any later h a deeper node can get
    assert(res.popped.head.complexity == 1, res.popped.map(_.expr).toString)
  }

  // label depends on the PRODUCT x1*x2 — a composed feature beats any raw
  private def productFixture = (0 until 1000).map { i =>
    val x1 = (i % 25).toDouble - 12
    val x2 = ((i * 7) % 25).toDouble - 12
    val y = if (x1 * x2 > 0) 1.0 else 0.0
    (i.toLong, x1, x2, y)
  }.toDF("id", "x1", "x2", "y")

  private def greedy(df: DataFrame, depth: Int): Seq[Traversals.Rep] =
    Traversals.run(df, Seq("x1", "x2"), col("y"), Traversals.PopRule.Greedy,
      maxRuns = depth).popped

  test("greedy traversal descends a strictly improving path to a composition") {
    val path = greedy(productFixture, 3)
    assert(path.size >= 2, s"should improve past the raw root: $path")
    assert(path.sliding(2).forall { case Seq(a, b) => b.score > a.score; case _ => true })
    assert(path.last.score > path.head.score + 0.1,
      s"composition should add real MI: ${path.map(_.score)}")
  }

  test("greedy traversal guards a composed node's unary children") {
    // the champion x1*x2 has a negative derived min, so log/sqrt of it are
    // not applicable; Spark's log gives null for x <= 0, and that null
    // would carry the label (y = 1 iff x1*x2 > 0) into the missing bin
    val df = productFixture
    val path = greedy(df, 3)
    val known = collection.mutable.HashMap[String, ColumnProfile]() ++=
      Profiler.profile(df, Seq("x1", "x2").map(n => n -> col(n)))
    val prod = BinaryE(BinOp.Mul, RawCol("x1"), RawCol("x2"))
    assert(path.exists(s => Canon.key(s.expr) == Canon.key(prod)), path.toString)
    assert(Applicability.profileOf(prod, known).exists(_.min < 0))
    path.map(_.expr).foreach {
      case e @ Unary(op, ch) =>
        assert(Applicability.profileOf(ch, known).exists(Applicability.isApplicable(op, _)),
          s"$e was scored outside its domain: path $path")
      case _ =>
    }
  }

  test("greedy traversal keeps the depth-first Cognito path and its job count") {
    // the path and MI values the depth-first Cognito search returned on this
    // fixture at every maxDepth from 1 to 4, in 10 jobs at depth 1 and 16
    // from depth 2 on (mul(x1,x2) has no improving child)
    val cognito = Seq("x2" -> 0.3682932168245434, "mul(x1,x2)" -> 0.8554475003648954)
    val df = productFixture
    for ((depth, cognitoJobs) <- Seq(1 -> 10L, 3 -> 16L)) {
      val rec = new SideBench.Recorder(spark)
      val (path, jobs) = try {
        rec.take()
        val p = greedy(df, depth)
        (p, rec.take().jobs)
      } finally rec.close()
      assert(path.map(r => Canon.key(r.expr) -> r.score) == cognito, s"depth $depth")
      assert(jobs <= cognitoJobs, s"depth $depth: $jobs jobs vs $cognitoJobs")
    }
  }
}
