package graft.search

import graft.{SparkSpec, Tables}
import graft.exprs._
import graft.transcripts.Transcripts
import org.apache.spark.sql.functions._

class CdfcSpec extends SparkSpec {
  import spark.implicits._

  test("enumeration emits both operand orders for non-commutative ops") {
    val x = RawCol("x")
    val ohY = Unary(UnaryOp.EqualsStr("v"), RawCol("y")) // complexity 2
    val pools = Map(1 -> Vector[FeatureExpr](x), 2 -> Vector[FeatureExpr](ohY))
      .withDefaultValue(Vector.empty)
    val cfg = CdfcConfig(binaryOps = Seq(BinOp.Sub, BinOp.Div, BinOp.Add))
    val layer4 = Cdfc.enumerate(4, pools, Nil, Nil, cfg)
    // asymmetric split (1, 2): both Sub orders must appear
    assert(layer4.contains(BinaryE(BinOp.Sub, x, ohY)))
    assert(layer4.contains(BinaryE(BinOp.Sub, ohY, x)))
    assert(layer4.contains(BinaryE(BinOp.Div, x, ohY)))
    assert(layer4.contains(BinaryE(BinOp.Div, ohY, x)))
    // commutative ops are not duplicated
    assert(layer4.count(_ == BinaryE(BinOp.Add, x, ohY)) == 1)
    assert(!layer4.contains(BinaryE(BinOp.Add, ohY, x)))
    // symmetric split (1, 1) at cost 3 already iterates both orders once
    val x2 = RawCol("x2")
    val pools2 = Map(1 -> Vector[FeatureExpr](x, x2)).withDefaultValue(Vector.empty)
    val layer3 = Cdfc.enumerate(3, pools2, Nil, Nil, cfg)
    assert(layer3.count(_ == BinaryE(BinOp.Sub, x, x2)) == 1)
    assert(layer3.count(_ == BinaryE(BinOp.Sub, x2, x)) == 1)
    assert(!layer3.contains(BinaryE(BinOp.Sub, x, x))) // x-x constant: skipped
  }

  test("MI scorer: perfectly informative feature ~1, independent feature ~0") {
    val n = 2000
    val df = spark.range(n).select(
      col("id"),
      (col("id") % 2).cast("int").as("y"),
      (col("id") % 2).cast("double").as("perfect"),
      (pmod(xxhash64(col("id")), lit(1000)).cast("double") / 1000).as("noise"))
    val feats = Seq("perfect" -> col("perfect"), "noise" -> col("noise"))
    val st = MIScorer.scoreBatch(df, feats, col("y"))
    assert(st("perfect").mi > 0.99)
    assert(st("noise").mi < 0.05)
    assert(st("perfect").profile.distinct == 2)
  }

  test("MI scorer fingerprint: identical value distributions collide, different do not") {
    val df = spark.range(1000).select(
      col("id"), (col("id") % 2).cast("int").as("y"),
      col("id").cast("double").as("a"),
      col("id").cast("double").as("a2"),
      (col("id") + 1).cast("double").as("b"))
    val st = MIScorer.scoreBatch(df,
      Seq("a" -> col("a"), "a2" -> col("a2"), "b" -> col("b")), col("y"))
    assert(st("a").fingerprint == st("a2").fingerprint)
    assert(st("a").fingerprint != st("b").fingerprint)
  }

  test("CDFC search on a planted signal: finds a combination beating raw features") {
    // y depends on x1*x2 (threshold); x1, x2 alone are weakly informative
    val df = spark.range(4000).select(
      (pmod(xxhash64(col("id")), lit(100)).cast("double") / 100 + 0.5).as("x1"),
      (pmod(xxhash64(col("id") + 7), lit(100)).cast("double") / 100 + 0.5).as("x2"),
      lit("g").as("dummy_cat"))
      .withColumn("y", (col("x1") * col("x2") > lit(1.0)).cast("int"))
    val res = new Cdfc(df, Seq("x1", "x2"), Seq.empty, Seq.empty, col("y"),
      CdfcConfig(cMax = 3, binaryOps = Seq(BinOp.Mul, BinOp.Add),
        unaryOps = Seq(UnaryOp.Minus, UnaryOp.Log, UnaryOp.MinMax),
        groupByAggs = Seq.empty, lrTopK = 0)).run() // MI-stage mechanics under test
    val rawBest = res.survivors.filter(_.complexity == 1).map(_.score).max
    assert(res.best.score > rawBest + 0.1,
      s"best=${res.best.key} ${res.best.score} vs raw $rawBest")
    assert(res.best.key.contains("mul"))
  }

  test("search dedups: -(-x) and duplicate-valued candidates never evaluated twice") {
    val df = spark.range(500).select(
      col("id").cast("double").as("x1"),
      (col("id") % 2).cast("int").as("y"))
    val res = new Cdfc(df, Seq("x1"), Seq.empty, Seq.empty, col("y"),
      CdfcConfig(cMax = 3, unaryOps = Seq(UnaryOp.Minus, UnaryOp.MinMax),
        binaryOps = Seq.empty, groupByAggs = Seq.empty, lrTopK = 0)).run()
    val keys = res.survivors.map(_.key)
    assert(keys.distinct.size == keys.size)
    // scale(x) has the same binned distribution as x -> fingerprint-deduped;
    // minus(x) is inherited (skip rule); so survivors stay small
    assert(res.survivors.count(_.passed) <= 2, res.survivors.mkString("\n"))
  }

  test("maxLayerWidth cap: overflow is score-ordered, counted, and never silent") {
    // 6 raw features x 4 unary ops = 24 layer-2 candidates; cap at 5
    val raw = (1 to 6).map(i => s"x$i")
    val df = spark.range(800).select(
      (col("id") % 2).cast("int").as("y") +:
        raw.zipWithIndex.map { case (n, i) =>
          (pmod(xxhash64(col("id") + i), lit(100)).cast("double") / 100 + 0.5 + i).as(n)
        }: _*)
    val res = new Cdfc(df, raw, Nil, Nil, col("y"),
      CdfcConfig(cMax = 2, maxLayerWidth = 5,
        unaryOps = Seq(UnaryOp.Log, UnaryOp.Sqrt, UnaryOp.Square, UnaryOp.MinMax),
        binaryOps = Seq.empty, groupByAggs = Seq.empty, lrTopK = 0)).run()
    val l2 = res.layers.find(_.complexity == 2).get
    assert(l2.dropped > 0, s"expected a recorded drop, got $l2")
    assert(l2.enumerated == 24)
    // evaluated exactly maxLayerWidth: survivors+non-survivors of layer 2 <= 5
    assert(res.survivors.count(_.complexity == 2) <= 5)
    // deterministic: a second run records the identical layer log + champion
    val res2 = new Cdfc(df, raw, Nil, Nil, col("y"),
      CdfcConfig(cMax = 2, maxLayerWidth = 5,
        unaryOps = Seq(UnaryOp.Log, UnaryOp.Sqrt, UnaryOp.Square, UnaryOp.MinMax),
        binaryOps = Seq.empty, groupByAggs = Seq.empty, lrTopK = 0)).run()
    assert(res2.layers == res.layers && res2.best.key == res.best.key)
  }

  test("LR re-scoring (lrTopK) overrides a non-monotone high-MI decoy champion") {
    // Planted divergence between the two oracles: 60% of rows take their
    // label from the PARITY of x1's 0.1-wide band (high binned MI -- each
    // equal-width bin is ~pure parity -- but AUC ~0.5, no monotone
    // ranking); 40% take it from the threshold x2*x3 > 1 (monotone in the
    // product -> the LR champion). MI-only search crowns the decoy x1;
    // LR-in-the-loop must crown mul(x2, x3).
    // All arithmetic is portable multiplicative hashing (public xxhash
    // prime constants), reproducible in any SQL engine.
    val base = spark.range(2500).select(
      (pmod(col("id") * 2654435761L, lit(1009L)).cast("double") / 1009.0 + 0.5).as("x1"),
      (pmod(col("id") * 2246822519L, lit(1009L)).cast("double") / 1009.0 + 0.5).as("x2"),
      (pmod(col("id") * 3266489917L, lit(1009L)).cast("double") / 1009.0 + 0.5).as("x3"),
      pmod(col("id") * 668265263L, lit(10L)).as("g"))
      .withColumn("y", when(col("g") < 4, (col("x2") * col("x3") > 1.0).cast("int"))
        .otherwise(pmod(floor((col("x1") - 0.5) * 10).cast("long"), lit(2L)).cast("int")))
      .drop("g")
    val cfg = CdfcConfig(cMax = 3, binaryOps = Seq(BinOp.Mul),
      unaryOps = Seq(UnaryOp.Minus, UnaryOp.MinMax), groupByAggs = Seq.empty,
      lrTopK = 0) // the MI-only arm of the divergence pair
    val mi = new Cdfc(base, Seq("x1", "x2", "x3"), Nil, Nil, col("y"), cfg).run()
    val lr = new Cdfc(base, Seq("x1", "x2", "x3"), Nil, Nil, col("y"),
      cfg.copy(lrTopK = 4)).run()
    // MI crowns the decoy or an affine image of it (binning noise can favor
    // e.g. scale(minus(x1)) over raw x1 by a hair) — never the product
    assert(mi.best.key.contains("x1") && !mi.best.key.contains("mul"),
      s"MI champion should be the x1 decoy, got ${mi.best.key}")
    assert(lr.best.key == "mul(x2,x3)",
      s"LR champion should be the planted product, got ${lr.best.key} (score ${lr.best.score})")
    assert(lr.best.score > 0.6 && lr.best.score < 1.0) // an AUC, not an MI
  }

  test("the two-stage MI->LR oracle is the DEFAULT: default config re-scores with LR") {
    // reference semantics (run_evaluation.py:142-243: every candidate is
    // CV-LR-scored) must hold without opt-in — a default-config search runs
    // the LR stage and crowns its champion from the AUC channel
    assert(CdfcConfig().lrTopK > 0)
    val df = spark.range(2000).select(
      (pmod(xxhash64(col("id")), lit(100)).cast("double") / 100 + 0.5).as("x1"),
      (pmod(xxhash64(col("id") + 7), lit(100)).cast("double") / 100 + 0.5).as("x2"))
      .withColumn("y", (col("x1") * col("x2") > lit(1.0)).cast("int"))
    val res = new Cdfc(df, Seq("x1", "x2"), Nil, Nil, col("y"),
      CdfcConfig(cMax = 3, binaryOps = Seq(BinOp.Mul),
        unaryOps = Seq(UnaryOp.Minus, UnaryOp.MinMax), groupByAggs = Seq.empty)).run()
    assert(res.lrAuc.nonEmpty, "default config must populate the LR-AUC channel")
    // the champion is LR-scored and its score IS its (rounded) stored AUC
    assert(res.lrAuc.get(res.best.key).contains(res.best.score),
      s"champion ${res.best.key} score ${res.best.score} not from lrAuc ${res.lrAuc}")
    assert(res.best.key == "mul(x1,x2)" && res.best.score > 0.9)
  }

  test("lrTopK tolerates group-by and one-hot candidates (non-numeric parents excluded)") {
    val df = spark.range(600).select(
      (pmod(xxhash64(col("id")), lit(100)).cast("double") / 100 + 0.5).as("x1"),
      (pmod(xxhash64(col("id") + 3), lit(100)).cast("double") / 100 + 0.5).as("x2"),
      concat(lit("k"), pmod(col("id"), lit(5)).cast("string")).as("k"),
      concat(lit("c"), pmod(col("id"), lit(3)).cast("string")).as("cat"))
      .withColumn("y", (col("x1") * col("x2") > lit(1.0)).cast("int"))
    // one-hot children are categorical raws; GroupByThen parents include a
    // string key — neither may reach the LR fitter as a feature
    val res = new Cdfc(df, Seq("x1", "x2"), Seq("cat"), Seq("k"), col("y"),
      CdfcConfig(cMax = 3, binaryOps = Seq(BinOp.Mul),
        unaryOps = Seq(UnaryOp.Minus, UnaryOp.MinMax),
        groupByAggs = Seq(AggKind.Mean), lrTopK = 4)).run()
    assert(res.survivors.nonEmpty)
    assert(res.best.score > 0.5 && res.best.score <= 1.0)
  }

  test("resume under lrTopK: LR-rejected candidates stay out of the pool") {
    val df = spark.range(2500).select(
      (pmod(col("id") * 2654435761L, lit(1009L)).cast("double") / 1009.0 + 0.5).as("x1"),
      (pmod(col("id") * 2246822519L, lit(1009L)).cast("double") / 1009.0 + 0.5).as("x2"),
      (pmod(col("id") * 3266489917L, lit(1009L)).cast("double") / 1009.0 + 0.5).as("x3"),
      pmod(col("id") * 668265263L, lit(10L)).as("g"))
      .withColumn("y", when(col("g") < 4, (col("x2") * col("x3") > 1.0).cast("int"))
        .otherwise(pmod(floor((col("x1") - 0.5) * 10).cast("long"), lit(2L)).cast("int")))
      .drop("g")
      .repartition(4).sortWithinPartitions("x1")
    val cfg = CdfcConfig(cMax = 3, binaryOps = Seq(BinOp.Mul),
      unaryOps = Seq(UnaryOp.Minus, UnaryOp.MinMax), groupByAggs = Seq.empty, lrTopK = 4)
    val fresh = new Cdfc(df, Seq("x1", "x2", "x3"), Nil, Nil, col("y"), cfg).run()
    val ckdir = java.nio.file.Files.createTempDirectory("graft_lr_resume").toFile
    def rmrf(f: java.io.File): Unit = {
      val kids = f.listFiles(); if (kids != null) kids.foreach(rmrf); f.delete(); ()
    }
    try {
      new Cdfc(df, Seq("x1", "x2", "x3"), Nil, Nil, col("y"),
        cfg.copy(cMax = 2), Some(ckdir.toString)).run()
      val resumed = new Cdfc(df, Seq("x1", "x2", "x3"), Nil, Nil, col("y"),
        cfg, Some(ckdir.toString)).run()
      def canon(r: CdfcResult) = r.survivors
        .map(sc => (sc.key, sc.complexity, math.rint(sc.score * 1e9), sc.passed, sc.inherited))
        .sortBy(_._1)
      assert(canon(resumed) == canon(fresh))
      assert(resumed.best.key == fresh.best.key)
    } finally rmrf(ckdir)
  }

  test("harmonic-mean auto-stop halts an unbounded search before cMax") {
    val df = spark.range(2000).select(
      (pmod(xxhash64(col("id")), lit(100)).cast("double") / 100 + 0.5).as("x1"),
      (pmod(xxhash64(col("id") + 7), lit(100)).cast("double") / 100 + 0.5).as("x2"))
      .withColumn("y", (col("x1") * col("x2") > lit(1.0)).cast("int"))
    val res = new Cdfc(df, Seq("x1", "x2"), Nil, Nil, col("y"),
      CdfcConfig(cMax = 8, harmonicStop = true, stopAfterNonImproving = 99,
        binaryOps = Seq(BinOp.Mul), unaryOps = Seq(UnaryOp.Minus, UnaryOp.MinMax),
        groupByAggs = Seq.empty, lrTopK = 0)).run() // harmonic stop is an MI-rank rule
    val deepest = res.layers.map(_.complexity).maxOption.getOrElse(1)
    assert(deepest < 8, s"expected auto-stop before cMax, layers=${res.layers}")
    assert(res.best.score > 0.3) // still found the planted interaction
  }

  test("transcripts pipeline produces stable feature block on sf0.001") {
    val out = FeatureConstructor.transcriptsPipeline(
      Transcripts.fromEvents(Tables.events(spark, sf0001)),
      CdfcConfig(cMax = 2, maxLayerWidth = 32))
    val featCols = out.columns.filter(_.startsWith("feat_"))
    assert(featCols.nonEmpty)
    assert(out.count() > 0)
    // deterministic: same search twice -> same columns
    val out2 = FeatureConstructor.transcriptsPipeline(
      Transcripts.fromEvents(Tables.events(spark, sf0001)),
      CdfcConfig(cMax = 2, maxLayerWidth = 32))
    assert(out.columns.toSeq == out2.columns.toSeq)
  }

  test("a raw column that spans zero without holding a zero keeps Inv in layer 2") {
    // x in {-2, -1, 1, 2}: min <= 0 <= max, but no row is zero, so the
    // profile pass's exact zero count must reach the layer-2 guards. Every
    // value's count is even: were even counts to cancel out of the value
    // fingerprint, x and each bijection of it would dedup as one
    val df = spark.range(400).select(
      element_at(typedLit(Seq(-2.0, -1.0, 1.0, 2.0)), (pmod(col("id"), lit(4)) + 1).cast("int"))
        .as("x"),
      (pmod(col("id"), lit(3)) === 0).cast("int").as("y"))
    val res = new Cdfc(df, Seq("x"), Seq.empty, Seq.empty, col("y"),
      CdfcConfig(cMax = 2, epsilon = -1)).run()
    val inv = Canon.key(Unary(UnaryOp.Inv, RawCol("x")))
    assert(res.survivors.exists(s => s.key == inv && s.passed), res.survivors.map(_.key))
  }

  test("GroupByThen(Median) candidates are MI-scored as a window, equal to a join-back") {
    // g: six string groups plus a null-key group; even group sizes make the
    // median interpolate; y depends on the group
    val df = spark.range(840).select(
      when(pmod(col("id"), lit(7)) === 6, lit(null))
        .otherwise(concat(lit("g"), pmod(col("id"), lit(7)).cast("string"))).as("g"),
      (pmod(xxhash64(col("id")), lit(1000)).cast("double") / 10).as("x1"),
      (pmod(col("id") * 31, lit(17)) + pmod(col("id"), lit(7))).cast("double").as("x2"),
      (pmod(col("id"), lit(7)) < 3).cast("int").as("y"))
    val res = new Cdfc(df, Seq("x1", "x2"), Seq("g"), Seq("g"), col("y"),
      CdfcConfig(cMax = 3, epsilon = -1, unaryOps = Seq.empty, binaryOps = Seq.empty,
        groupByAggs = Seq(AggKind.Median), lrTopK = 0)).run()
    val meds = Seq("x1", "x2").map(v => v -> GroupByThenE(AggKind.Median, RawCol(v), RawCol("g")))
    // the reference column: groupBy(g) + median + null-safe join-back
    val agg = df.groupBy(col("g").as("k"))
      .agg(median(col("x1")).as("m_x1"), median(col("x2")).as("m_x2"))
    val joined = df.join(agg, col("g") <=> col("k"), "left")
    val want = MIScorer.scoreBatch(joined, meds.map { case (v, _) => v -> col(s"m_$v") }, col("y"))
    meds.foreach { case (v, e) =>
      val got = res.survivors.find(_.key == Canon.key(e))
      assert(got.exists(s => s.complexity == 3 && s.passed), s"$v: ${res.survivors.map(_.key)}")
      assert(got.get.score == want(v).mi, v)
    }
  }
}
