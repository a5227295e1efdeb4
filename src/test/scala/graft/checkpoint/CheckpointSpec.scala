package graft.checkpoint

import graft.SparkSpec
import graft.exprs._
import graft.search.{Cdfc, CdfcConfig}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

class CheckpointSpec extends SparkSpec {

  private def planted = spark.range(3000).select(
    (pmod(xxhash64(col("id")), lit(100)).cast("double") / 100 + 0.5).as("x1"),
    (pmod(xxhash64(col("id") + 7), lit(100)).cast("double") / 100 + 0.5).as("x2"))
    .withColumn("y", (col("x1") * col("x2") > lit(1.0)).cast("int"))

  // lrTopK=0: checkpoint MECHANICS under test (resume-under-LR incl. the
  // LR AUC round-trip is covered by CdfcSpec "resume under lrTopK")
  private val cfg = CdfcConfig(cMax = 3, binaryOps = Seq(BinOp.Mul),
    unaryOps = Seq(UnaryOp.Minus, UnaryOp.Log, UnaryOp.MinMax), groupByAggs = Seq.empty,
    lrTopK = 0)

  private def canon(r: graft.search.CdfcResult) =
    r.survivors.map(s => (s.key, s.complexity, math.rint(s.score * 1e9), s.passed, s.inherited))
      .sortBy(_._1)

  /** Runs `c` fresh, then `partial` (which commits layers to a checkpoint
    * directory), then `c` resumed from that directory: both runs must log
    * the same layers, keep the same survivors and pick the same `best`. */
  private def assertResumeEqualsFresh(c: CdfcConfig, partial: String => Unit) = {
    val dir = Files.createTempDirectory("ckpt_stop").toString
    val fresh = new Cdfc(planted, Seq("x1", "x2"), Nil, Nil, col("y"), c).run()
    partial(dir)
    val resumed = new Cdfc(planted, Seq("x1", "x2"), Nil, Nil, col("y"), c, Some(dir)).run()
    assert(resumed.layers == fresh.layers)
    assert(canon(resumed) == canon(fresh))
    // the expressions may differ in form (a resumed pool holds the parsed
    // canonical keys), never in key, score or flags
    assert(resumed.best.copy(expr = fresh.best.expr) == fresh.best)
    fresh
  }

  test("a resumed search stops on the non-improving rule where a fresh one stops") {
    // epsilon 10: no layer-2 candidate passes, so layer 2 does not improve
    val c = cfg.copy(stopAfterNonImproving = 1, epsilon = 10.0, unaryOps = Seq(UnaryOp.Log))
    val fresh = assertResumeEqualsFresh(c, dir =>
      new Cdfc(planted, Seq("x1", "x2"), Nil, Nil, col("y"), c.copy(cMax = 2), Some(dir)).run())
    assert(fresh.layers.map(_.complexity) == Seq(2))
  }

  test("a search resumed at its harmonic stop stops there") {
    val c = cfg.copy(cMax = 8, harmonicStop = true, stopAfterNonImproving = 99,
      maxLayerWidth = 64)
    // the partial run is the fresh run itself, committing every layer up
    // to its stop; the resumed run loads the last one
    val fresh = assertResumeEqualsFresh(c, dir =>
      new Cdfc(planted, Seq("x1", "x2"), Nil, Nil, col("y"), c, Some(dir)).run())
    assert(fresh.layers.map(_.complexity).max < 8)
  }

  test("resume equals fresh: restart mid-search continues on the same path") {
    // partial run: stop after layer 2 (cMax=2), committing layers 1-2; the
    // resumed run to cMax=3 picks up from the checkpoint
    assertResumeEqualsFresh(cfg, dir => {
      new Cdfc(planted, Seq("x1", "x2"), Nil, Nil, col("y"), cfg.copy(cMax = 2), Some(dir)).run()
      assert(Files.exists(Paths.get(s"$dir/layer=2/manifest.json")))
    })
  }

  test("audit and lineage tables are appended per layer") {
    val dir = Files.createTempDirectory("ckpt2").toString
    new Cdfc(planted, Seq("x1", "x2"), Nil, Nil, col("y"),
      cfg.copy(cMax = 2), Some(dir)).run()
    val audit = Checkpoint.audit(spark, dir)
    assert(audit.count() > 0)
    assert(audit.columns.toSet ==
      Set("layer", "expr", "score", "complexity", "passed", "inherited", "duration_ms"))
    assert(audit.schema.map(f => f.name -> f.dataType.simpleString).toMap == Map(
      "layer" -> "int", "expr" -> "string", "score" -> "double", "complexity" -> "int",
      "passed" -> "boolean", "inherited" -> "boolean", "duration_ms" -> "bigint"))
    val lineage = Checkpoint.lineage(spark, dir)
    assert(lineage.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("partition_id" -> "int", "rows" -> "bigint", "layer" -> "int"))
    assert(lineage.select("layer").distinct().count() == 2)
    assert(lineage.agg(sum("rows")).head().getLong(0) == 3000L * 2)
  }

  test("aborted layer (no manifest) is ignored on load") {
    val dir = Files.createTempDirectory("ckpt3").toString
    new Cdfc(planted, Seq("x1", "x2"), Nil, Nil, col("y"),
      cfg.copy(cMax = 2), Some(dir)).run()
    // simulate a crash mid-commit of layer 3: directory made, no manifest
    Files.createDirectories(Paths.get(s"$dir/layer=3"))
    val st = Checkpoint.load(dir, 5)
    assert(st.exists(_.layer == 2))
  }

  test("a layer directory holding only the temporary manifest is ignored on load") {
    val dir = Files.createTempDirectory("ckpt4").toString
    new Cdfc(planted, Seq("x1", "x2"), Nil, Nil, col("y"),
      cfg.copy(cMax = 2), Some(dir)).run()
    // a crash between writing the temporary file and its atomic rename
    val d3 = Files.createDirectories(Paths.get(s"$dir/layer=3"))
    Files.copy(Paths.get(s"$dir/layer=2/manifest.json"), d3.resolve("manifest.json.tmp"))
    assert(Checkpoint.load(dir, 5).map(_.layer) == Some(2))
    assert(Checkpoint.audit(spark, dir).select("layer").distinct().count() == 2)
  }

  test("a search state with NaN, ±Infinity and -0.0 round-trips bit-identically") {
    val dir = Files.createTempDirectory("ckpt5").toString
    val odd = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0,
      Double.MinPositiveValue, Double.MaxValue, 0.1 + 0.2, -1e-300, 1e22)
    def scored(d: Double, i: Int) = {
      val e = if (i % 2 == 0) RawCol(s"e$i") else Unary(UnaryOp.Log, RawCol(s"e$i"))
      graft.search.Scored(e, Canon.key(e), e.complexity, d, i % 2 == 0, i % 3 == 0)
    }
    val survivors = odd.zipWithIndex.map { case (d, i) => scored(d, i) }.toVector
    val st = Checkpoint.SearchState(
      layer = 2,
      seen = Set("x1", "mul(x1,x2)", "a \"quoted\" key"),
      fingerprints = Set(Long.MinValue, -1L, 0L, Long.MaxValue),
      scores = odd.zipWithIndex.map { case (d, i) => s"s$i" -> d }.toMap,
      survivors = survivors,
      fit = FitStats(Map("minmax(x1)" -> odd.toIndexedSeq, "empty" -> IndexedSeq.empty)),
      profiles = odd.zipWithIndex.map { case (d, i) =>
        s"p$i" -> graft.profile.ColumnProfile(s"p$i", isNumeric = i % 2 == 0, count = i,
          missing = 0L, min = d, max = -d, hasZero = d == 0.0, distinct = Long.MaxValue - i)
      }.toMap,
      lrAuc = Map("mul(x1,x2)" -> -0.0, "x1" -> Double.NaN),
      layers = Vector(graft.search.LayerLog(2, 36, 19, 0)),
      champions = Vector(None, Some(scored(Double.NaN, 1)), Some(scored(-0.0, 3))))
    Checkpoint.save(dir, st, 17L, Seq(0 -> 5L, 3 -> 7L))
    val back = Checkpoint.load(dir, 2).get
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    def scoredBits(s: graft.search.Scored) = s.copy(score = 0.0) -> bits(s.score)
    def bitsOf(s: Checkpoint.SearchState) = (
      s.scores.map { case (k, d) => k -> bits(d) },
      s.survivors.map(scoredBits),
      s.champions.map(_.map(scoredBits)),
      s.fit.m.map { case (k, vs) => k -> vs.map(bits) },
      s.profiles.map { case (k, p) => k -> (p.copy(min = 0.0, max = 0.0), bits(p.min), bits(p.max)) },
      s.lrAuc.map { case (k, d) => k -> bits(d) })
    assert(bitsOf(back) == bitsOf(st))
    assert((back.layer, back.seen, back.fingerprints, back.layers) ==
      (st.layer, st.seen, st.fingerprints, st.layers))
    // the audit holds the committed layer's own survivors (complexity 2)
    val audit = Checkpoint.audit(spark, dir).collect()
    val layer2 = survivors.filter(_.complexity == 2)
    assert(layer2.nonEmpty)
    assert(audit.map(r => (r.getAs[String]("expr"), r.getAs[Int]("layer"),
      bits(r.getAs[Double]("score")))).toSeq == layer2.map(s => (s.key, 2, bits(s.score))))
    assert(audit.forall(_.getAs[Long]("duration_ms") == 17L))
    assert(Checkpoint.lineage(spark, dir).collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2)))
      .toSeq == Seq((0, 5L, 2), (3, 7L, 2)))
  }
}
