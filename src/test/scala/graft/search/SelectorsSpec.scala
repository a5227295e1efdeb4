package graft.search

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Planted-signal checks for the selector/baseline residue (SURVEY §2.5
  * rows: RFE, Boruta, ReliefF, SISSO, SMOTE, CNN instance selection,
  * NSGA-II). Data is fully deterministic (hash/trig pseudo-noise, no RNG).
  */
class SelectorsSpec extends SparkSpec {
  import spark.implicits._

  // x1 drives the label; x2, x3 are structured noise
  private lazy val planted = (0 until 800).map { i =>
    val x1 = (i % 40).toDouble
    val x2 = math.sin(i * 1.7) * 10
    val x3 = ((i * 31) % 17).toDouble
    val y = if (x1 > 20) 1.0 else 0.0
    (i.toLong, x1, x2, x3, y)
  }.toDF("id", "x1", "x2", "x3", "y")

  private val feats = Seq("x1", "x2", "x3")

  test("RFE keeps the informative feature") {
    assert(Selectors.rfe(planted, feats, "y", keep = 1) == Seq("x1"))
  }

  test("Boruta confirms the informative feature and rejects noise") {
    val confirmed = Selectors.boruta(planted, feats, "y", rounds = 5)
    assert(confirmed.contains("x1"), s"got $confirmed")
    assert(!confirmed.contains("x2"), s"got $confirmed")
  }

  test("ReliefF ranks the informative feature first") {
    val top = Selectors.reliefF(planted, feats, "y", keep = 1, probes = 128)
    assert(top == Seq("x1"), s"got $top")
  }

  test("SISSO screens the informative feature first") {
    val sel = Selectors.sisso(planted, feats, "y", keep = 2)
    assert(sel.head == "x1", s"got $sel")
  }

  test("SMOTE balances classes with deterministic interpolated synthetics") {
    // minority = y==1 at 10% of rows
    val df = (0 until 500).map { i =>
      val y = if (i % 10 == 0) 1.0 else 0.0
      val x1 = if (y == 1.0) 100.0 + (i % 7) else (i % 50).toDouble
      (i.toLong, x1, (i % 13).toDouble, y)
    }.toDF("id", "x1", "x2", "y")
    val out = Sampling.smote(df, Seq("x1", "x2"), "y", minorityLabel = 1.0)
    val counts = out.groupBy("y").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(counts(1.0).toDouble / counts(0.0) > 0.7,
      s"should approach parity: $counts")
    // synthetics interpolate within the minority x1 range [100, 106]
    val synth = out.filter(col("isSynthetic") === 1)
      .agg(min("x1"), max("x1")).head()
    assert(synth.getDouble(0) >= 100.0 && synth.getDouble(1) <= 106.0, synth.toString)
    // deterministic: a second run produces the identical multiset
    val again = Sampling.smote(df, Seq("x1", "x2"), "y", minorityLabel = 1.0)
    assert(out.orderBy("x1", "x2").collect().toSeq ==
      again.orderBy("x1", "x2").collect().toSeq)
  }

  test("CNN instance selection condenses to a small consistent prototype set") {
    // two well-separated blobs
    val df = (0 until 400).map { i =>
      val y = (i % 2).toDouble
      val x = (if (y == 1.0) 100.0 else 0.0) + (i % 5)
      (i.toLong, x, y)
    }.toDF("id", "x", "y")
    val protos = Sampling.condensedNearestNeighbour(df, Seq("x"), "y")
    val n = protos.count()
    assert(n >= 2 && n < 50, s"expected a condensed set, got $n")
    assert(protos.select("y").distinct().count() == 2)
  }

  test("NSGA-II front is non-dominated and seed-deterministic") {
    val df = planted.withColumn("prot", (col("id") % 2 === 0))
      .withColumn("ctx", (col("x3") > 8).cast("string"))
    def front() = Nsga2.selectFeatures(df, feats, "y", col("prot"), Seq("ctx"),
      popSize = 8, generations = 2, seed = 7L)
    val f1 = front()
    assert(f1.nonEmpty)
    // non-dominated: no member strictly dominates another
    f1.foreach { a =>
      f1.foreach { b =>
        val dom = a.objectives.zip(b.objectives).forall { case (x, y) => x >= y } &&
          a.objectives.zip(b.objectives).exists { case (x, y) => x > y }
        assert(!(a != b && dom), s"$a dominates $b inside the front")
      }
    }
    assert(f1.map(i => (i.mask, i.objectives)).toSet ==
      front().map(i => (i.mask, i.objectives)).toSet)
  }

  test("NSGA-II with an exhaustive seed converges to the TRUE Pareto front") {
    // elitist environmental selection over a fully-enumerated population
    // cannot lose a rank-0 member, so the final front must equal the
    // brute-force front regardless of the GA's random trajectory — the
    // property the q_nsga2 DuckDB oracle gates on real data
    val nGenes = 5
    def objs(m: Vector[Boolean]): Vector[Double] =
      if (m.forall(!_)) Vector(Double.NegativeInfinity, Double.NegativeInfinity)
      else {
        // non-additive objective with interactions (xor-flavored), plus -size
        val idx = m.zipWithIndex.collect { case (true, i) => i }
        val gain = idx.map(i => (i * 37 + 11) % 23).sum % 17 + idx.sum
        Vector(gain.toDouble, -idx.size.toDouble)
      }
    val all = (1 until 32).map(i => Vector.tabulate(nGenes)(b => ((i >> b) & 1) == 1))
    def dominates(a: Vector[Double], b: Vector[Double]) =
      a.zip(b).forall { case (x, y) => x >= y } && a.zip(b).exists { case (x, y) => x > y }
    val brute = all.filter(a => !all.exists(b => b != a && dominates(objs(b), objs(a)))).toSet
    (0 until 3).foreach { seed =>
      val got = Nsga2.run(nGenes, objs, popSize = 31, generations = 3,
        seed = seed, initPop = all)
        .filter(_.mask.exists(identity)).map(_.mask).toSet
      assert(got == brute, s"seed $seed: $got vs $brute")
    }
  }
}
