package graft.fairness

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Hand-computed oracles following `fmeasures/ROD.py` / `CDP.py` semantics. */
class FairMetricsSpec extends SparkSpec {
  import spark.implicits._

  test("ROD: two contexts, hand-computed odds ratios and weights") {
    // context A: prot mean .2 (n=2), not-prot mean .8 (n=2)
    // context B: prot mean .5 (n=2), not-prot mean .5 (n=2)
    val df = Seq(
      ("A", true, 0.1), ("A", true, 0.3), ("A", false, 0.7), ("A", false, 0.9),
      ("B", true, 0.4), ("B", true, 0.6), ("B", false, 0.3), ("B", false, 0.7))
      .toDF("ctx", "prot", "p")
    val orA = (0.8 / 0.2) * (0.8 / 0.2) // 16
    val orB = 1.0
    val expected = -math.abs(orA * 0.5 + orB * 0.5 - 1.0)
    val got = FairMetrics.rod(df, col("p"), col("prot"), Seq("ctx"))
      .head().getDouble(0)
    assert(math.abs(got - expected) < 1e-9, s"got $got expected $expected")
  }

  test("ROD: context with one side missing contributes OR with 0.5/0.5") {
    val df = Seq(
      ("A", true, 0.25), ("A", true, 0.75),   // prot mean .5 ; no not-prot
      ("B", true, 0.5), ("B", false, 0.5))
      .toDF("ctx", "prot", "p")
    // A: p10=0.5 default -> OR = 1*1 = 1 ; B: OR = 1
    val got = FairMetrics.rod(df, col("p"), col("prot"), Seq("ctx"))
      .head().getDouble(0)
    assert(math.abs(got - 0.0) < 1e-9)
  }

  test("CDP: selection-rate gap weighted by context frequency; single-group contexts skipped") {
    val df = Seq(
      // ctx A (4 rows): rates 1.0 vs 0.5 -> gap .5, weight 4/6
      ("A", "m", 1), ("A", "m", 1), ("A", "f", 1), ("A", "f", 0),
      // ctx B (2 rows): only one group -> skipped, but still in the weight denominator
      ("B", "m", 1), ("B", "m", 0))
      .toDF("ctx", "s", "pred")
    val got = FairMetrics.cdp(df, col("pred"), col("s"), Seq("ctx"))
      .head().getDouble(0)
    assert(math.abs(got - 0.5 * 4.0 / 6.0) < 1e-9, s"got $got")
  }

  test("CTPB/CTNB: rate gaps on the y-restricted rows") {
    val df = Seq(
      // y=1 rows: m TPR=1 (1/1), f TPR=0 (0/1); y=0 rows: m TNR=0, f TNR=1
      ("A", "m", 1, 1), ("A", "f", 0, 1), ("A", "m", 1, 0), ("A", "f", 0, 0))
      .toDF("ctx", "s", "pred", "y")
    val tp = FairMetrics.ctpb(df, col("y"), col("pred"), col("s"), Seq("ctx"))
      .head().getDouble(0)
    val tn = FairMetrics.ctnb(df, col("y"), col("pred"), col("s"), Seq("ctx"))
      .head().getDouble(0)
    assert(math.abs(tp - 1.0) < 1e-9)
    assert(math.abs(tn - 1.0) < 1e-9)
  }

  test("binContexts: fit-job count is independent of context width") {
    val wide = (1 to 200).map(i =>
      (i.toDouble, i * 2.0, math.sqrt(i.toDouble), (i % 97).toDouble, s"g${i % 3}"))
      .toDF("a", "b", "c", "d", "g")
    def jobsDuring(f: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          n.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        f
        org.apache.spark.GraftBridge.waitUntilListenerBusEmpty(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(l)
      n.get()
    }
    val j1 = jobsDuring { FairMetrics.binContexts(wide, Seq("a")) }
    val j5 = jobsDuring { FairMetrics.binContexts(wide, Seq("a", "b", "c", "d", "g")) }
    assert(j5 == j1, s"stats must batch into one agg: 1-col=$j1 jobs, 5-col=$j5")
    // and the batched path still bins by the same qcut edges
    val (binned, names) = FairMetrics.binContexts(wide, Seq("d", "g"))
    assert(names == Seq("d__bin", "g__bin"))
    val d = binned.select("d", "d__bin").where(col("d") === 10.0).head().getString(1)
    assert(Set("0", "1", "2", "3").contains(d))
    val g = binned.select("g__bin").where(col("g") === "g1").head().getString(0)
    assert(g == "g1")
  }
}
