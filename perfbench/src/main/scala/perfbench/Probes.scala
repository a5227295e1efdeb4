package perfbench

import graft.search.{Cdfc, CdfcConfig, FeatureConstructor}
import graft.windows.AsOfJoin
import org.apache.spark.sql.functions.col

/** One-off re-measurement, at their original sizes, of the three
  * observations the workloads were designed from. Minutes per probe, so not
  * part of the timed workloads:
  *
  *  1. `FeatureConstructor.fit` at the `q_cdfc` setting over a 10^5-row base;
  *  2. the MI-only search (`lrTopK` 0, `maxLayerWidth` 512) over a
  *     2.5*10^5-row base, with the time its `exprs.Fitter` jobs were busy;
  *  3. `AsOfJoin.auto` (broadcast route) against `AsOfJoin.asOf` on 4*10^6
  *     turns over 2*10^4 conversations and a 1.3*10^6-row right side.
  *
  * {{{ perfbench.Probes --seed N --cores C --work DIR }}}
  * prints one `PROBE {...}` line per observation.
  */
object Probes {
  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val (seed, cores, work) = (m("seed").toLong, m("cores").toInt, m("work"))
    val spark = Main.session(cores, cores, work)

    /** Runs `f` with a job listener attached; prints its wall time, job
      * count and the busy time of the named layers.
      */
    def probe(name: String, layers: Seq[String])(f: => Unit): Unit = {
      val t = new Trace
      spark.sparkContext.addSparkListener(t)
      val t0 = System.nanoTime()
      f
      val s = (System.nanoTime() - t0) / 1e9
      t.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(t)
      val lm = Layers.metrics(t, Seq.empty, 1, Map.empty)
      val fields = Seq(s""""probe":"$name"""", s""""seconds":${Main.num(s)}""",
        s""""jobs":${t.jobList.size}""") ++
        layers.map(l => s""""$l.busy_s":${Main.num(lm(s"$l.busy_s"))}""")
      println("PROBE " + fields.mkString("{", ",", "}"))
    }
    def base(n: Long, name: String) =
      Gen.write(Gen.searchBase(Gen.turns(spark, seed, n, (n / 200).toInt, cores)).repartition(cores),
        s"$work/$name")

    val b1 = base(100500, "probe_fit")
    probe("fit_q_cdfc_1e5", Seq("search.LrScorer", "exprs.Fitter")) {
      FeatureConstructor.fit(b1, Gen.BaseNumeric, Gen.BaseCategorical, Seq("conv_id"),
        col("label_next_tool"), CdfcConfig(cMax = 3, maxLayerWidth = 64, batchSize = 64))
    }
    val b2 = base(251000, "probe_mi")
    probe("mi_only_search_2.5e5", Seq("exprs.Fitter", "search.Mdlp", "search.MIScorer")) {
      new Cdfc(b2, Gen.BaseNumeric, Gen.BaseCategorical, Seq("conv_id"), col("label_next_tool"),
        CdfcConfig(lrTopK = 0, maxLayerWidth = 512)).run()
    }
    val left = Gen.write(Gen.turns(spark, seed, 4000000L, 20000, cores)
      .select("conv_id", "turn_idx", "ts"), s"$work/probe_left")
    val right = Gen.write(Gen.right(spark, seed, 1300000L, 20000, cores), s"$work/probe_right")
    probe("asof_auto_4e6", Seq.empty) {
      Workloads.checksum(AsOfJoin.auto(left, right, "conv_id", Seq("state_v", "state_k"), col("rseq")))
    }
    probe("asof_union_window_4e6", Seq.empty) {
      Workloads.checksum(AsOfJoin.asOf(left, right, "conv_id", Seq("state_v", "state_k"), col("rseq")))
    }
    spark.stop()
  }
}
