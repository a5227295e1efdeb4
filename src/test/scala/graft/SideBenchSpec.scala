package graft

/** The side harness's one listener, and its contract with a caller's
  * session: it runs on it and leaves it running.
  */
class SideBenchSpec extends SparkSpec {

  test("Recorder: drained job and task counts, a graft. call site, non-negative task sums") {
    val rec = new SideBench.Recorder(spark)
    try {
      rec.take()
      val rdd = spark.sparkContext.parallelize(1 to 1000, 4)
      rdd.map(_ * 2).count()
      rdd.filter(_ % 3 == 0).count()
      // read right after the actions: exact only because take() drains the bus
      val c = rec.take()
      assert(c.jobs == 2 && c.tasks == 8, c)
      assert(Seq(c.memSpilled, c.diskSpilled, c.gcMs, c.runMs, c.peakExecMem).forall(_ >= 0), c)
      assert(rec.take() == SideBench.Counts(0, 0, 0, 0, 0, 0, 0))
      val sites = rec.callSites()
      assert(sites.map(_._2).sum == 2, sites)
      assert(sites.forall(_._1.startsWith("graft.SideBenchSpec")), sites)
    } finally rec.close()
  }

  test("queries: checksummed min-of-reps on the caller's session, which stays running") {
    val Seq((name, t, c)) = SideBench.queries(spark, sf0001, Seq("q_transcripts"), reps = 2)
    assert(name == "q_transcripts" && t.secs.size == 2 && c.jobs > 0 && c.tasks >= c.jobs, c)
    assert(t.checksum == Bench.force(SparkEntry.queries("q_transcripts")(spark, sf0001)))
    assert(!spark.sparkContext.isStopped && spark.range(3).count() == 3)
    val e = intercept[IllegalArgumentException](SideBench.queries(spark, sf0001, Seq("q_nope"), 1))
    assert(e.getMessage.contains("q_nope"))
  }
}
