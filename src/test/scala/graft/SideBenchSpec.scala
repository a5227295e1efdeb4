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
      assert(rec.take() == SideBench.Counts(0, 0, 0, 0, 0, 0, 0, 0))
      val sites = rec.callSites()
      assert(sites.map(_._2).sum == 2, sites)
      assert(sites.forall(_._1.startsWith("graft.SideBenchSpec")), sites)
      // a literal no earlier plan held makes a new generated class
      import org.apache.spark.sql.functions.{col, lit}
      spark.range(10).select(col("id") + lit(System.nanoTime() % 1000000L + 7L)).collect()
      assert(rec.take().compiles > 0)
    } finally rec.close()
  }

  test("Recorder: jobs AQE launches are keyed by their SQL execution's graft. call site") {
    import org.apache.spark.sql.functions.col
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val rec = new SideBench.Recorder(spark)
    try {
      rec.take()
      spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count().collect()
      val sites = rec.callSites()
      // the shuffle map stage runs as its own job, submitted from AQE's pool
      assert(sites.map(_._2).sum >= 2, sites)
      assert(sites.forall(s => s._1.startsWith("graft.SideBenchSpec") &&
        !s._1.contains("withThreadLocalCaptured")), sites)
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
