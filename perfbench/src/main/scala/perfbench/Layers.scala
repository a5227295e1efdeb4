package perfbench

import scala.jdk.CollectionConverters._

/** The per-layer metrics of a traced run, computed from its spans. */
object Layers {
  val Modules = Seq(
    "windows.WindowFeatures", "windows.AsOfJoin",
    "profile.Profiler", "exprs.Fitter",
    "search.Mdlp", "search.MIScorer", "search.LrScorer", "search.LayerBuilder", "search.Cdfc",
    "search.FeatureConstructor",
    "checkpoint.Checkpoint", "dedup.Dedup", "text.TextFeatures")
  private val PerModule = Seq("jobs" -> "count", "busy_s" -> "s", "task_s" -> "s",
    "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "failed_tasks" -> "count")
  private val Other = Seq(
    "search.driver_only_s" -> "s", "search.enumerated" -> "count", "search.survived" -> "count",
    "search.dropped" -> "count", "search.survival_ratio" -> "ratio", "search.lr_scored" -> "count",
    "search.LrScorer.jobs_per_candidate" -> "jobs/cand",
    "windows.AsOfJoin.route" -> "code", "engine.max_task_skew" -> "ratio",
    "engine.peak_exec_mem_mb" -> "MB", "engine.scaling_eff_1to4" -> "ratio",
    "dedup.candidate_pairs" -> "count", "dedup.result_pairs" -> "count",
    "dedup.candidate_ratio" -> "ratio", "dedup.planted_recall" -> "ratio",
    "trace.unattributed_job_share" -> "ratio", "trace.overhead_ratio" -> "ratio")
  private val units: Map[String, String] =
    (Modules.flatMap(m => PerModule.map { case (k, u) => s"$m.$k" -> u }) ++ Other).toMap
  val Names: Seq[String] = Modules.flatMap(m => PerModule.map(p => s"$m.${p._1}")) ++ Other.map(_._1)
  def unit(name: String): String = units(name)

  private val MB = 1024.0 * 1024.0

  /** Metrics per traced iteration (`iters` of them) from the job spans and
    * task metrics, with the workload's own numbers; `steps` are the
    * benchmark's step spans.
    */
  def metrics(t: Trace, steps: Seq[(String, Long, Long)], iters: Int,
      workload: Map[String, Double]): Map[String, Double] = {
    val jobs = t.jobList
    val stagesByJob = t.stageTasks.keySet.asScala.toSeq.map(_.intValue)
      .groupBy(s => t.jobOfStage(s).map(_.id).getOrElse(-1))
    def tasksOf(js: Seq[Trace.Job]) =
      js.flatMap(j => stagesByJob.getOrElse(j.id, Seq.empty)).map(t.stageTasks.get)
    val out = collection.mutable.Map.empty[String, Double]
    for (m <- Modules) {
      val js = jobs.filter(_.layer == m)
      val ts = tasksOf(js)
      out(s"$m.jobs") = js.size.toDouble / iters
      out(s"$m.busy_s") = Intervals.union(js.map(j => (j.start, j.end))) / 1000.0 / iters
      out(s"$m.task_s") = ts.map(_.runMs).sum / 1000.0 / iters
      out(s"$m.shuffle_write_mb") = ts.map(_.shuffleWrite).sum / MB / iters
      out(s"$m.spill_mb") = ts.map(_.spill).sum / MB / iters
      out(s"$m.failed_tasks") = ts.map(_.failed).sum.toDouble / iters
    }
    // wall time inside search calls with no Spark job running
    val fits = steps.filter(_._1 == "search.fit")
    val jobIv = jobs.map(j => (j.start, j.end))
    out("search.driver_only_s") = fits.map { case (_, s, e) =>
      (e - s) - Intervals.union(Intervals.clip(jobIv, s, e))
    }.sum / 1000.0 / iters
    val scored = workload.getOrElse("search.lr_scored", 0.0)
    out("search.LrScorer.jobs_per_candidate") =
      if (scored > 0) out("search.LrScorer.jobs") / scored else 0.0
    // max / median task time over stages that read shuffle output
    val stages = t.stageTasks.values.asScala.toSeq
    val skews: Seq[Double] = stages.filter(s => s.shuffleRead > 0 && s.durations.size >= 2).map { s =>
      val d = s.durations.toSeq.map(_.toDouble)
      val med = Main.median(d)
      if (med > 0) d.max / med else 1.0
    }
    out("engine.max_task_skew") = if (skews.isEmpty) 0.0 else skews.max
    out("engine.peak_exec_mem_mb") =
      stages.map(_.peakMem).maxOption
        .getOrElse(0L) / MB
    out("trace.unattributed_job_share") =
      if (jobs.isEmpty) 0.0 else jobs.count(_.layer == "unattributed").toDouble / jobs.size
    out.toMap ++ workload
  }
}
