package graft

import graft.exprs.PortableRound.col6
import graft.transcripts.Transcripts
import graft.windows.{AsOfJoin, WindowFeatures}
import org.apache.spark.GraftBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** The measurements the frozen [[Bench]] does not take, one subcommand each.
  * {{{
  * runMain graft.SideBench queries [--reps N] [--plans DIR] q_a q_b ...
  * runMain graft.SideBench scaling [nTurns] [outJson]
  * runMain graft.SideBench skew [nTurns] [hotPct] [outJson] [asof|groupby|groupbyns]
  * runMain graft.SideBench spill [nTurns] [outJson]
  * runMain graft.SideBench cc [nEdges] [nVertices] [outJson]
  * }}}
  * Env: SPARK_GRAFT_CPUS (default: available processors), SPARK_GRAFT_REPS
  * (default 3), SPARK_GRAFT_SF_DIR (`queries` input, required), the
  * [[session]] knobs, and `scaling`'s SPARK_GRAFT_N / SPARK_GRAFT_4N.
  *
  * Every time is a [[minOf]] (a shared host needs min, not mean) of a
  * [[Bench.force]] full-row checksum, so column pruning cannot skip the work
  * and two routes of one job prove identical results. Data-scale inputs are
  * written to parquet once (256 files: scan splits must not be capped by
  * writer cores) and reused.
  */
object SideBench {

  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)
  private def reps: Int = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
  private def memFraction = sys.env.getOrElse("SPARK_GRAFT_MEM_FRACTION", "0.6")

  /** The one session builder. `dataScale = false` is [[Bench]]'s session
    * (shuffle partitions = cores), so `queries` mins compare with Bench's.
    * The data-scale runs (scaling, skew, spill, cc) add:
    *  - shuffle partitions SPARK_GRAFT_SHUFFLE_PARTS, an ABSOLUTE count (same
    *    plan at every parallelism: the cleanest N-vs-4N comparison), else
    *    cores * 8 (the A/B'd sweet spot for low-core sides; 32/core measured
    *    ~9% faster at 4 cores via finer AQE-coalesced grain);
    *  - 32 MB scan splits;
    *  - SPARK_GRAFT_MEM_FRACTION, the spill run's knob: less execution
    *    memory at a FIXED heap separates "big heap" from "big in-memory sort
    *    runs" when attributing GC cost;
    *  - shuffle files on tmpfs: a single virtual disk serializes concurrent
    *    shuffle writers and destroys scaling measurements.
    */
  def session(cores: Int, dataScale: Boolean = true): SparkSession = {
    val shuffleParts =
      if (!dataScale) cores
      else sys.env.get("SPARK_GRAFT_SHUFFLE_PARTS").map(_.toInt).getOrElse(cores * 8)
    val b = SparkSession.builder().master(s"local[$cores]").appName(s"graft-side-$cores")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
    if (dataScale) b
      .config("spark.sql.files.maxPartitionBytes", "32m")
      .config("spark.memory.fraction", memFraction)
      .config("spark.local.dir", "/dev/shm/graft-spark-local")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def using[A](s: SparkSession)(f: SparkSession => A): A =
    try f(s) finally s.stop()

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    (f, (System.nanoTime() - t0) / 1e9)
  }

  final case class Timed(checksum: Long, secs: Seq[Double]) { def min: Double = secs.min }

  /** One warm-up run (JIT, codegen, page cache), then `reps` timed runs. */
  def minOf(reps: Int)(run: => Long): Timed = {
    run
    val rs = (1 to reps).map(_ => timed(run))
    Timed(rs.last._1, rs.map(_._2))
  }

  /** Sums since the previous [[Recorder.take]]; `peakExecMem` is a max. */
  final case class Counts(jobs: Long, tasks: Long, memSpilled: Long, diskSpilled: Long,
      gcMs: Long, runMs: Long, peakExecMem: Long)

  /** The one measurement listener: jobs and wall time per call site (the
    * innermost `graft.` frame of the job's last stage, else the stage name),
    * job and task counts, and task spill / GC / run time / peak execution
    * memory. Every read drains the listener bus first, so a job that ran is
    * never counted against the next measurement. [[close]] detaches it.
    */
  final class Recorder(spark: SparkSession) extends SparkListener {
    private val sc = spark.sparkContext
    private val starts = new ConcurrentHashMap[Int, (String, Long)]()
    private val sites = new ConcurrentHashMap[String, (Long, Long)]()
    private val jobs, tasks, memSpilled, diskSpilled, gcMs, runMs, peak = new AtomicLong
    sc.addSparkListener(this)

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val site = js.stageInfos.lastOption.fold("?") { si =>
        si.details.linesIterator.find(_.contains("graft."))
          .map(_.trim.stripPrefix("at ")).getOrElse(si.name)
      }
      starts.put(js.jobId, (site, System.nanoTime()))
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(starts.remove(je.jobId)).foreach { case (site, t0) =>
        sites.merge(site, (1L, System.nanoTime() - t0), (a, b) => (a._1 + b._1, a._2 + b._2))
      }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        memSpilled.addAndGet(m.memoryBytesSpilled)
        diskSpilled.addAndGet(m.diskBytesSpilled)
        gcMs.addAndGet(m.jvmGCTime)
        runMs.addAndGet(m.executorRunTime)
        peak.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
      }
    }

    def take(): Counts = {
      GraftBridge.waitUntilListenerBusEmpty(sc)
      Counts(jobs.getAndSet(0L), tasks.getAndSet(0L), memSpilled.getAndSet(0L),
        diskSpilled.getAndSet(0L), gcMs.getAndSet(0L), runMs.getAndSet(0L), peak.getAndSet(0L))
    }

    /** (call site, jobs, seconds), most time first. */
    def callSites(): Seq[(String, Long, Double)] = {
      GraftBridge.waitUntilListenerBusEmpty(sc)
      sites.asScala.toSeq.map { case (s, (n, ns)) => (s, n, ns / 1e9) }.sortBy(-_._3)
    }

    def close(): Unit = sc.removeSparkListener(this)
  }

  private def emit(json: String, outJson: String, append: Boolean = false): Unit = {
    println(json)
    val opts = if (append) Seq(StandardOpenOption.CREATE, StandardOpenOption.APPEND) else Nil
    Files.writeString(Paths.get(outJson), json + "\n", opts: _*)
  }

  private def writeOnce(path: String)(df: => DataFrame): String = {
    if (!Files.exists(Paths.get(path))) df.repartition(256).write.parquet(path)
    path
  }

  /** Times declared queries on the caller's session (left running): prints
    * reps, checksum and jobs/tasks per run, then the 40 costliest call sites;
    * returns timings and listener sums over reps + warm-up (a failed query
    * prints its error and is skipped). `plansDir` gets each plan's explain.
    */
  def queries(spark: SparkSession, sfDir: String, names: Seq[String], reps: Int,
      plansDir: Option[String] = None): Seq[(String, Timed, Counts)] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val rec = new Recorder(spark)
    try {
      val out = names.flatMap { name =>
        val fn = SparkEntry.queries(name)
        plansDir.foreach { d =>
          val dir = Files.createDirectories(Paths.get(d))
          Files.writeString(dir.resolve(s"$name.txt"), fn(spark, sfDir).queryExecution
            .explainString(ExplainMode.fromString("formatted")))
        }
        spark.sparkContext.setJobDescription(s"sidebench: $name")
        rec.take()
        try {
          val t = minOf(reps)(Bench.force(fn(spark, sfDir)))
          val c = rec.take()
          // the warm-up is one more run of the same query
          val (jn, tn) = (c.jobs / (reps + 1), c.tasks / (reps + 1))
          println(f"[queries] $name%-28s min=${t.min}%7.3f jobs/rep=$jn%4d tasks/rep=$tn%5d " +
            s"chk=${java.lang.Long.toHexString(t.checksum)} reps=${t.secs.map(s => f"$s%.3f").mkString(",")}")
          Some((name, t, c))
        } catch { case e: Exception =>
          System.err.println(s"[queries] $name failed: ${e.getMessage}")
          None
        } finally spark.sparkContext.setJobDescription(null)
      }
      rec.callSites().take(40).foreach { case (site, n, sec) =>
        println(f"[queries]   $site%-60s jobs=$n%4d total=$sec%7.2f s")
      }
      out
    } finally rec.close()
  }

  private def scalingInput(spark: SparkSession, nTurns: Long): String =
    writeOnce(s"/tmp/graft_scaling_input_$nTurns.parquet")(
      Transcripts.synthetic(spark, nTurns, math.max(32, (nTurns / 200).toInt), seed = 42L))

  /** The flagship job: project-early + dict-encode -> as-of -> window
    * features -> decode. Exchange/sort row-copy bandwidth is the ceiling here (thread dumps
    * showed every executor thread in `Platform.copyMemory`), so:
    *  1. DICT-ENCODE BEFORE THE SHUFFLE: `role`/`tool` cross the exchange
    *     as 1-based tiny ints (one fixed 8-byte UnsafeRow slot instead of
    *     8-byte offset + padded bytes), decoded back to strings only in the
    *     final row-local projection. ~40% fewer bytes copied per row.
    *  2. ONE EXCHANGE TOTAL: the as-of (union + window on conv_id) runs
    *     FIRST over the narrow encoded rows; the window-feature pass needs
    *     the same hashpartitioning(conv_id), so Catalyst adds only a local
    *     re-sort instead of shuffling the wide feature rows again.
    */
  def flagshipPipeline(raw: DataFrame): DataFrame = {
    // STATIC dictionaries: role/tool are the transcript schema's enum
    // domains, so no fit pass runs in the pipeline at all (for open-domain
    // columns DictEncode.fit is one batched agg, done once, not per job)
    val roleD = graft.transforms.DictEncode.Dict("role", Transcripts.RoleNames.sorted)
    val toolD = graft.transforms.DictEncode.Dict("tool", Transcripts.ToolNames.sorted)
    // EARLY PROJECTION: text never crosses the shuffle (100 TB rule: prune
    // before the exchange; the scan itself is columnar so text is read once
    // to compute its length and dropped immediately). The entity key crosses
    // as a FIXED-WIDTH surrogate ("s<rank>" -> rank long: 8 bytes + radix-
    // friendly sort prefix instead of a padded UTF8 string) — the standard
    // 10^12-row layout keys shuffles on integer surrogates, never strings.
    val t = raw.select(substring(col("conv_id"), 2, 18).cast("long").as("conv_key"),
      col("turn_idx"), roleD.encode.as("role_id"), toolD.encode.as("tool_id"),
      col("ts").cast("timestamp").as("ts"), length(col("text")).cast("double").as("text_len"))
    val right = t.filter(col("role_id") === roleD.id("tool")).select(col("conv_key"), col("ts"),
      col("turn_idx").cast("long").as("seq"), col("text_len").as("pval"))
    val asofed = AsOfJoin.asOf(t, right, "conv_key", Seq("pval"), col("seq"))
    val w = WindowFeatures.convWindow("conv_key")
    asofed
      .withColumn("gap_secs", WindowFeatures.gapSecs("conv_key"))
      .withColumn("prev_role_id", lag(col("role_id"), 1).over(w))
      .withColumn("roll5_mean_len", avg(col("text_len")).over(w.rowsBetween(-4, 0)))
      .withColumn("roll9_max_len", max(col("text_len")).over(w.rowsBetween(-8, 0)))
      .withColumn("run_mean_len", avg(col("text_len")).over(w.rowsBetween(Long.MinValue, 0)))
      .withColumn("session_id", WindowFeatures.sessionId(1800L, "conv_key"))
      .withColumn("last_tool_id", WindowFeatures.backfill(col("tool_id"), "conv_key"))
      .withColumn("lag2_len", lag(col("text_len"), 2).over(w))
      .withColumn("lead1_role_id", lead(col("role_id"), 1).over(w))
      // decode: row-local projection AFTER every exchange and sort
      // (conv_id reconstructed exactly from the surrogate)
      .select(
        concat(lit("s"), col("conv_key").cast("string")).as("conv_id"),
        col("turn_idx"), col("ts"), col("text_len"), roleD.decode(col("role_id")).as("role"),
        toolD.decode(col("tool_id")).as("tool"), col("gap_secs"),
        roleD.decode(col("prev_role_id")).as("prev_role"),
        col("roll5_mean_len"), col("roll9_max_len"), col("run_mean_len"), col("session_id"),
        toolD.decode(col("last_tool_id")).as("last_tool"), col("lag2_len"),
        roleD.decode(col("lead1_role_id")).as("lead1_role"), col("pval"))
  }

  /** Control job: row-local hash fold over the same input — no exchange, no
    * sort, no window. Its N-vs-4N ratio measures what THIS HOST gives a
    * perfectly parallel scan (shared memory bandwidth, turbo, page cache),
    * i.e. the ceiling any shuffle-bearing job should be judged against.
    */
  private def controlJob(raw: DataFrame): DataFrame = raw.select(xxhash64(raw.columns.map(col): _*).as("h"))

  /** N-vs-4N scaling: the SAME flagship job on the SAME input at local[N]
    * and local[4N] (standing in for N vs 4N executors), each in a fresh
    * session; efficiency = T_4N / (4 * T_N), judged against the control's.
    */
  def scaling(args: Seq[String]): Unit = {
    val nTurns = args.headOption.map(_.toLong).getOrElse(16000000L)
    val outJson = args.lift(1).getOrElse("BENCH_SCALING.json")
    val lowCores = sys.env.getOrElse("SPARK_GRAFT_N", "8").toInt
    val highCores = sys.env.getOrElse("SPARK_GRAFT_4N", "32").toInt
    val input = using(session(cpus))(scalingInput(_, nTurns))
    def measure(cores: Int, job: DataFrame => DataFrame): Timed =
      using(session(cores))(s => minOf(reps)(Bench.force(job(s.read.parquet(input)))))
    val (low, high) = (measure(lowCores, flagshipPipeline), measure(highCores, flagshipPipeline))
    val (ctlLow, ctlHigh) = (measure(lowCores, controlJob), measure(highCores, controlJob))
    val (thrLow, thrHigh) = (nTurns / low.min, nTurns / high.min)
    val ratio = highCores.toDouble / lowCores
    val eff = thrHigh / (ratio * thrLow)
    val ctlEff = (nTurns / ctlHigh.min) / (ratio * (nTurns / ctlLow.min))
    def r4(x: Double) = math.rint(x * 10000) / 10000.0
    val chkMatch = low.checksum == high.checksum && ctlLow.checksum == ctlHigh.checksum
    emit(s"""{"n_turns":$nTurns,"cores_low":$lowCores,"cores_high":$highCores,
         |"sec_low":${low.min},"sec_high":${high.min},
         |"turns_per_sec_low":${thrLow.round},"turns_per_sec_high":${thrHigh.round},
         |"scaling_efficiency":${r4(eff)},"control_sec_low":${ctlLow.min},
         |"control_sec_high":${ctlHigh.min},"control_efficiency":${r4(ctlEff)},
         |"efficiency_vs_host_ceiling":${r4(eff / ctlEff)},"checksum_match":$chkMatch,
         |"reps":$reps}""".stripMargin.replace("\n", ""), outJson)
  }

  /** Spill regime: the flagship job on an input whose shuffle/window state
    * exceeds executor memory must degrade via SPILL, not OOM — same checksum
    * as an ample-heap run, task spill bytes as the witness. Launch once per
    * heap (SPARK_DRIVER_MEM, SPARK_GRAFT_MEM_FRACTION); each run APPENDS one
    * JSON line to `outJson`.
    */
  def spill(args: Seq[String]): Unit = {
    val nTurns = args.headOption.map(_.toLong).getOrElse(64000000L)
    val outJson = args.lift(1).getOrElse("BENCH_SPILL.json")
    using(session(cpus)) { spark =>
      val input = scalingInput(spark, nTurns)
      val rec = new Recorder(spark)
      // zero-shuffle control brackets the measured run (the Bench / scaling
      // contamination-marker protocol): its time moves only with host load,
      // so a slow flagship reading next to clean controls is a plan/JVM
      // effect, not a co-tenant burst
      def control(): Double = timed(Bench.force(controlJob(spark.read.parquet(input))))._2
      control() // warm the control's own codegen
      val ctlBefore = control()
      rec.take() // drained: control tasks stay out of the flagship's sums
      val (chk, sec) = timed(Bench.force(flagshipPipeline(spark.read.parquet(input))))
      val c = rec.take()
      val ctlAfter = control()
      val heapGb = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
      def f3(x: Double) = math.rint(x * 1000) / 1000.0
      emit(s"""{"n_turns":$nTurns,"cores":$cpus,"heap_gb":${math.rint(heapGb * 10) / 10},
           |"mem_fraction":${memFraction.toDouble},"sec":${f3(sec)},"turns_per_sec":${(nTurns / sec).round},
           |"memory_spilled_bytes":${c.memSpilled},"disk_spilled_bytes":${c.diskSpilled},
           |"peak_task_execution_memory":${c.peakExecMem},"task_gc_ms":${c.gcMs},"task_run_ms":${c.runMs},
           |"control_before_sec":${f3(ctlBefore)},"control_after_sec":${f3(ctlAfter)},
           |"checksum":"${java.lang.Long.toHexString(chk)}"}""".stripMargin.replace("\n", ""),
        outJson, append = true)
    }
  }

  /** Synthetic turns where ~hotPct% of rows share conv_id "hot"; the rest
    * spread uniformly over 4096 conversations. Pure function of the row id —
    * reproducible under any partitioning.
    */
  private def skewedTurns(spark: SparkSession, nTurns: Long, hotPct: Int): DataFrame = {
    val df = spark.range(0, nTurns, 1, math.max(spark.sparkContext.defaultParallelism, 1))
    val h = xxhash64(col("id") + 42)
    val conv = when(pmod(h, lit(100L)) < hotPct, lit("hot"))
      .otherwise(concat(lit("s"), pmod(xxhash64(h), lit(4096L)).cast("string")))
    df.select(conv.as("conv_id"), col("id").as("turn_idx"),
      timestamp_micros(lit(1704067200000000L) + pmod(xxhash64(h + 1), lit(86400000000L * 30)))
        .as("ts"),
      (pmod(xxhash64(h + 2), lit(1000L)).cast("double") / 10.0).as("text_len"),
      (pmod(col("id"), lit(3)) === 2).as("is_tool"))
  }

  /** GroupByThen under the hot key: key-partition window (one task per key)
    * or two-phase salted aggregate + join-back (fact rows never shuffle).
    * The value is integer-valued and both round with the portable 6-dp
    * formula, so the checksums are comparable bit-for-bit.
    */
  private def groupbyJob(spark: SparkSession, path: String, saltedPath: Boolean,
      broadcastJoin: Boolean = true): DataFrame = {
    val t = spark.read.parquet(path)
      .withColumn("v", pmod(xxhash64(col("turn_idx") + 5), lit(1000L)).cast("double"))
    val out =
      if (saltedPath) WindowFeatures.groupByThenSalted(t, "conv_id", col("v"), "g", salts = 64,
        broadcastJoin = broadcastJoin)
      else WindowFeatures.groupByThenWindowed(t, "conv_id", col("v"), "g")
    out.select(col("conv_id"), col("turn_idx"),
      col6(col("g_mean")).as("g_mean"), col6(col("g_std")).as("g_std"),
      col("g_min").cast("long").as("g_min"), col("g_max").cast("long").as("g_max"),
      col("g_cnt").cast("long").as("g_cnt"), col6(col("g_sum")).as("g_sum"))
  }

  /** As-of under the hot key: union + window by entity (the hot entity is
    * one task) or time buckets + carry-in stitch (it fans out over 64 tasks).
    */
  private def asofJob(spark: SparkSession, path: String, skewPath: Boolean): DataFrame = {
    val t = spark.read.parquet(path)
    val left = t.select(col("conv_id"), col("turn_idx"), col("ts"), col("text_len"))
    val right = t.filter(col("is_tool"))
      .select(col("conv_id"), col("ts"), col("turn_idx").as("seq"), col("text_len").as("pval"))
    if (skewPath) AsOfJoin.asOfSkew(left, right, "conv_id", Seq("pval"), col("seq"), numBuckets = 64)
    else AsOfJoin.asOf(left, right, "conv_id", Seq("pval"), col("seq"))
  }

  /** Skew: one job's plain and skew-safe routes where ONE conversation owns
    * `hotPct`% of all turns; identical checksums prove the routes equivalent.
    */
  def skew(args: Seq[String]): Unit = {
    val nTurns = args.headOption.map(_.toLong).getOrElse(8000000L)
    val hotPct = args.lift(1).map(_.toInt).getOrElse(20)
    val outJson = args.lift(2).getOrElse("BENCH_SKEW.json")
    val mode = args.lift(3).getOrElse("asof")
    require(Set("asof", "groupby", "groupbyns")(mode), s"unknown skew mode $mode")
    using(session(cpus)) { spark =>
      val path = writeOnce(s"/tmp/graft_skew_input_${nTurns}_$hotPct.parquet")(
        skewedTurns(spark, nTurns, hotPct))
      // "groupbyns": the NON-broadcast salted fallback — baseline is the
      // broadcast join-back, the measured path the shuffle join-back on a
      // cloned session with broadcast disabled and AQE skew thresholds
      // sized to this input so the skew-split engages
      lazy val noBroadcast = {
        val s2 = spark.newSession()
        Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.skewJoin.enabled" -> "true",
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16m",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m"
        ).foreach { case (k, v) => s2.conf.set(k, v) }
        s2
      }
      // JSON keys and jobs of the plain and the safe route
      val (baseKey, safeKey, job) = mode match {
        case "groupby" => ("sec_window", "sec_salted", groupbyJob(spark, path, _: Boolean))
        case "groupbyns" => ("sec_salted_broadcast", "sec_salted_shuffle", (safe: Boolean) =>
          if (safe) groupbyJob(noBroadcast, path, saltedPath = true, broadcastJoin = false)
          else groupbyJob(spark, path, saltedPath = true))
        case _ => ("sec_union_window", "sec_skew_bucketed", asofJob(spark, path, _: Boolean))
      }
      val plain = minOf(reps)(Bench.force(job(false)))
      val safe = minOf(reps)(Bench.force(job(true)))
      // the asof artifacts (BENCH_SKEW*.json) predate the mode key
      val modeKey = if (mode == "asof") "" else s""""mode":"$mode","""
      emit(s"""{$modeKey"n_turns":$nTurns,"hot_pct":$hotPct,"cores":$cpus,
           |"$baseKey":${plain.min},"$safeKey":${safe.min},
           |"speedup":${math.rint(plain.min / safe.min * 100) / 100.0},
           |"checksum_match":${plain.checksum == safe.checksum},"reps":$reps}"""
        .stripMargin.replace("\n", ""), outJson)
    }
  }

  /** [[graft.dedup.Dedup.connectedComponents]] rounds-to-converge and edges
    * per round, the evidence for the O(log^2) convergence claim and the
    * maxIter=25 margin. A heavy src head (vertex 0's expected degree is
    * ~edges/ln(nV)) and uniform dst make one giant component that stresses
    * the star rounds; edges are a pure function of the id (reproducible).
    */
  def cc(args: Seq[String]): Unit = {
    val nEdges = args.headOption.map(_.toLong).getOrElse(10000000L)
    val nVerts = args.lift(1).map(_.toLong).getOrElse(20000000L)
    val outJson = args.lift(2).getOrElse("BENCH_CC.json")
    using(session(cpus)) { spark =>
      val e = spark.range(0, nEdges, 1, cpus * 4)
      val u = pmod(xxhash64(col("id"), lit(1)), lit(1000003L)).cast("double") / 1000003.0
      // log-uniform head: src = floor(exp(u * ln(nVerts))) - 1 in [0, nVerts)
      val src = least(floor(exp(u * math.log(nVerts.toDouble))).cast("long") - 1, lit(nVerts - 1))
      val dst = pmod(xxhash64(col("id"), lit(2)), lit(nVerts))
      val pairs = e.select(greatest(src, lit(0L)).as("a"), dst.as("b"))
      val verts = spark.range(0, nVerts).select(col("id").as("doc_id"))
      val rounds = collection.mutable.ArrayBuffer[(Int, Long)]()
      val (nComponents, sec) = timed {
        val labels = graft.dedup.Dedup.connectedComponents(pairs, verts,
          onRound = (r, n) => rounds += ((r, n)))
        labels.select(col("component")).distinct().count()
      }
      val roundJson = rounds.map { case (r, n) => s"""{"round":$r,"edges":$n}""" }
        .mkString("[", ",", "]")
      emit(s"""{"n_edges_in":$nEdges,"n_vertices":$nVerts,"cores":$cpus,
           |"rounds_to_converge":${rounds.size},"max_iter_margin":${25 - rounds.size},
           |"peak_round_edges":${if (rounds.isEmpty) 0L else rounds.map(_._2).max},
           |"n_components":$nComponents,"sec_total":${math.rint(sec * 1000) / 1000},
           |"per_round":$roundJson}""".stripMargin.replace("\n", ""), outJson)
    }
  }

  private def queriesMain(args: List[String]): Unit = {
    def parse(a: List[String], reps: Int, plans: Option[String],
        names: Vector[String]): (Int, Option[String], Vector[String]) = a match {
      case "--reps" :: n :: t  => parse(t, n.toInt.max(1), plans, names)
      case "--plans" :: d :: t => parse(t, reps, Some(d), names)
      case q :: t              => parse(t, reps, plans, names :+ q)
      case Nil                 => (reps, plans, names)
    }
    val (n, plans, names) = parse(args, reps, None, Vector.empty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sys.error("queries needs SPARK_GRAFT_SF_DIR"))
    using(session(cpus, dataScale = false))(queries(_, sfDir, names, n, plans))
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "queries" :: rest => queriesMain(rest)
    case "scaling" :: rest => scaling(rest)
    case "skew" :: rest    => skew(rest)
    case "spill" :: rest   => spill(rest)
    case "cc" :: rest      => cc(rest)
    case _ => sys.error("usage: graft.SideBench queries|scaling|skew|spill|cc [args] (see scaladoc)")
  }
}
