package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** One benchmark run of one workload; launched by `perfbench/run.py`,
  * which builds this program and re-checks its outputs with DuckDB.
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1 --cores C --work DIR
  * }}}
  *
  * Closed loop, one client: this thread drives one Spark session on
  * `local[C]` and starts the next iteration when the previous one ends.
  * `--trace 0` sets up three times (the median is `setup_s`), warms up,
  * then times iterations for S seconds (at least one).
  * `--trace 1` sets up once, times untraced iterations for S/2 seconds, then
  * the same number with the job listener attached, and reports per-layer
  * numbers. The result is the last stdout line, prefixed `RESULT `.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, work: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("cores").toInt, need("work"))
  }

  def session(cores: Int, parts: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Iterations while another one of the last one's length still ends
    * within `seconds` (at least `min`, at most `max`); each output key must
    * equal `ref`, or the first key when `ref` is None. Returns (iterations,
    * failures, reference key).
    */
  def loop(w: Workload, st: Steps, ref: Option[String], seconds: Double, min: Int,
      max: Int = Int.MaxValue): (Seq[Iter], Int, Option[String]) = {
    val t0 = System.nanoTime()
    val its = collection.mutable.ArrayBuffer.empty[Iter]
    var failed = 0
    var key = ref
    var last = 0.0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while ((its.size + failed < min || elapsed + last <= seconds) && its.size + failed < max) {
      val ti = elapsed
      try {
        val it = w.iteration(st)
        if (key.isEmpty) key = Some(it.key)
        if (key.contains(it.key)) its += it
        else {
          failed += 1
          log(s"output mismatch: ${it.key} != ${key.get}")
        }
      } catch {
        case e: Exception =>
          failed += 1
          log(s"iteration failed: $e")
      }
      last = elapsed - ti
    }
    (its.toSeq, failed, key)
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private val started = System.nanoTime()
  /** Progress line on stderr, with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2f s] $msg")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val work = new File(a.work).getAbsolutePath
    val w = Workloads(a.workload, a.seed, a.cores)
    val out = collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    var attempted = 0
    var failed = 0
    val problems = collection.mutable.ArrayBuffer.empty[String]
    val data = s"$work/data"

    var spark: SparkSession = null
    val setupTimes = (1 to (if (a.trace) 1 else 3)).map { r =>
      if (spark != null) { spark.stop(); deleteTree(new File(data)) }
      val t0 = System.nanoTime()
      spark = session(a.cores, a.cores, work)
      log(s"session $r started")
      w.setup(spark, data)
      log(s"setup $r done")
      (System.nanoTime() - t0) / 1e9
    }
    // input properties are recorded with the traced run's spans
    val props = if (a.trace) w.properties(spark) else Seq.empty
    val st = new Steps(spark)
    val ref = w.warmUp(st, work)
    if (ref.isDefined) attempted += 1
    log(s"warm-up: $ref")

    if (!a.trace) {
      val (its, bad, _) = loop(w, st, ref, a.seconds, min = 1)
      attempted += its.size + bad
      failed += bad
      log("timed iterations done")
      problems ++= w.checkOnce(spark)
      log("output checks done")
      out("setup_s") = (median(setupTimes), "s")
      out("stage1_s") = (median(its.map(_.stage1S)), "s")
      out("stage2_rows_per_s") = (w.stage2Rows / median(its.map(_.stage2S)), "rows/s")
      log(s"${its.size} timed iterations; setups ${setupTimes.map(x => f"$x%.2f").mkString(",")}; " +
        s"iterations ${its.map(x => f"${x.stage1S}%.3f/${x.stage2S}%.3f").mkString(",")}")
      val steps = st.spans.groupBy(_._1).map { case (k, v) => k -> median(v.toSeq.map(x => (x._3 - x._2).toDouble)) }
      log(s"median step ms: ${steps.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(", ")}")
    } else {
      val (plain, bad1, key) = loop(w, st, ref, a.seconds / 2, min = 1)
      val n = plain.size + bad1
      val trace = new Trace
      val sc = spark.sparkContext
      sc.addSparkListener(trace)
      val stTraced = new Steps(spark)
      val (traced, bad2, _) = loop(w, stTraced, key, 0, min = n, max = n)
      trace.drain(sc)
      sc.removeSparkListener(trace)
      attempted += n + traced.size + bad2
      failed += bad1 + bad2
      problems ++= w.checkOnce(spark)
      val m = Layers.metrics(trace, stTraced.spans.toSeq, math.max(traced.size, 1), w.layerNumbers(spark))
      val overhead = median(traced.map(_.totalS)) / median(plain.map(_.totalS))
      val scaling = w match {
        case p: Workloads.PitDedup =>
          // the backfill stage on one core against the same stage on all
          // cores, same shuffle partitioning; the first one-core pass warms
          // the new session up
          val many = median((1 to 2).map(_ => p.backfill()))
          spark.stop()
          spark = session(1, a.cores, work)
          w.reopen(spark, data)
          val one = median((1 to 3).map(_ => p.backfill()).drop(1))
          one / (a.cores * many)
        case _ => 0.0
      }
      for (name <- Layers.Names) {
        val v = name match {
          case "trace.overhead_ratio"    => overhead
          case "engine.scaling_eff_1to4" => scaling
          case n                         => m.getOrElse(n, 0.0)
        }
        out(name) = (v, Layers.unit(name))
      }
      writeTrace(s"$work/trace-${a.workload}-${a.seed}.json", stTraced.spans.toSeq, trace, props)
    }
    spark.stop()

    if (problems.nonEmpty) {
      problems.foreach(p => log(s"check failed: $p"))
      failed = attempted
    }
    if (props.nonEmpty)
      println("PROPERTIES " + props.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}"))
    val metrics = out.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")
    println(s"""RESULT {"correct":${problems.isEmpty && failed == 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":$metrics}""")
  }

  /** Spans of the traced iterations: one per step, one per Spark job. */
  def writeTrace(path: String, steps: Seq[(String, Long, Long)], t: Trace,
      props: Seq[(String, Double)]): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val stepJson = steps.map { case (n, s, e) => s"""{"name":${q(n)},"start_ms":$s,"end_ms":$e}""" }
    val jobJson = t.jobList.map { j =>
      s"""{"job":${j.id},"layer":${q(j.layer)},"step":${q(j.step)},"start_ms":${j.start},""" +
        s""""end_ms":${j.end},"ok":${j.ok}}"""
    }
    val propJson = props.map { case (k, v) => s"${q(k)}:${num(v)}" }
    val json = s"""{"properties":{${propJson.mkString(",")}},"steps":[${stepJson.mkString(",\n")}],""" +
      s""""jobs":[${jobJson.mkString(",\n")}]}"""
    Files.write(Paths.get(path), json.getBytes(StandardCharsets.UTF_8))
  }
}
