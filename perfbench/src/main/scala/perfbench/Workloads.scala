package perfbench

import graft.dedup.Dedup
import graft.search.{Cdfc, CdfcConfig, CdfcResult, FeatureConstructor, LrScorer}
import graft.text.TextFeatures
import graft.windows.{AsOfJoin, WindowFeatures}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed iteration's outcome: `key` must equal the run's first
  * iteration's; an iteration has two timed stages.
  */
final case class Iter(key: String, stage1S: Double, stage2S: Double) {
  def totalS: Double = stage1S + stage2S
}

/** Runs `f` as a named benchmark step, recording its span. `owner` is the
  * module that built the lazy plan `f` forces, declared for jobs launched
  * from benchmark code (see [[Trace]]); steps that only call eager engine
  * APIs declare none.
  */
final class Steps(spark: SparkSession) {
  val spans = collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
  def apply[A](name: String, owner: String = null)(f: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.StepProp, name)
    sc.setLocalProperty(Trace.OwnerProp, owner)
    val t0 = System.currentTimeMillis()
    try f finally {
      spans += ((name, t0, System.currentTimeMillis()))
      sc.setLocalProperty(Trace.StepProp, null)
      sc.setLocalProperty(Trace.OwnerProp, null)
    }
  }
}

trait Workload {
  /** Rows the second stage of an iteration processes. */
  def stage2Rows: Long
  /** Generates the inputs, writes them under `dir` and reads them back;
    * a repeated call redoes all of it.
    */
  def setup(spark: SparkSession, dir: String): Unit
  /** Re-reads the inputs `setup` wrote, in a new session. */
  def reopen(spark: SparkSession, dir: String): Unit
  /** Input properties the generator produced, measured once per run. */
  def properties(spark: SparkSession): Seq[(String, Double)]
  def iteration(st: Steps): Iter
  /** An untimed first iteration, if the workload has one: it warms the
    * plans up and writes what the once-per-run checks read under `dir`;
    * returns the reference key.
    */
  def warmUp(st: Steps, dir: String): Option[String]
  /** Once-per-run output checks outside the timed region; returns problems. */
  def checkOnce(spark: SparkSession): Seq[String]
  /** Workload-specific per-layer numbers of the last iteration. */
  def layerNumbers(spark: SparkSession): Map[String, Double] = Map.empty
}

object Workloads {
  /** Row count and order-insensitive full-row hash of `df`. */
  def checksum(df: DataFrame): String = {
    val r = df.agg(count(lit(1)),
      call_function("bit_xor", xxhash64(df.columns.map(c => col(s"`$c`")): _*))).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}"
  }

  /** As [[checksum]] with doubles rounded to 1e-6: fitted statistics are
    * sums whose last bits depend on the order partial results arrive in.
    */
  def roundedChecksum(df: DataFrame): String =
    checksum(df.select(df.schema.fields.toSeq.map { f =>
      if (f.dataType.typeName == "double") round(col(s"`${f.name}`"), 6).as(f.name)
      else col(s"`${f.name}`")
    }: _*))

  /** Writes `df` and returns the checksum of what was written. */
  def writeChecked(df: DataFrame, path: String): String =
    checksum(Gen.write(df, path))

  def apply(name: String, seed: Long, cores: Int): Workload = name match {
    case "pit_dedup" => new PitDedup(seed, cores)
    case "search_lr" => new SearchLr(seed, cores)
    case other       => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** `pit_dedup`. Stage 1, the point-in-time backfill: the standard window
    * features, the routed as-of join and the time-range aggregate over Zipf
    * turns. Stage 2, near-duplicate detection over planted documents:
    * shingles -> MinHash -> LSH candidates, exact Jaccard pairs, SimHash
    * pairs. Every output is forced by a full-row checksum.
    */
  final class PitDedup(seed: Long, cores: Int) extends Workload {
    private val nTurns = 40000L
    private val nConvs = 200
    private val nRight = 13000L
    private val nDocs = 4000L
    private val planted = 200
    private val boilerPct = 80
    val maxDf = 500L
    val threshold = 0.5
    private var turns: DataFrame = _
    private var right: DataFrame = _
    private var docs: DataFrame = _
    private var lastAsOf: DataFrame = _
    private var lastJaccard: DataFrame = _
    private var lastCandidates: DataFrame = _
    def stage2Rows: Long = nDocs

    def setup(spark: SparkSession, dir: String): Unit = {
      Gen.write(Gen.turns(spark, seed, nTurns, nConvs, cores), s"$dir/turns")
      Gen.write(Gen.right(spark, seed, nRight, nConvs, cores), s"$dir/right")
      Gen.write(Gen.docs(spark, seed, nDocs, planted, boilerPct, cores), s"$dir/docs")
      reopen(spark, dir)
    }
    def reopen(spark: SparkSession, dir: String): Unit = {
      turns = spark.read.parquet(s"$dir/turns")
      right = spark.read.parquet(s"$dir/right")
      docs = spark.read.parquet(s"$dir/docs")
    }

    def properties(spark: SparkSession): Seq[(String, Double)] = {
      val hot = turns.groupBy("conv_id").count().agg(max("count"), count(lit(1))).head()
      val sh = Dedup.shingles(docs)
      val r = sh.join(sh.groupBy("shingle").count(), "shingle")
        .agg(count(lit(1)), sum(when(col("count") > maxDf, 1).otherwise(0))).head()
      Seq("turns" -> nTurns.toDouble, "conversations" -> hot.getLong(1).toDouble,
        "hot_conversation_share" -> hot.getLong(0).toDouble / nTurns,
        "asof_right_rows" -> nRight.toDouble, "asof_broadcast_threshold_rows" -> 4000000.0,
        "docs" -> nDocs.toDouble, "planted_pairs" -> planted.toDouble,
        "shingle_rows" -> r.getLong(0).toDouble,
        "frequent_shingle_share" -> r.getLong(1).toDouble / r.getLong(0),
        "max_df" -> maxDf.toDouble)
    }

    private def left = turns.select("conv_id", "turn_idx", "ts")
    private def windowOut = WindowFeatures.standardFeatures(turns)
      .select("conv_id", "turn_idx", "text_len", "gap_secs", "prev_role", "roll5_mean_len",
        "session_id", "run_mean_len", "last_tool")
    private def rangeOut = AsOfJoin.rangeAgg(left, right, "conv_id", "state_v", 3600L,
      Seq("r_cnt" -> (c => count(c)), "r_sum" -> (c => sum(c)), "r_max" -> (c => max(c))))

    /** One iteration, a backfill pass then a near-dup pass; `force`
      * materializes an output and returns its key.
      */
    private def run(st: Steps, force: (String, DataFrame) => String): Iter = {
      val t0 = System.nanoTime()
      val w = st("windows.standardFeatures", "windows.WindowFeatures")(force("windows", windowOut))
      val a = st("windows.asOfAuto", "windows.AsOfJoin") {
        lastAsOf = AsOfJoin.auto(left, right, "conv_id", Seq("state_v", "state_k"), col("rseq"))
        force("asof", lastAsOf)
      }
      val r = st("windows.rangeAgg", "windows.AsOfJoin")(force("range", rangeOut))
      val t1 = System.nanoTime()
      val sh = st("dedup.shingles", "dedup.Dedup")(Dedup.shingles(docs).localCheckpoint(true))
      lastCandidates = Dedup.lshCandidates(Dedup.minhashSignatures(sh))
      val c = st("dedup.lshCandidates", "dedup.Dedup")(checksum(lastCandidates))
      lastJaccard = Dedup.jaccardPairs(sh, threshold, maxDf)
      val j = st("dedup.jaccardPairs", "dedup.Dedup")(checksum(lastJaccard))
      val sim = st("text.simhash", "text.TextFeatures") {
        TextFeatures.simhash(TextFeatures.hashedTokens(docs)).localCheckpoint(true)
      }
      val sp = st("dedup.simhashPairs", "dedup.Dedup")(checksum(Dedup.simhashPairs(sim)))
      val t2 = System.nanoTime()
      Iter(s"$w/$a/$r/$c/$j/$sp", (t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }

    def iteration(st: Steps): Iter = run(st, (_, df) => checksum(df))

    /** Stage 1 alone, for the one-core scaling measurement. */
    def backfill(): Double = {
      val t0 = System.nanoTime()
      checksum(windowOut)
      checksum(AsOfJoin.auto(left, right, "conv_id", Seq("state_v", "state_k"), col("rseq")))
      checksum(rangeOut)
      (System.nanoTime() - t0) / 1e9
    }

    /** One iteration that also writes the backfill outputs, which the
      * launcher re-computes with DuckDB from the same parquet. Each output
      * is forced by the same checksum as in the timed iterations, so their
      * plans are warm; a written output whose checksum differs makes the key
      * differ from every timed iteration's.
      */
    def warmUp(st: Steps, dir: String): Option[String] =
      Some(run(st, { (name, df) =>
        val k = checksum(df)
        val w = writeChecked(df, s"$dir/out_$name")
        if (w == k) k else s"$k!=$w"
      }).key)

    def checkOnce(spark: SparkSession): Seq[String] = {
      val r = recall()
      if (r == 1.0) Seq.empty else Seq(s"planted recall $r at Jaccard threshold $threshold")
    }

    private def recall(): Double = {
      val spark = docs.sparkSession
      import spark.implicits._
      val plantedPairs = (0 until planted).map(k => (2L * k, 2L * k + 1)).toDF("a", "b")
      plantedPairs.join(lastJaccard, Seq("a", "b")).count().toDouble / planted
    }

    /** The as-of route (0 shuffle: union + window; 1 skew: bucketed window
      * and broadcast carry-in; 2 broadcast: no window) read from the
      * executed plan, and the dedup counts.
      */
    override def layerNumbers(spark: SparkSession): Map[String, Double] = {
      val plan = lastAsOf.queryExecution.executedPlan.toString
      val hasWindow = plan.contains("Window [")
      val hasBhj = plan.contains("BroadcastHashJoin")
      val cand = lastCandidates.count().toDouble
      val res = lastJaccard.count().toDouble
      Map("windows.AsOfJoin.route" -> (if (hasBhj && !hasWindow) 2.0 else if (hasBhj) 1.0 else 0.0),
        "dedup.candidate_pairs" -> cand, "dedup.result_pairs" -> res,
        "dedup.candidate_ratio" -> (if (res > 0) cand / res else 0.0),
        "dedup.planted_recall" -> recall())
    }
  }

  /** `search_lr`: the paper's search with its default two-stage
    * MI -> CV-LR gain oracle at the `q_cdfc` setting but one layer
    * shallower (`cMax` 2), run through the resumable entry with a
    * checkpoint directory (a fresh one per iteration, so every iteration
    * searches from scratch and writes every layer). Stage 1 is the search
    * call; stage 2 applies 12 features to the full turn table through the
    * transform of `FeatureConstructor.FeatureModel`.
    */
  final class SearchLr(seed: Long, cores: Int) extends Workload {
    private val baseTurns = 8000L
    private val fullTurns = 120000L
    // epsilon -1 passes every candidate that is neither constant nor a
    // duplicate, so how much a search does, and which features the
    // transform applies, do not depend on how much signal a seed's data
    // happens to carry
    private val cfg = CdfcConfig(cMax = 2, maxLayerWidth = 64, batchSize = 64, lrTopK = 4,
      epsilon = -1.0)
    private val ApplyTop = 12
    private val PerConvMean = graft.exprs.GroupByThenE(graft.exprs.AggKind.Mean,
      graft.exprs.RawCol("text_len"), graft.exprs.RawCol("conv_id"))
    private var base: DataFrame = _
    private var full: DataFrame = _
    private var last: CdfcResult = _
    private var ckRoot: String = _
    private var ckN = 0
    def stage2Rows: Long = fullTurns

    private def search(df: DataFrame, c: CdfcConfig): CdfcResult = {
      ckN += 1
      new Cdfc(df, Gen.BaseNumeric, Gen.BaseCategorical, Seq("conv_id"),
        col("label_next_tool"), c, Some(s"$ckRoot/$ckN")).run()
    }

    /** Writes the search base and the full table. */
    def setup(spark: SparkSession, dir: String): Unit = {
      def table(s: Long, n: Long, name: String) =
        Gen.write(Gen.searchBase(Gen.turns(spark, s, n, math.max(1, (n / 200).toInt), cores))
          .repartition(cores), s"$dir/$name")
      table(seed + 1, baseTurns, "base")
      table(seed, fullTurns, "full")
      reopen(spark, dir)
      checksum(base); checksum(full)
    }
    def reopen(spark: SparkSession, dir: String): Unit = {
      base = spark.read.parquet(s"$dir/base")
      full = spark.read.parquet(s"$dir/full")
      ckRoot = s"$dir/checkpoints"
    }

    def properties(spark: SparkSession): Seq[(String, Double)] = {
      val d = base.agg(count(lit(1)), Gen.BaseNumeric.map(c => countDistinct(col(c))): _*).head()
      Seq("rows" -> d.getLong(0).toDouble, "apply_rows" -> fullTurns.toDouble,
        "mdlp_distinct_bound" -> 100000.0) ++
        Gen.BaseNumeric.zipWithIndex.map { case (c, i) => s"distinct.$c" -> d.getLong(i + 1).toDouble }
    }

    def iteration(st: Steps): Iter = {
      val t0 = System.nanoTime()
      val res = st("search.fit")(search(base, cfg))
      val t1 = System.nanoTime()
      last = res
      // a fixed set of features, whatever the seed: the per-conversation
      // mean length (a window over conv_id, as the GroupByThen survivors
      // need) and the first row-wise survivors by canonical key
      val passed = res.survivors.filter(_.passed).sortBy(_.key)
      val rowWise = passed.map(_.expr).filterNot(_.isInstanceOf[graft.exprs.GroupByThenE])
      val exprs = (PerConvMean +: rowWise).distinctBy(graft.exprs.Canon.key).take(ApplyTop)
      val named = exprs.map(e => s"feat_${graft.exprs.Lower.alias(e)}" -> e)
      val model = FeatureConstructor.FeatureModel(passed, named, res.fit, res)
      // the transform is short, so its median over six passes counts
      val passes = (1 to 6).map { _ =>
        val t = System.nanoTime()
        val out = st("search.transform", "search.LayerBuilder")(roundedChecksum(model.transform(full)))
        (out, (System.nanoTime() - t) / 1e9)
      }
      val keys = res.survivors.map(s => s"${s.key}:${s.passed}").sorted.mkString(",")
      Iter(s"${res.best.key}|${keys.hashCode}|${named.size}|${passes.map(_._1).distinct.mkString("|")}",
        (t1 - t0) / 1e9, Main.median(passes.map(_._2)))
    }

    /** One CV-LR score of a raw column warms up the LR stage, which holds
      * most of a search's jobs, and one transform of the per-conversation
      * mean warms up the apply step; the first timed search sets the
      * reference.
      */
    def warmUp(st: Steps, dir: String): Option[String] = {
      LrScorer.score(base, Seq("text_len"), "label_next_tool", cfg.lrFolds, cfg.lrGrid)
      checksum(graft.search.LayerBuilder.select(full, full.columns.toSeq,
        Seq("feat_mean" -> PerConvMean)))
      None
    }

    def checkOnce(spark: SparkSession): Seq[String] =
      if (last.survivors.exists(_.passed)) Seq.empty else Seq("the search kept no feature")

    override def layerNumbers(spark: SparkSession): Map[String, Double] = {
      val en = last.layers.map(_.enumerated).sum.toDouble
      val sv = last.layers.map(_.survived).sum.toDouble
      Map("search.enumerated" -> en, "search.survived" -> sv,
        "search.dropped" -> last.layers.map(_.dropped).sum.toDouble,
        "search.survival_ratio" -> (if (en > 0) sv / en else 0.0),
        "search.lr_scored" -> last.lrAuc.size.toDouble)
    }
  }
}
