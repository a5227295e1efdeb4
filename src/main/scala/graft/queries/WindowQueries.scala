package graft.queries

import graft.exprs.PortableRound.col6
import graft.Tables
import graft.transcripts.Transcripts
import graft.windows.{AsOfJoin, WindowFeatures => WF}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window / point-in-time operator queries with DuckDB oracles.
  *
  * Output conventions shared with the oracle SQL (the driver hash-compares
  * values after sorting columns by name):
  *   - every int becomes BIGINT, every float DOUBLE rounded to 6 dp
  *   - timestamps become epoch microseconds (unix_micros / epoch_us)
  */
object WindowQueries {

  private def T(s: SparkSession, dir: String): DataFrame =
    Transcripts.fromEvents(Tables.events(s, dir))

  private val cte = "WITH " + Transcripts.sqlCte

  /** Per-conversation window ordered by the stable (ts, turn_idx). */
  private val wSql = "PARTITION BY conv_id ORDER BY ts, turn_idx"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_transcripts" -> ((s, dir) => {
      T(s, dir).select(
        col("conv_id"), col("turn_idx").cast("long").as("turn_idx"),
        col("role"), col("text"), col("tool"),
        unix_micros(col("ts")).as("ts_us"))
    }),

    "q_lag_lead" -> ((s, dir) => {
      val w = WF.convWindow()
      T(s, dir).select(
        col("conv_id"), col("turn_idx").cast("long").as("turn_idx"),
        col6(WF.gapSecs()).as("gap_secs"),
        lag(col("role"), 1).over(w).as("prev_role"),
        lead(col("role"), 1).over(w).as("next_role"),
        lag(length(col("text")), 2).over(w).cast("long").as("prev2_len"))
    }),

    "q_rolling" -> ((s, dir) => {
      val len = length(col("text")).cast("double")
      T(s, dir).select(
        col("conv_id"), col("turn_idx").cast("long").as("turn_idx"),
        col6(WF.rollingRows(avg, len, 5)).as("roll5_mean_len"),
        WF.rollingRows(c => sum(c), length(col("text")).cast("long"), 3).as("roll3_sum_len"),
        WF.rollingTime(_ => count(lit(1)), lit(1), 1800L).cast("long").as("cnt_30m"))
    }),

    "q_session" -> ((s, dir) => {
      val sess = T(s, dir).withColumn("session_id", WF.sessionId(1800L))
      sess.select(
        col("conv_id"), col("turn_idx").cast("long").as("turn_idx"),
        col("session_id").cast("long").as("session_id"),
        count(lit(1)).over(Window.partitionBy(col("conv_id"), col("session_id")))
          .cast("long").as("session_turns"))
    }),

    "q_backfill" -> ((s, dir) => {
      T(s, dir).select(
        col("conv_id"), col("turn_idx").cast("long").as("turn_idx"),
        WF.backfill(col("tool")).as("last_tool"),
        sum(when(col("tool").isNotNull, 1L).otherwise(0L))
          .over(WF.atOrBefore()).as("tool_turns_so_far"))
    }),

    "q_groupby_then" -> ((s, dir) => {
      val len = length(col("text")).cast("double")
      T(s, dir).select(
        col("conv_id"), col("turn_idx").cast("long").as("turn_idx"),
        col6(WF.groupByThen(avg, len, col("conv_id"))).as("conv_mean_len"),
        WF.groupByThen(max, length(col("text")).cast("long"), col("conv_id")).as("conv_max_len"),
        WF.groupByThen(min, length(col("text")).cast("long"), col("conv_id")).as("conv_min_len"),
        col6(WF.groupByThen(stddev_samp, len, col("conv_id"))).as("conv_std_len"),
        WF.groupByThen(c => count(c), len, col("conv_id")).cast("long").as("conv_cnt"),
        col6(WF.groupByThenAtOrBefore(avg, len)).as("run_mean_len"))
    }),

    // Skew-safe GroupByThen (SURVEY §7.4(1)): same per-row semantics as the
    // q_groupby_then window columns, but via the two-phase salted aggregate
    // + broadcast join-back — the fact rows never shuffle; the oracle
    // recomputes every aggregate from raw text with the same portable
    // formulas (integer-valued inputs -> exact sums -> bit parity)
    "q_groupby_salted" -> ((s, dir) => {
      WF.groupByThenSalted(T(s, dir), "conv_id",
          length(col("text")).cast("double"), "conv", salts = 8)
        .select(col("conv_id"), col("turn_idx").cast("long").as("turn_idx"),
          col6(col("conv_mean")).as("conv_mean_len"),
          col6(col("conv_std")).as("conv_std_len"),
          col("conv_min").cast("long").as("conv_min_len"),
          col("conv_max").cast("long").as("conv_max_len"),
          col("conv_cnt").as("conv_cnt"),
          col6(col("conv_sum")).as("conv_sum_len"))
    }),

    // Cost-based GroupByThen routing (the AsOfJoin.auto of group
    // aggregates): the SAME input runs through BOTH routes groupByThenAuto
    // picks between — the key-partition window and the salted two-phase
    // route — and the union must match one oracle computing the moment
    // formulas once (routing must never change values; GroupByAutoSpec
    // additionally asserts the plan shape of each regime and the live
    // probe's picks).
    "q_groupby_auto" -> ((s, dir) => {
      val base = T(s, dir)
      val len = length(col("text")).cast("double")
      def shaped(routed: DataFrame, tag: String): DataFrame =
        routed.select(lit(tag).as("route"),
          col("conv_id"), col("turn_idx").cast("long").as("turn_idx"),
          col6(col("conv_mean")).as("conv_mean_len"),
          col6(col("conv_std")).as("conv_std_len"),
          col("conv_min").cast("long").as("conv_min_len"),
          col("conv_max").cast("long").as("conv_max_len"),
          col("conv_cnt").as("conv_cnt"),
          col6(col("conv_sum")).as("conv_sum_len"))
      val windowed = WF.groupByThenWindowed(base, "conv_id", len, "conv")
      val salted = WF.groupByThenSalted(base, "conv_id", len, "conv", salts = 8)
      shaped(windowed, "window").unionByName(shaped(salted, "salted"))
    }),

    // Bucketed-table layout under the driver gate: both sides of a
    // conv_id equi-join are written bucketBy(8, conv_id).sortBy(conv_id)
    // and joined with a sort-merge hint — the zero-exchange plan
    // (BucketingSpec asserts no Exchange appears; this row proves the
    // bucketed write+read+join produces values identical to DuckDB
    // computing the same join from the raw parquet). Aggregates are
    // max/count (order-insensitive AND FP-exact), never a float sum.
    "q_bucketed" -> ((s, dir) => {
      import graft.sources.Bucketing
      val turnsT = "graft_bt_turns"
      val purchT = "graft_bt_purch"
      Bucketing.replaceBucketed(
        T(s, dir).select(col("conv_id"), col("turn_idx"), col("text")),
        turnsT, "conv_id", 8)
      Bucketing.replaceBucketed(
        Tables.events(s, dir).filter(col("event_type") === "purchase")
          .select(concat(lit("c"), col("user_id").cast("string")).as("conv_id"),
            col("value"))
          .groupBy(col("conv_id"))
          .agg(max(col("value")).as("purch_max"), count(lit(1)).as("purch_cnt")),
        purchT, "conv_id", 8)
      Bucketing.read(s, turnsT)
        .join(Bucketing.read(s, purchT).hint("merge"), Seq("conv_id"), "left")
        .select(col("conv_id"), col("turn_idx").cast("long").as("turn_idx"),
          length(col("text")).cast("long").as("text_len"),
          col6(col("purch_max")).as("purch_max"),
          col("purch_cnt").cast("long").as("purch_cnt"))
    }),

    "q_asof_join" -> ((s, dir) => asofResult(s, dir, Variant.Shuffle)),
    "q_asof_skew" -> ((s, dir) => asofResult(s, dir, Variant.Skew)),
    // auto-planned route (the left key histogram picks skew buckets or
    // the plain union+window); values must equal the same as-of SQL
    // regardless of route
    "q_asof_auto" -> ((s, dir) => asofResult(s, dir, Variant.Auto)),

    // time-range aggregate join: purchases in the trailing hour per turn
    // (count/max only — exact under any accumulation order, so the oracle
    // comparison is bit-stable; a float SUM would be order-sensitive)
    "q_range_join" -> ((s, dir) => rangeResult(s, dir, skew = false)),
    // skew-resistant shape (time buckets + Δ-fringe replication): same
    // semantics, same oracle — the hot key fans out over bucket tasks
    "q_range_skew" -> ((s, dir) => rangeResult(s, dir, skew = true)),
    // identical semantics, third physical shape: right side collapses to
    // per-entity sorted arrays and broadcasts; the 100 TB left side never
    // shuffles; visibility via the codegen'd AsOfLessOrEqual expression
    "q_asof_broadcast" -> ((s, dir) => asofResult(s, dir, Variant.Broadcast)),

    // Structured Streaming under the DuckDB gate: the SAME per-turn running
    // features (gap, running count/mean, last-tool backfill, gap sessions)
    // computed INCREMENTALLY by flatMapGroupsWithState over a 2-micro-batch
    // MemoryStream (state carries across the batch boundary), checked
    // against the batch window-function oracle — streaming == batch,
    // row-for-row, in SQL.
    "q_streaming" -> ((s, dir) =>
      twoBatchStream(s, dir, "append")(ds =>
        graft.streaming.StreamingFeatures.runningFeatures(ds).toDF())
        .select(
          col("conv_id"), col("turn_idx").cast("long").as("turn_idx"),
          col6(col("gap_secs")).as("gap_secs"),
          col("turns_so_far"),
          col6(col("run_mean_len")).as("run_mean_len"),
          col("last_tool"),
          col("session_id").cast("long").as("session_id"))),

    "q_stream_session" -> ((s, dir) => streamSessionResult(s, dir)),

    // the production-mode variant: watermarked append output, sessions
    // emitted once at close and state evicted — same gap-island oracle
    "q_stream_session_append" -> ((s, dir) => streamSessionAppendResult(s, dir)),

    // Watermarked tumbling windows over the same 2-batch stream (complete
    // mode): counts/char-sums per (conv, 10-minute window) == the batch
    // epoch-floor groupBy in SQL
    "q_stream_tumbling" -> ((s, dir) =>
      twoBatchStream(s, dir, "complete")(ds =>
        graft.streaming.StreamingFeatures.tumblingAggregates(ds.toDF()))
        .select(
          col("conv_id"),
          unix_micros(col("window_start")).as("window_start_us"),
          col("turns").cast("long").as("turns"),
          col("chars").cast("long").as("chars"))),

    // Streaming exact dedup (dropDuplicatesWithinWatermark on the 8-byte
    // text fingerprint): batch 2 re-feeds every batch-1 row, so the
    // cross-batch duplicates can ONLY be eliminated by dedup state carried
    // across the micro-batch boundary (within-batch distinct would pass
    // them through). Horizon exceeds the fixture's event-time span, so no
    // key is evicted mid-stream and the survivor set must equal the batch
    // DISTINCT — the oracle. Only `text` is emitted: every row sharing a
    // fingerprint carries the same text, so the output is deterministic
    // even though WHICH duplicate row survives is not.
    "q_stream_dedup" -> ((s, dir) => {
      val (first, second) = sortedHalves(s, dir)
      multiBatchStream(s, Seq(first.toSeq, second.toSeq ++ first.toSeq), "append")(ds =>
        graft.streaming.StreamingFeatures.dedupWithinWatermark(
          ds.toDF(), horizon = "3650 days"))
        .select(col("text"))
    }),

    // Dictionary encode -> window over the ENCODED ints -> decode: output
    // must equal computing the same backfill over the raw strings (the
    // oracle recomputes from raw text in DuckDB). This is the flagship
    // exchange's payload trick under the value gate: nulls round-trip so
    // last(ignoreNulls) backfills behave identically on encoded columns.
    "q_dict_roundtrip" -> ((s, dir) => {
      import graft.transforms.DictEncode
      val t = T(s, dir)
      val dicts = DictEncode.fit(t, Seq("role"))
      val toolDict = DictEncode.fit(t.filter(col("tool").isNotNull), Seq("tool"))("tool")
      val enc = t.select(col("conv_id"), col("turn_idx"), col("ts"),
        dicts("role").encode.as("role_id"), toolDict.encodeOf(col("tool")).as("tool_id"))
      val w = WF.atOrBefore()
      enc.select(
        col("conv_id"), col("turn_idx").cast("long").as("turn_idx"),
        dicts("role").decode(col("role_id")).as("role"),
        toolDict.decode(last(col("tool_id"), ignoreNulls = true).over(w)).as("last_tool"))
    })
  )

  /** Full microsecond precision — Timestamp.getTime truncates to millis. */
  private def tsMicros(t: java.sql.Timestamp): Long =
    (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L

  /** Streaming-gate harness: drive `transform` over a MemoryStream fed one
    * `batches` element per micro-batch (state/aggregations must carry
    * across every batch boundary) into a memory sink; returns the sink's
    * rows. The memory table stays readable after stop().
    */
  private def multiBatchStream(
      s: SparkSession,
      batches: Seq[Seq[graft.transcripts.Turn]],
      mode: String)(
      transform: org.apache.spark.sql.Dataset[graft.transcripts.Turn] => DataFrame): DataFrame = {
    // Scale-adaptive state partitioning (guide §2: derive partitioning from
    // input size, never a constant): a stateful streaming operator creates
    // one state-store instance per shuffle partition and pays its commit
    // overhead EVERY micro-batch, so a gate-sized stream on the session
    // default (=cores) spends most of each batch committing empty stores.
    // Target ~20k rows per state partition, capped at the session default
    // so a large input keeps the configured parallelism. The per-row values
    // are partition-count-invariant (exact long aggregates, per-key state
    // transitions, row identity), spec-held by the batch-parity oracles.
    val defaultParts = s.sessionState.conf.numShufflePartitions
    val rows = batches.map(_.size.toLong).sum
    val parts = math.min(defaultParts.toLong, rows / 20000L + 1L).toInt
    // a cloned session scopes the partition override to this stream; the
    // parent session's conf (FROZEN by the bench harness) is untouched
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", parts.toString)
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[graft.transcripts.Turn]
    val qn = "graft_stream_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = transform(stream.toDS())
      .writeStream.format("memory").queryName(qn).outputMode(mode).start()
    batches.foreach { b =>
      stream.addData(b.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    ss.table(qn)
  }

  /** Event-time-sorted transcript turns, split in half — the standard
    * 2-micro-batch feed (the split respects event time, so the second
    * batch never carries late data for the first).
    */
  private def sortedHalves(s: SparkSession, dir: String) = {
    import s.implicits._
    val turns = T(s, dir).as[graft.transcripts.Turn].collect()
      .sortBy(t => (tsMicros(t.ts), t.turn_idx))
    turns.splitAt(turns.length / 2)
  }

  private def twoBatchStream(s: SparkSession, dir: String, mode: String)(
      transform: org.apache.spark.sql.Dataset[graft.transcripts.Turn] => DataFrame): DataFrame = {
    val (first, second) = sortedHalves(s, dir)
    multiBatchStream(s, Seq(first.toSeq, second.toSeq), mode)(transform)
  }

  /** Built-in `session_window` under the DuckDB gate: per-(conv, session)
    * aggregates computed by the streaming session-window operator over a
    * 2-micro-batch MemoryStream (complete mode — sessions merge across the
    * batch boundary), checked against the batch gap-island SQL. The
    * session_window merge rule is STRICT overlap (a new session starts when
    * the gap is >= the window gap), which the oracle mirrors.
    */
  private def streamSessionResult(s: SparkSession, dir: String): DataFrame =
    twoBatchStream(s, dir, "complete")(ds =>
      graft.streaming.StreamingFeatures.sessionAggregates(ds.toDF(), gap = "30 minutes"))
      .transform(sessionSelect)

  private def sessionSelect(df: DataFrame): DataFrame =
    df.select(
      col("conv_id"),
      unix_micros(col("window_start")).as("window_start_us"),
      col("session_turns").cast("long").as("session_turns"),
      col("session_chars").cast("long").as("session_chars"),
      unix_micros(col("session_end")).as("session_end_us"))

  /** Watermarked APPEND-mode session gate — the shape that runs at scale.
    * Complete mode (q_stream_session) re-emits every session each batch and
    * buffers ALL session state forever — unusable on an unbounded stream;
    * append emits each session exactly once when the watermark passes its
    * close, then EVICTS its state (eviction itself is asserted in
    * StreamingSpec via stateOperators.numRowsTotal).
    *
    * Feed: the two event-time-ordered real batches (sessions must merge
    * across the boundary), then two far-future single-turn WATERMARK
    * SENTINELS. A batch evicts/emits against the watermark derived from the
    * PREVIOUS batches' max event time, so the first sentinel advances the
    * watermark past every real session close and the second guarantees a
    * batch runs under that advanced watermark. Every real session is
    * therefore finalized, and append-mode output must equal the SAME full
    * batch gap-island SQL as q_stream_session — value parity for closed
    * sessions, which here is all of them. Sentinel conversations are
    * filtered from the output (the second sentinel's open session never
    * emits; the first's may — both are synthetic).
    */
  private def streamSessionAppendResult(s: SparkSession, dir: String): DataFrame = {
    val (first, second) = sortedHalves(s, dir)
    val maxMs = second.last.ts.getTime
    def sentinel(tag: String, plusDays: Int) = graft.transcripts.Turn(
      s"zzz_wm_$tag", 0, "user", "", None,
      new java.sql.Timestamp(maxMs + plusDays * 86400000L))
    multiBatchStream(s,
      Seq(first.toSeq, second.toSeq, Seq(sentinel("a", 10)), Seq(sentinel("b", 20))),
      "append")(ds =>
        graft.streaming.StreamingFeatures.sessionAggregates(ds.toDF(), gap = "30 minutes"))
      .filter(!col("conv_id").startsWith("zzz_wm_"))
      .transform(sessionSelect)
  }

  private def rangeResult(s: SparkSession, dir: String, skew: Boolean): DataFrame = {
    val left = T(s, dir)
    val right = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(concat(lit("c"), col("user_id").cast("string")).as("conv_id"),
        col("ts").cast("timestamp").as("ts"), col("value"))
    val aggs = Seq("purch_cnt_1h" -> ((c: org.apache.spark.sql.Column) => count(c)),
      "purch_max_1h" -> ((c: org.apache.spark.sql.Column) => max(c)))
    val joined =
      if (skew) AsOfJoin.rangeAggSkew(left, right, "conv_id", "value", 3600L, aggs, numBuckets = 16)
      else AsOfJoin.rangeAgg(left, right, "conv_id", "value", 3600L, aggs)
    joined.select(col("conv_id"), col("turn_idx").cast("long").as("turn_idx"),
      col("purch_cnt_1h").cast("long").as("purch_cnt_1h"),
      col6(col("purch_max_1h")).as("purch_max_1h"))
  }

  private object Variant extends Enumeration { val Shuffle, Skew, Broadcast, Auto = Value }

  private def asofResult(s: SparkSession, dir: String, v: Variant.Value): DataFrame = {
    val left = T(s, dir)
    val right = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(
        concat(lit("c"), col("user_id").cast("string")).as("conv_id"),
        col("ts").cast("timestamp").as("ts"), col("event_id"), col("value").as("pval"))
    val joined = v match {
      case Variant.Skew => AsOfJoin.asOfSkew(left, right, "conv_id", Seq("pval"), col("event_id"), 16)
      case Variant.Broadcast => AsOfJoin.asOfBroadcast(left, right, "conv_id", Seq("pval"), col("event_id"))
      case Variant.Auto => AsOfJoin.auto(left, right, "conv_id", Seq("pval"), col("event_id"))
      case _ => AsOfJoin.asOf(left, right, "conv_id", Seq("pval"), col("event_id"))
    }
    joined.select(
      col("conv_id"), col("turn_idx").cast("long").as("turn_idx"),
      col6(col("pval")).as("last_purchase"))
  }

  private val asofSql: String =
    s"""$cte,
       |purch AS (
       |  SELECT 'c' || CAST(user_id AS VARCHAR) AS conv_id, ts, event_id AS seq, value AS pval
       |  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL),
       |u AS (
       |  SELECT conv_id, ts, 0 AS side, seq, pval, CAST(NULL AS INT) AS turn_idx FROM purch
       |  UNION ALL
       |  SELECT conv_id, ts, 1 AS side, 0 AS seq, CAST(NULL AS DOUBLE) AS pval, turn_idx FROM transcripts),
       |f AS (
       |  SELECT conv_id, turn_idx, side,
       |         LAST_VALUE(pval IGNORE NULLS) OVER (
       |           PARTITION BY conv_id ORDER BY ts, side, seq
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lp
       |  FROM u)
       |SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx, FLOOR(CAST((lp) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS last_purchase
       |FROM f WHERE side = 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_transcripts" ->
      s"""$cte
         |SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx, role, text, tool,
         |       epoch_us(ts) AS ts_us
         |FROM transcripts""".stripMargin,

    "q_stream_dedup" ->
      s"""$cte
         |SELECT DISTINCT text FROM transcripts""".stripMargin,

    "q_lag_lead" ->
      s"""$cte
         |SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
         |       FLOOR(CAST(((epoch_us(ts) - LAG(epoch_us(ts)) OVER ($wSql)) / 1e6) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS gap_secs,
         |       LAG(role, 1) OVER ($wSql) AS prev_role,
         |       LEAD(role, 1) OVER ($wSql) AS next_role,
         |       CAST(LAG(LENGTH(text), 2) OVER ($wSql) AS BIGINT) AS prev2_len
         |FROM transcripts""".stripMargin,

    "q_rolling" ->
      s"""$cte
         |SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
         |       FLOOR(CAST((AVG(CAST(LENGTH(text) AS DOUBLE)) OVER (
         |         $wSql ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS roll5_mean_len,
         |       CAST(SUM(CAST(LENGTH(text) AS BIGINT)) OVER (
         |         $wSql ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll3_sum_len,
         |       CAST(COUNT(*) OVER (
         |         PARTITION BY conv_id ORDER BY epoch_us(ts)
         |         RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS cnt_30m
         |FROM transcripts""".stripMargin,

    "q_session" ->
      s"""$cte,
         |g AS (
         |  SELECT conv_id, turn_idx, ts,
         |         CASE WHEN LAG(ts) OVER ($wSql) IS NULL THEN 0
         |              WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER ($wSql) > 1800000000 THEN 1
         |              ELSE 0 END AS is_start
         |  FROM transcripts),
         |sess AS (
         |  SELECT conv_id, turn_idx,
         |         SUM(is_start) OVER ($wSql ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         |  FROM g)
         |SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
         |       CAST(session_id AS BIGINT) AS session_id,
         |       CAST(COUNT(*) OVER (PARTITION BY conv_id, session_id) AS BIGINT) AS session_turns
         |FROM sess""".stripMargin,

    "q_backfill" ->
      s"""$cte
         |SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
         |       LAST_VALUE(tool IGNORE NULLS) OVER (
         |         $wSql ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_tool,
         |       CAST(SUM(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) OVER (
         |         $wSql ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tool_turns_so_far
         |FROM transcripts""".stripMargin,

    "q_groupby_then" ->
      s"""$cte
         |SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
         |       FLOOR(CAST((AVG(CAST(LENGTH(text) AS DOUBLE)) OVER (PARTITION BY conv_id)) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS conv_mean_len,
         |       MAX(CAST(LENGTH(text) AS BIGINT)) OVER (PARTITION BY conv_id) AS conv_max_len,
         |       MIN(CAST(LENGTH(text) AS BIGINT)) OVER (PARTITION BY conv_id) AS conv_min_len,
         |       FLOOR(CAST((STDDEV_SAMP(CAST(LENGTH(text) AS DOUBLE)) OVER (PARTITION BY conv_id)) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS conv_std_len,
         |       COUNT(*) OVER (PARTITION BY conv_id) AS conv_cnt,
         |       FLOOR(CAST((AVG(CAST(LENGTH(text) AS DOUBLE)) OVER (
         |         $wSql ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS run_mean_len
         |FROM transcripts""".stripMargin,

    "q_bucketed" ->
      s"""$cte,
         |p AS (
         |  SELECT 'c' || CAST(user_id AS VARCHAR) AS conv_id,
         |         MAX(value) AS purch_max, COUNT(*) AS purch_cnt
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
         |SELECT t.conv_id, CAST(t.turn_idx AS BIGINT) AS turn_idx,
         |       CAST(LENGTH(t.text) AS BIGINT) AS text_len,
         |       FLOOR(CAST(p.purch_max AS DOUBLE) * 1000000 + 0.5) / 1000000 AS purch_max,
         |       CAST(p.purch_cnt AS BIGINT) AS purch_cnt
         |FROM transcripts t LEFT JOIN p USING (conv_id)""".stripMargin,

    "q_groupby_salted" ->
      s"""$cte,
         |agg AS (
         |  SELECT conv_id, COUNT(*) AS n,
         |         SUM(CAST(LENGTH(text) AS DOUBLE)) AS s1,
         |         SUM(CAST(LENGTH(text) AS DOUBLE) * CAST(LENGTH(text) AS DOUBLE)) AS s2,
         |         MIN(LENGTH(text)) AS mn, MAX(LENGTH(text)) AS mx
         |  FROM transcripts GROUP BY conv_id)
         |SELECT t.conv_id, CAST(t.turn_idx AS BIGINT) AS turn_idx,
         |       FLOOR(CAST((s1 / n) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS conv_mean_len,
         |       CASE WHEN n > 1 THEN FLOOR(CAST(SQRT((s2 - s1 * s1 / n) / (n - 1)) AS DOUBLE) * 1000000 + 0.5) / 1000000 END AS conv_std_len,
         |       CAST(mn AS BIGINT) AS conv_min_len, CAST(mx AS BIGINT) AS conv_max_len,
         |       CAST(n AS BIGINT) AS conv_cnt,
         |       FLOOR(CAST(s1 AS DOUBLE) * 1000000 + 0.5) / 1000000 AS conv_sum_len
         |FROM transcripts t JOIN agg USING (conv_id)""".stripMargin,

    "q_groupby_auto" ->
      s"""$cte,
         |agg AS (
         |  SELECT conv_id, COUNT(*) AS n,
         |         SUM(CAST(LENGTH(text) AS DOUBLE)) AS s1,
         |         SUM(CAST(LENGTH(text) AS DOUBLE) * CAST(LENGTH(text) AS DOUBLE)) AS s2,
         |         MIN(LENGTH(text)) AS mn, MAX(LENGTH(text)) AS mx
         |  FROM transcripts GROUP BY conv_id),
         |one AS (
         |  SELECT t.conv_id, CAST(t.turn_idx AS BIGINT) AS turn_idx,
         |         FLOOR(CAST((s1 / n) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS conv_mean_len,
         |         CASE WHEN n > 1 THEN FLOOR(CAST(SQRT((s2 - s1 * s1 / n) / (n - 1)) AS DOUBLE) * 1000000 + 0.5) / 1000000 END AS conv_std_len,
         |         CAST(mn AS BIGINT) AS conv_min_len, CAST(mx AS BIGINT) AS conv_max_len,
         |         CAST(n AS BIGINT) AS conv_cnt,
         |         FLOOR(CAST(s1 AS DOUBLE) * 1000000 + 0.5) / 1000000 AS conv_sum_len
         |  FROM transcripts t JOIN agg USING (conv_id))
         |SELECT 'window' AS route, * FROM one
         |UNION ALL
         |SELECT 'salted' AS route, * FROM one""".stripMargin,

    "q_asof_join" -> asofSql,
    "q_asof_skew" -> asofSql,
    "q_asof_broadcast" -> asofSql,
    "q_asof_auto" -> asofSql,

    "q_range_skew" -> rangeSql,
    "q_range_join" -> rangeSql
  ) ++ moreOracles

  /** Shared by q_range_join / q_range_skew: both physical shapes must
    * reproduce the same trailing-range SQL.
    */
  private lazy val rangeSql: String =
      s"""$cte,
         |purch AS (
         |  SELECT 'c' || CAST(user_id AS VARCHAR) AS conv_id, ts, value
         |  FROM events WHERE event_type = 'purchase'),
         |u AS (
         |  SELECT conv_id, ts, 1 AS side, turn_idx, CAST(NULL AS DOUBLE) AS v FROM transcripts
         |  UNION ALL
         |  SELECT conv_id, ts, 0 AS side, NULL AS turn_idx, value AS v FROM purch),
         |f AS (
         |  SELECT conv_id, turn_idx, side,
         |         COUNT(v) OVER w AS c, MAX(v) OVER w AS mx
         |  FROM u
         |  WINDOW w AS (PARTITION BY conv_id ORDER BY epoch_us(ts)
         |               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))
         |SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
         |       CAST(c AS BIGINT) AS purch_cnt_1h,
         |       FLOOR(CAST(mx AS DOUBLE) * 1000000 + 0.5) / 1000000 AS purch_max_1h
         |FROM f WHERE side = 1""".stripMargin

  /** The batch gap-island sessionization both session gates compare to
    * (session_window merge rule is STRICT: a new session starts at
    * gap >= the window gap).
    */
  private lazy val sessionSql: String =
      s"""$cte,
         |g AS (
         |  SELECT conv_id, ts, turn_idx, LENGTH(text) AS len,
         |         CASE WHEN LAG(ts) OVER ($wSql) IS NULL THEN 1
         |              WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER ($wSql) >= 1800000000 THEN 1
         |              ELSE 0 END AS is_start
         |  FROM transcripts),
         |sess AS (
         |  SELECT conv_id, ts, len,
         |         SUM(is_start) OVER ($wSql ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM g)
         |SELECT conv_id,
         |       MIN(epoch_us(ts)) AS window_start_us,
         |       CAST(COUNT(*) AS BIGINT) AS session_turns,
         |       CAST(SUM(len) AS BIGINT) AS session_chars,
         |       MAX(epoch_us(ts)) AS session_end_us
         |FROM sess GROUP BY conv_id, sid""".stripMargin

  private lazy val moreOracles: Map[String, String] = Map(
    "q_dict_roundtrip" ->
      s"""$cte
         |SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx, role,
         |       LAST_VALUE(tool IGNORE NULLS) OVER (
         |         $wSql ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_tool
         |FROM transcripts""".stripMargin,

    "q_stream_tumbling" ->
      s"""$cte
         |SELECT conv_id,
         |       CAST(FLOOR(epoch_us(ts) / 600000000) * 600000000 AS BIGINT) AS window_start_us,
         |       CAST(COUNT(*) AS BIGINT) AS turns,
         |       CAST(SUM(LENGTH(text)) AS BIGINT) AS chars
         |FROM transcripts GROUP BY 1, 2""".stripMargin,

    "q_stream_session" -> sessionSql,
    // append mode finalizes EVERY real session (the sentinel batches push
    // the watermark past all real closes), so the oracle is identical
    "q_stream_session_append" -> sessionSql,

    "q_streaming" ->
      s"""$cte,
         |g AS (
         |  SELECT conv_id, turn_idx, tool, ts, LENGTH(text) AS len,
         |         (epoch_us(ts) - LAG(epoch_us(ts)) OVER ($wSql)) / 1e6 AS gap
         |  FROM transcripts)
         |SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
         |       FLOOR(CAST(gap AS DOUBLE) * 1000000 + 0.5) / 1000000 AS gap_secs,
         |       CAST(turn_idx + 1 AS BIGINT) AS turns_so_far,
         |       FLOOR(CAST((AVG(CAST(len AS DOUBLE)) OVER (
         |         $wSql ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS run_mean_len,
         |       LAST_VALUE(tool IGNORE NULLS) OVER (
         |         $wSql ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_tool,
         |       CAST(SUM(CASE WHEN gap > 1800 THEN 1 ELSE 0 END) OVER (
         |         $wSql ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         |FROM g""".stripMargin
  )
}
