package graft.windows

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Point-in-time / windowed feature kernel over transcripts.
  *
  * Every operator here is leakage-free by construction: frames end at the
  * current row (`rowsBetween(unboundedPreceding, currentRow)` or explicit
  * `rangeBetween(-gap, 0)`), so a feature at (conv_id, ts) only ever reads
  * turns at-or-before ts. Ordering is always the stable `(ts, turn_idx)`
  * pair — `ts` alone is not unique within a conversation.
  *
  * Scale notes (100 TB): all features over one entity key share ONE
  * `Window.partitionBy(conv_id)` exchange — Spark reuses the hash
  * partitioning across every window function with the same partition spec,
  * so an arbitrarily wide feature select costs exactly one shuffle.
  * Skewed conv_id is handled in [[AsOfJoin]] (salted buckets); for
  * order-sensitive windows see the boundary-stitched range split there.
  *
  * Reference semantics: the group-aggregate join-back of
  * `FastGroupByThenTransformation.py:23-40` (fit = hash agg by key,
  * transform = map key -> aggregate) is [[groupByThen]]; the at-or-before
  * variants generalize it per the north rule.
  */
object WindowFeatures {

  /** Stable per-conversation ordering. */
  def convWindow(entity: String = "conv_id"): WindowSpec =
    Window.partitionBy(col(entity)).orderBy(col("ts"), col("turn_idx"))

  /** Frame of all turns at-or-before the current one. */
  def atOrBefore(entity: String = "conv_id"): WindowSpec =
    convWindow(entity).rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** lag/lead of arbitrary columns; k may be negative (lead). */
  def lagCol(c: Column, k: Int, entity: String = "conv_id"): Column =
    if (k >= 0) lag(c, k).over(convWindow(entity)) else lead(c, -k).over(convWindow(entity))

  /** Seconds between this turn and the previous one in the conversation. */
  def gapSecs(entity: String = "conv_id"): Column = {
    val w = convWindow(entity)
    (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))).cast("double") / 1e6
  }

  /** Rolling aggregate over the last `n` turns (inclusive of current). */
  def rollingRows(agg: Column => Column, c: Column, n: Int, entity: String = "conv_id"): Column =
    agg(c).over(convWindow(entity).rowsBetween(-(n - 1).toLong, Window.currentRow))

  /** Rolling aggregate over the trailing `seconds` of event time (inclusive).
    * Ordered by physical microseconds so the frame is a pure range predicate.
    */
  def rollingTime(agg: Column => Column, c: Column, seconds: Long, entity: String = "conv_id"): Column = {
    val w = Window.partitionBy(col(entity)).orderBy(unix_micros(col("ts")))
      .rangeBetween(-seconds * 1000000L, 0L)
    agg(c).over(w)
  }

  /** Backfill: latest non-null value of `c` at-or-before each turn. */
  def backfill(c: Column, entity: String = "conv_id"): Column =
    last(c, ignoreNulls = true).over(atOrBefore(entity))

  /** Gap-based sessionization: a new session starts when the inter-turn gap
    * exceeds `gapSeconds` (first turn of a conversation is session 0).
    * Returns the session index column (int, 0-based).
    */
  def sessionId(gapSeconds: Long, entity: String = "conv_id"): Column = {
    val w = convWindow(entity)
    val prevTs = lag(col("ts"), 1).over(w)
    val isStart = when(prevTs.isNull, 0)
      .when(unix_micros(col("ts")) - unix_micros(prevTs) > gapSeconds * 1000000L, 1)
      .otherwise(0)
    sum(isStart).over(convWindow(entity).rowsBetween(Window.unboundedPreceding, Window.currentRow))
      .cast("int")
  }

  /** GroupByThen (reference `FastGroupByThenTransformation`): whole-group
    * aggregate of `value` by `key`, joined back so output has one value per
    * input row. Implemented as an unordered window over the key partition —
    * one shuffle, no join. NOTE: this reads the whole group (reference
    * semantics, fit-on-everything); for the leakage-free variant use
    * [[groupByThenAtOrBefore]].
    */
  def groupByThen(agg: Column => Column, value: Column, key: Column): Column =
    agg(value).over(Window.partitionBy(key))

  /** Leakage-free GroupByThen: aggregate over group members at-or-before the
    * current turn only.
    */
  def groupByThenAtOrBefore(agg: Column => Column, value: Column, entity: String = "conv_id"): Column =
    agg(value).over(atOrBefore(entity))

  /** Merged per-key algebraic aggregate state via an EXPLICIT two-phase
    * salted aggregate: rows pre-aggregate on `(key, salt)` — a hot key's
    * rows fan out over `salts` reducers instead of serializing into one —
    * then the tiny partial table merges per key. The salt is a hash of the
    * full row (deterministic, partitioning-independent). Output:
    * `(key, __n, __s1, __s2, __min, __max)` — count / sum / sum-of-squares
    * / min / max of `value`, from which every order-insensitive GroupByThen
    * aggregate (mean, std, var, min, max, count, sum) derives exactly.
    */
  def saltedGroupAggs(df: DataFrame, keyCol: String, value: Column,
      salts: Int = 32): DataFrame = {
    val rowHash = xxhash64(struct(df.columns.map(col): _*))
    df.select(col(keyCol), value.cast("double").as("__v"),
        pmod(rowHash, lit(salts.toLong)).as("__salt"))
      .groupBy(col(keyCol), col("__salt"))
      .agg(count(col("__v")).as("__n"), sum(col("__v")).as("__s1"),
        sum(col("__v") * col("__v")).as("__s2"),
        min(col("__v")).as("__min"), max(col("__v")).as("__max"))
      .groupBy(col(keyCol))
      .agg(sum("__n").as("__n"), sum("__s1").as("__s1"), sum("__s2").as("__s2"),
        min("__min").as("__min"), max("__max").as("__max"))
  }

  /** Skew-safe GroupByThen for the order-insensitive aggregates: the
    * [[groupByThen]] window shuffles EVERY fact row to its key's partition
    * and a hot key serializes into one task; here the fact rows never
    * shuffle at all — [[saltedGroupAggs]] reduces them to per-key state
    * (two-phase salted, SURVEY §7.4(1)) and the merged aggregates
    * broadcast-join back onto the un-shuffled input. Appends
    * `{prefix}_mean/std/min/max/cnt/sum`.
    *
    * std is the portable sample formula `sqrt((s2 - s1^2/n)/(n-1))` (exact
    * parity with an oracle computing the same from SUM/SUM(x*x)/COUNT;
    * integer-valued inputs make s1/s2 exact in doubles), null for n <= 1.
    *
    * @param broadcastJoin true when the key cardinality fits a broadcast
    *                      (the common case — the fact side never shuffles);
    *                      false falls back to a shuffle join, which AQE's
    *                      skew-join splits across tasks — unlike a window,
    *                      which can never split one key's partition
    */
  def groupByThenSalted(df: DataFrame, keyCol: String, value: Column,
      prefix: String, salts: Int = 32, broadcastJoin: Boolean = true): DataFrame = {
    val aggT0 = saltedGroupAggs(df, keyCol, value, salts)
    val aggT = if (broadcastJoin) broadcast(aggT0) else aggT0
    val n = col("__n").cast("double")
    df.join(aggT, Seq(keyCol), "left")
      .withColumn(s"${prefix}_mean", col("__s1") / n)
      .withColumn(s"${prefix}_std",
        when(col("__n") > 1,
          sqrt((col("__s2") - col("__s1") * col("__s1") / n) / (n - 1))))
      .withColumn(s"${prefix}_min", col("__min"))
      .withColumn(s"${prefix}_max", col("__max"))
      .withColumn(s"${prefix}_cnt", col("__n"))
      .withColumn(s"${prefix}_sum", col("__s1"))
      .drop("__n", "__s1", "__s2", "__min", "__max")
  }

  /** The [[groupByThenSalted]] column set via the plain key-partition window
    * — the right plan when no key dominates (one exchange, zero joins).
    * Derives mean/std from the SAME moment formulas as the salted route
    * (n, s1, s2 then `sqrt((s2 - s1^2/n)/(n-1))`), so on integer-valued
    * inputs the two routes are bit-identical and [[groupByThenAuto]] can
    * switch between them without changing results.
    */
  def groupByThenWindowed(df: DataFrame, keyCol: String, value: Column,
      prefix: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
    val v = value.cast("double")
    val n = count(v).over(w).cast("double")
    val s1 = sum(v).over(w)
    val s2 = sum(v * v).over(w)
    df.withColumn(s"${prefix}_mean", s1 / n)
      .withColumn(s"${prefix}_std",
        when(n > 1, sqrt((s2 - s1 * s1 / n) / (n - 1))))
      .withColumn(s"${prefix}_min", min(v).over(w))
      .withColumn(s"${prefix}_max", max(v).over(w))
      .withColumn(s"${prefix}_cnt", count(v).over(w))
      .withColumn(s"${prefix}_sum", s1)
  }

  /** Cost-based GroupByThen (the [[graft.windows.AsOfJoin.auto]] of group
    * aggregates): probe the key histogram once (one cheap two-level agg, or
    * accept caller-known stats via `statsHint`) and route —
    *
    *  - a key holding more than a fair per-task share (`maxKey > total /
    *    defaultParallelism`) would serialize the window's single-partition
    *    sort task, so take [[groupByThenSalted]] (measured 2.12x at 60% hot
    *    key, BENCH_SKEW_GROUPBY, `graft.SideBench skew ... groupby`);
    *  - otherwise the plain [[groupByThenWindowed]] key-partition window
    *    (measured 0.83x for salted at 20% hot — the window wins when no key
    *    dominates, and it is one exchange with zero joins).
    *
    * Both routes compute identical moment formulas, so routing never changes
    * values (bit parity on integer-valued inputs; GroupByAutoSpec asserts it).
    */
  def groupByThenAuto(df: DataFrame, keyCol: String, value: Column,
      prefix: String, salts: Int = 32, broadcastJoin: Boolean = true,
      statsHint: Option[(Long, Long)] = None): DataFrame = {
    val (total, maxKey) = statsHint.getOrElse {
      val r = df.groupBy(col(keyCol)).agg(count(lit(1)).as("__n"))
        .agg(sum(col("__n")), max(col("__n"))).head()
      // empty input: aggregates are NULL; either route returns empty rows
      if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
    }
    val par = math.max(df.sparkSession.sparkContext.defaultParallelism, 1).toLong
    if (maxKey > total / par)
      groupByThenSalted(df, keyCol, value, prefix, salts, broadcastJoin)
    else
      groupByThenWindowed(df, keyCol, value, prefix)
  }

  /** All standard per-turn features of the minimum slice (SURVEY §7.2) in one
    * select — single shuffle on `conv_id`.
    */
  def standardFeatures(transcripts: DataFrame, sessionGapSeconds: Long = 1800L): DataFrame = {
    val textLen = length(col("text")).cast("double")
    transcripts
      .withColumn("text_len", textLen)
      .withColumn("gap_secs", gapSecs())
      .withColumn("prev_role", lagCol(col("role"), 1))
      .withColumn("roll5_mean_len", rollingRows(avg, textLen, 5))
      .withColumn("session_id", sessionId(sessionGapSeconds))
      .withColumn("run_mean_len", groupByThenAtOrBefore(avg, textLen))
      .withColumn("last_tool", backfill(col("tool")))
  }
}
