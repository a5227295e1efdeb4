package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Seeded input generator. It belongs to the benchmark, not to the engine,
  * so a change to the engine's own generators cannot change a workload.
  * Every value is a pure function of a row id and the seed (xxhash64
  * mixing), so the same seed gives the same tables under any partitioning.
  */
object Gen {

  val Tools = Seq("search", "code", "browse", "calc")
  private val T0Micros = 1704067200000000L // 2024-01-01T00:00:00Z
  private val DayMicros = 86400000000L

  private def h(seed: Long, salt: Long, cs: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cs): _*)

  /** Uniform in (0, 1) from a hash. */
  private def unit(x: Column): Column =
    (pmod(x, lit(1L << 30)).cast("double") + 0.5) / (1L << 30).toDouble

  /** Power-law conversation rank in [0, nConvs): rank = floor(n * u^2), so
    * conversation sizes fall off as 1/sqrt(rank) and rank 0 (conversation
    * `c0`) is the hot key with a share of about 1/sqrt(n) of all rows.
    */
  private def zipfRank(u: Column, nConvs: Int): Column =
    least(floor(u * u * nConvs).cast("long"), lit(nConvs - 1L))

  private def convStart(seed: Long, rank: Column): Column =
    lit(T0Micros) + pmod(h(seed, 3, rank), lit(27 * DayMicros))

  /** Per-conversation tool rate in [0.1, 0.6]: tool-heavy conversations
    * also have longer turns, so per-conversation aggregates of the text
    * length carry signal about the label the searches predict.
    */
  private def toolRate(seed: Long, rank: Column): Column =
    lit(0.1) + unit(h(seed, 4, rank)) * 0.5

  /** Transcript turns `(conv_id, turn_idx, role, text, tool, ts)`:
    * `nTurns` rows over `nConvs` Zipf-sized conversations, each spread over
    * three days of event time.
    */
  def turns(spark: SparkSession, seed: Long, nTurns: Long, nConvs: Int, parts: Int): DataFrame = {
    val id = col("id")
    val rank = zipfRank(unit(h(seed, 1, id)), nConvs)
    val rate = toolRate(seed, rank)
    val v = unit(h(seed, 2, id))
    val role = when(v < rate, "tool")
      .when(v < rate + (lit(1.0) - rate) / 2, "user").otherwise("assistant")
    val nWords = lit(3) + pmod(h(seed, 5, id), lit(20L)).cast("int") +
      floor(rate * unit(h(seed, 6, id)) * 60).cast("int")
    val text = concat_ws(" ", transform(sequence(lit(1), nWords), i =>
      concat(lit("w"), pmod(h(seed, 7, id, i), lit(500L)).cast("string"))))
    val tool = when(role === "tool",
      element_at(typedLit(Tools), pmod(h(seed, 8, id), lit(Tools.size.toLong)).cast("int") + 1))
    val ts = timestamp_micros(convStart(seed, rank) + pmod(h(seed, 9, id), lit(3 * DayMicros)))
    spark.range(0, nTurns, 1, parts)
      .select(concat(lit("c"), rank.cast("string")).as("conv_id"), id.as("eid"),
        role.as("role"), text.as("text"), tool.as("tool"), ts.as("ts"))
      .withColumn("turn_idx", (row_number().over(
        Window.partitionBy(col("conv_id")).orderBy(col("ts"), col("eid"))) - 1).cast("int"))
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
  }

  /** As-of right side `(conv_id, ts, rseq, state_v, state_k)` keyed by the
    * same Zipf conversations as [[turns]] for the same seed; `rseq` is
    * unique and breaks ties between equal timestamps. `state_v` is
    * integer-valued, so sums are exact in doubles.
    */
  def right(spark: SparkSession, seed: Long, nRows: Long, nConvs: Int, parts: Int): DataFrame = {
    val id = col("id")
    val rank = zipfRank(unit(h(seed, 11, id)), nConvs)
    spark.range(0, nRows, 1, parts).select(
      concat(lit("c"), rank.cast("string")).as("conv_id"),
      timestamp_micros(convStart(seed, rank) + pmod(h(seed, 12, id), lit(3 * DayMicros))).as("ts"),
      id.as("rseq"),
      pmod(h(seed, 13, id), lit(10000L)).cast("double").as("state_v"),
      pmod(h(seed, 14, id), lit(16L)).cast("int").as("state_k"))
  }

  val BaseNumeric = Seq("text_len", "gap_secs", "roll5_mean_len", "run_mean_len", "turn_pos")
  val BaseCategorical = Seq("role", "prev_role")

  /** Per-turn numeric base the searches run on, derived here rather than
    * by the engine so the search input does not move with the window core:
    * the same columns the engine's transcripts pipeline feeds its search,
    * with `label_next_tool` = "the next turn is a tool call".
    */
  def searchBase(turns: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("ts"), col("turn_idx"))
    val len = length(col("text")).cast("double")
    turns.select(
      col("conv_id"), col("turn_idx"),
      len.as("text_len"),
      ((unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))).cast("double") / 1e6)
        .as("gap_secs"),
      avg(len).over(w.rowsBetween(-4, 0)).as("roll5_mean_len"),
      avg(len).over(w.rowsBetween(Window.unboundedPreceding, 0)).as("run_mean_len"),
      col("turn_idx").cast("double").as("turn_pos"),
      col("role"),
      lag(col("role"), 1).over(w).as("prev_role"),
      (lead(col("role"), 1).over(w) === "tool").cast("int").as("label_next_tool"))
      .filter(col("label_next_tool").isNotNull)
  }

  /** Near-duplicate documents `(doc_id, text)`.
    *
    *  - Docs `2k` and `2k+1` for `k < planted` are a planted pair: the same
    *    token sequence except the last token, so their 3-shingle sets differ
    *    by one shingle each (Jaccard (n-1)/(n+1) >= 0.94 for n >= 34).
    *  - Bodies draw from 20000 tokens, so body shingles are rare.
    *  - A doc starts with one of three six-token boilerplate phrases with
    *    probability `boilerPct`/100; each phrase's four inner shingles then
    *    appear in about nDocs * boilerPct / 300 documents: these are the
    *    frequent shingles a document-frequency cut removes.
    */
  def docs(spark: SparkSession, seed: Long, nDocs: Long, planted: Int, boilerPct: Int,
      parts: Int): DataFrame = {
    val id = col("id")
    val src = when(id < 2L * planted && pmod(id, lit(2L)) === 1, id - 1).otherwise(id)
    val nTok = lit(30) + pmod(h(seed, 21, src), lit(31L)).cast("int")
    val isCopy = src =!= id
    val body = transform(sequence(lit(1), nTok), i =>
      when(isCopy && i === nTok, concat(lit("x"), pmod(h(seed, 22, id), lit(20000L)).cast("string")))
        .otherwise(concat(lit("t"), pmod(h(seed, 23, src, i), lit(20000L)).cast("string"))))
    val phrase = pmod(h(seed, 24, src), lit(3L))
    val boiler = transform(sequence(lit(1), lit(6)), i =>
      concat(lit("bp"), phrase.cast("string"), lit("_"), i.cast("string")))
    val hasBoiler = pmod(h(seed, 25, src), lit(100L)) < boilerPct
    spark.range(0, nDocs, 1, parts).select(id.as("doc_id"),
      concat_ws(" ", when(hasBoiler, concat(boiler, body)).otherwise(body)).as("text"))
  }

  def write(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }
}
