package graft.transcripts

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.sql.Timestamp

/** One turn of a multi-turn conversation / agent transcript.
  *
  * This is the engine's canonical input row (the north-rule "Iceberg table of
  * multi-turn conversation / agent transcripts"): columns
  * `(conv_id:string, turn_idx:int, role:string, text:string, tool:string, ts:timestamp)`.
  */
case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: Option[String],
    ts: Timestamp)

/** Construction of the transcripts table.
  *
  * Two deterministic producers:
  *
  *  1. [[Transcripts.fromEvents]] — derives transcripts from the driver's
  *     `events` parquet table with pure relational expressions, so a DuckDB
  *     oracle can recreate the byte-identical table from the same parquet
  *     (the SQL form is [[Transcripts.sqlCte]]). Used by the correctness gate.
  *  2. [[Transcripts.synthetic]] — a seeded `spark.range`-based generator with
  *     a Zipf-skewed conversation-size distribution, used by skew tests and
  *     the scaling bench where we need more rows than the test data provides.
  *
  * Both are fully distributed (no driver-side data) and reproducible under any
  * partitioning: every derived value is a pure function of the input row plus
  * a `row_number` over the stable unique ordering `(ts, event_id)`.
  */
object Transcripts {

  val schema: StructType = StructType(Seq(
    StructField("conv_id", StringType),
    StructField("turn_idx", IntegerType),
    StructField("role", StringType),
    StructField("text", StringType),
    StructField("tool", StringType),
    StructField("ts", TimestampType)))

  /** Deterministic transcripts from the `events` table.
    *
    * conv_id  = "c" + user_id
    * turn_idx = dense per-conversation position by (ts, event_id)
    * role     = event_id mod 3 -> user / assistant / tool
    * text     = event_type + " " + props + " v" + floor(value*100)
    *            (integer cents — float-to-string formatting differs across
    *            engines, integers do not)
    * tool     = event_type when role == tool else null
    */
  def fromEvents(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events.select(
      concat(lit("c"), col("user_id").cast("string")).as("conv_id"),
      (row_number().over(w) - 1).cast("int").as("turn_idx"),
      when(pmod(col("event_id"), lit(3)) === 0, "user")
        .when(pmod(col("event_id"), lit(3)) === 1, "assistant")
        .otherwise("tool").as("role"),
      concat(
        col("event_type"), lit(" "), col("props"), lit(" v"),
        floor(col("value") * 100).cast("long").cast("string")).as("text"),
      when(pmod(col("event_id"), lit(3)) === 2, col("event_type")).as("tool"),
      // Parquet timestamp[us] arrives as TIMESTAMP_NTZ in Spark 4; the engine
      // standardizes on TIMESTAMP with session tz UTC (== DuckDB epoch_us).
      col("ts").cast("timestamp").as("ts"))
  }

  /** The DuckDB-runnable CTE producing the identical table from the same
    * parquet — prefix of every oracle query over transcripts.
    */
  val sqlCte: String =
    """transcripts AS (
      |  SELECT 'c' || CAST(user_id AS VARCHAR) AS conv_id,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,
      |         CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
      |         event_type || ' ' || props || ' v' || CAST(CAST(FLOOR(value * 100) AS BIGINT) AS VARCHAR) AS text,
      |         CASE WHEN event_id % 3 = 2 THEN event_type END AS tool,
      |         ts
      |  FROM events
      |)""".stripMargin

  /** The transcript data model's enum domains (role is closed by schema;
    * tool is closed for the synthetic generator) — public so pipelines can
    * dictionary-encode these columns with static dictionaries instead of a
    * fit pass ([[graft.transforms.DictEncode]]).
    */
  val RoleNames = Seq("user", "assistant", "tool")
  val ToolNames = Seq("search", "code", "browse", "calc")
  private val Vocab = Seq(
    "the", "fast", "key", "order", "sort", "table", "scan", "merge", "part",
    "window", "small", "hash", "join", "batch", "stream", "spark", "group",
    "query", "row", "data", "slow", "filter", "customer", "line", "value",
    "agg", "big", "column", "vector", "a")

  /** Seeded synthetic transcripts, Zipf-skewed conversation sizes.
    *
    * `nTurns` total rows over `nConvs` conversations; conversation k gets a
    * share ~ 1/(k+1)^zipf (k in conversation rank order), so conv 0 is the
    * hot key for skew tests. Everything is a pure function of `spark.range`
    * ids + `seed` — reproducible under any partitioning, no data ever on the
    * driver.
    */
  def synthetic(
      spark: SparkSession,
      nTurns: Long,
      nConvs: Int,
      seed: Long = 42L,
      zipf: Double = 0.8): DataFrame = {
    // Deterministic mixer: xxhash64 is codegen'd, stable across Spark
    // versions, and ANSI-safe (no overflowing arithmetic).
    def mix(c: Column): Column = xxhash64(c)
    // Zipf CDF inversion done with a generated per-row expression is
    // expensive; instead assign conv rank r from the row id with a power-law
    // stretch: r = floor(nConvs * u^(1/(1-zipf-ish))) gives a heavy head.
    val alpha = math.max(1.05, 1.0 + zipf)
    val df = spark.range(0, nTurns, 1, math.max(spark.sparkContext.defaultParallelism, 1))
    val h = mix(col("id") + lit(seed))
    val u = (pmod(h, lit(1000000000L)).cast("double") + 0.5) / 1e9
    val convRank = least(
      floor(pow(u, lit(alpha)) * nConvs).cast("long"), lit(nConvs - 1L))
    val h2 = mix(h + 1)
    val h3 = mix(h + 2)
    val roleIdx = pmod(col("id"), lit(3)).cast("int")
    val words = sequence(lit(0), pmod(h3, lit(40)).cast("int") + 3)
    val text = concat_ws(" ",
      transform(words, i => element_at(
        typedLit(Vocab), (pmod(mix(h2 + i.cast("long")), lit(Vocab.size)).cast("int") + 1))))
    df.select(
      concat(lit("s"), convRank.cast("string")).as("conv_id"),
      // turn_idx assigned later by window; provisional unique ordering key
      col("id").as("event_seq"),
      element_at(typedLit(RoleNames), roleIdx + 1).as("role"),
      text.as("text"),
      when(roleIdx === 2,
        element_at(typedLit(ToolNames), pmod(h2, lit(ToolNames.size)).cast("int") + 1)).as("tool"),
      timestamp_micros(lit(1704067200000000L) + pmod(h3, lit(86400000000L * 30)) ).as("ts"))
      .withColumn("turn_idx",
        (row_number().over(Window.partitionBy(col("conv_id")).orderBy(col("ts"), col("event_seq"))) - 1).cast("int"))
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
  }
}
