package graft.queries

import graft.Tables
import graft.exprs._
import graft.exprs.PortableRound.col6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Candidate-transform library queries: every feature column is built by the
  * engine's FeatureExpr -> Fitter -> Lower path (never hand-written Columns),
  * so the correctness gate exercises the same code the CDFC search uses.
  */
object TransformQueries {

  private val L = "lineitem"

  private def li(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, L)

  private def sel(df: DataFrame, keys: Seq[String], feats: Seq[(String, FeatureExpr)],
      fitDf: DataFrame = null): DataFrame = {
    val fit = Fitter.fit(if (fitDf == null) df else fitDf, feats.map(_._2))
    graft.search.LayerBuilder.select(df, keys, feats, fit)
      .select(keys.map(col) ++ feats.map { case (n, _) => col6(col(n)).as(n) }: _*)
  }

  import UnaryOp._
  import BinOp._
  private val qty = RawCol("l_quantity")
  private val price = RawCol("l_extendedprice")
  private val disc = RawCol("l_discount")
  private val tax = RawCol("l_tax")
  private val keys = Seq("l_orderkey", "l_linenumber")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_unary" -> ((s, dir) => sel(li(s, dir), keys, Seq(
      "f_minus"   -> Unary(Minus, qty),
      "f_inv"     -> Unary(Inv, price),
      "f_log"     -> Unary(Log, price),
      "f_sqrt"    -> Unary(Sqrt, qty),
      "f_square"  -> Unary(Square, disc),
      "f_abs"     -> Unary(Abs, Unary(Minus, qty)),
      "f_sigmoid" -> Unary(Sigmoid, tax),
      "f_minmax"  -> Unary(MinMax, price),
      "f_zscore"  -> Unary(ZScore, qty),
      "f_degrees" -> Unary(Degrees, disc),
      "f_exp"     -> Unary(Exp, disc),
      "f_tanh"    -> Unary(Tanh, tax)))),

    "q_binary" -> ((s, dir) => sel(li(s, dir), keys, Seq(
      "f_revenue" -> BinaryE(Mul, price, BinaryE(Sub, ConstOne, disc)),
      "f_add"     -> BinaryE(Add, qty, tax),
      "f_sub"     -> BinaryE(Sub, price, qty),
      "f_div"     -> BinaryE(Div, price, qty),
      "f_max"     -> BinaryE(Max2, disc, tax),
      "f_min"     -> BinaryE(Min2, disc, tax),
      "f_pow"     -> BinaryE(Pow, BinaryE(Add, ConstOne, disc), qty)))),

    "q_discretize" -> ((s, dir) => sel(li(s, dir), keys, Seq(
      "f_ew10" -> Unary(DiscretizeEW(10), price),
      "f_q4"   -> Unary(DiscretizeQ(4), price)))),

    "q_impute" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("v", when(col("event_type") =!= "error", col("value")))
        // mode needs a low-cardinality numeric with a unique winner; the
        // deterministic tie-break (smallest most-frequent) guards the rest
        .withColumn("vm", when(col("event_type") =!= "error",
          floor(pmod(col("value"), lit(7.0))).cast("double")))
      sel(ev, Seq("event_id"), Seq(
        "f_imp_mean"   -> Unary(ImputeMean, RawCol("v")),
        "f_imp_median" -> Unary(ImputeMedian, RawCol("v")),
        "f_imp_mode"   -> Unary(ImputeMode, RawCol("vm"))))
    }),

    // Top-level MDLP decision: best boundary midpoint + accept verdict, the
    // reference criterion (gain > (log2(N-1) + delta)/N) pinned against an
    // independent SQL recomputation. The full fit is this decision applied
    // recursively (MdlpSpec covers the recursion against hand oracles).
    "q_mdlp_cut" -> ((s, dir) => {
      import s.implicits._
      val (cut, acc) = graft.search.Mdlp.topCut(li(s, dir),
        col("l_quantity"), (col("l_returnflag") === "R").cast("int")).get
      Seq((math.floor(cut * 1e6 + 0.5) / 1e6, if (acc) 1L else 0L))
        .toDF("cut", "accepted")
    }),

    "q_onehot" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val vals = graft.profile.Profiler.distinctValues(ev, Seq(col("event_type"))).head
      sel(ev, Seq("event_id"),
        vals.map(v => s"f_is_$v" -> (Unary(EqualsStr(v), RawCol("event_type")): FeatureExpr)))
    }),

    "q_groupby_expr" -> ((s, dir) => sel(li(s, dir), keys, Seq(
      "f_mean_by_flag" -> GroupByThenE(AggKind.Mean, price, RawCol("l_returnflag")),
      "f_max_by_flag"  -> GroupByThenE(AggKind.Max, qty, RawCol("l_returnflag")),
      "f_std_by_flag"  -> GroupByThenE(AggKind.Std, price, RawCol("l_returnflag")),
      "f_med_by_flag"  -> GroupByThenE(AggKind.Median, qty, RawCol("l_returnflag")),
      "f_cnt_by_flag"  -> GroupByThenE(AggKind.Count, price, RawCol("l_returnflag")),
      "f_sum_by_flag"  -> GroupByThenE(AggKind.Sum, qty, RawCol("l_returnflag"))))),

    // Fit-on-train-only scaling: fold from a portable hash; stats computed on
    // folds != 0 only, applied everywhere (leakage-controlled fit scope).
    "q_scale_fold" -> ((s, dir) => {
      val df = li(s, dir).withColumn("fold",
        pmod(col("l_orderkey") * lit(2654435761L) + col("l_linenumber"), lit(5)))
      val feats = Seq(
        "f_mm_train" -> Unary(MinMax, price),
        "f_z_train"  -> Unary(ZScore, qty))
      sel(df, keys :+ "fold", feats.map { case (n, e) => n -> (e: FeatureExpr) },
        fitDf = df.filter(col("fold") =!= 0))
    }),

    // The custom Catalyst expressions under a full VALUE oracle, driven
    // through their SQL registration (upgrades the spec-only status the
    // r4 verdict noted): token_poly_hash's codegen'd char fold is
    // replicated in DuckDB via list_reduce over unicode codepoints
    // (identical on the documented BMP/ASCII domain); asof_lte runs over
    // real adjacent timestamps (null lag rows stay null both sides);
    // complexity_score is pinned on fixture renders with hand-derived
    // node counts per the reference's get_complexity semantics
    // (CandidateFeature.py:168-176), including the -1 parse-failure path.
    "q_sql_exprs" -> ((s, dir) => {
      CatalystExprs.register(s)
      graft.transcripts.Transcripts.fromEvents(Tables.events(s, dir))
        .createOrReplaceTempView("graft_turns")
      s.sql("""
        |SELECT 'tph' AS kind, conv_id || '#' || CAST(turn_idx AS STRING) AS key,
        |       token_poly_hash(text) AS val
        |FROM graft_turns
        |UNION ALL
        |SELECT 'asof' AS kind, key, CAST(asof_lte(prev_ts, ts) AS BIGINT) AS val
        |FROM (SELECT conv_id || '#' || CAST(turn_idx AS STRING) AS key, ts,
        |             LAG(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev_ts
        |      FROM graft_turns)
        |UNION ALL
        |SELECT 'cplx' AS kind, r AS key, CAST(complexity_score(r) AS BIGINT) AS val
        |FROM VALUES ('text_len'), ('log(text_len)'), ('add(text_len,turn_pos)'),
        |            ('groupby_mean(log(text_len),role)'),
        |            ('sigmoid(div(sqrt(text_len),add(turn_pos,gap_secs)))'),
        |            ('nope((('), ('frobnicate(text_len)') AS t(r)
        |""".stripMargin)
    })
  )

  private def round6(expr: String): String = PortableRound.sql6(expr)

  val oracles: Map[String, String] = Map(
    "q_sql_exprs" ->
      s"""WITH ${graft.transcripts.Transcripts.sqlCte}
         |SELECT 'tph' AS kind, conv_id || '#' || CAST(turn_idx AS VARCHAR) AS key,
         |       list_reduce(
         |         list_prepend(CAST(0 AS BIGINT),
         |           list_transform(string_split(text, ''),
         |                          c -> CAST(unicode(c) AS BIGINT))),
         |         (a, x) -> (a * 131 + x) % 9007199254740881) AS val
         |FROM transcripts
         |UNION ALL
         |SELECT 'asof' AS kind, key, CAST(prev_ts <= ts AS BIGINT) AS val
         |FROM (SELECT conv_id || '#' || CAST(turn_idx AS VARCHAR) AS key, ts,
         |             LAG(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev_ts
         |      FROM transcripts) t
         |UNION ALL
         |SELECT 'cplx' AS kind, r AS key, CAST(v AS BIGINT) AS val
         |FROM (VALUES ('text_len', 1), ('log(text_len)', 2),
         |             ('add(text_len,turn_pos)', 3),
         |             ('groupby_mean(log(text_len),role)', 4),
         |             ('sigmoid(div(sqrt(text_len),add(turn_pos,gap_secs)))', 7),
         |             ('nope(((', -1), ('frobnicate(text_len)', -1)) AS t(r, v)""".stripMargin,

    "q_unary" ->
      s"""SELECT l_orderkey, l_linenumber,
         |  ${round6("-l_quantity")} AS f_minus,
         |  ${round6("1.0 / l_extendedprice")} AS f_inv,
         |  ${round6("LN(l_extendedprice)")} AS f_log,
         |  ${round6("SQRT(l_quantity)")} AS f_sqrt,
         |  ${round6("l_discount * l_discount")} AS f_square,
         |  ${round6("ABS(-l_quantity)")} AS f_abs,
         |  ${round6("1.0 / (1.0 + EXP(-l_tax))")} AS f_sigmoid,
         |  ${round6("(l_extendedprice - MIN(l_extendedprice) OVER ()) / (MAX(l_extendedprice) OVER () - MIN(l_extendedprice) OVER ())")} AS f_minmax,
         |  ${round6("(l_quantity - AVG(l_quantity) OVER ()) / STDDEV_POP(l_quantity) OVER ()")} AS f_zscore,
         |  ${round6("DEGREES(l_discount)")} AS f_degrees,
         |  ${round6("EXP(l_discount)")} AS f_exp,
         |  ${round6("(EXP(l_tax) - EXP(-l_tax)) / (EXP(l_tax) + EXP(-l_tax))")} AS f_tanh
         |FROM lineitem""".stripMargin,

    "q_binary" ->
      s"""SELECT l_orderkey, l_linenumber,
         |  ${round6("l_extendedprice * (1.0 - l_discount)")} AS f_revenue,
         |  ${round6("l_quantity + l_tax")} AS f_add,
         |  ${round6("l_extendedprice - l_quantity")} AS f_sub,
         |  ${round6("l_extendedprice / l_quantity")} AS f_div,
         |  ${round6("GREATEST(l_discount, l_tax)")} AS f_max,
         |  ${round6("LEAST(l_discount, l_tax)")} AS f_min,
         |  ${round6("POW(1.0 + l_discount, l_quantity)")} AS f_pow
         |FROM lineitem""".stripMargin,

    "q_discretize" ->
      s"""WITH s AS (
         |  SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi,
         |         QUANTILE_CONT(l_extendedprice, 0.25) AS q1,
         |         QUANTILE_CONT(l_extendedprice, 0.50) AS q2,
         |         QUANTILE_CONT(l_extendedprice, 0.75) AS q3
         |  FROM lineitem)
         |SELECT l_orderkey, l_linenumber,
         |  CAST(LEAST(GREATEST(CAST(CEIL((l_extendedprice - lo) / ((hi - lo) / 10)) AS INT) - 1, 0), 9) AS DOUBLE) AS f_ew10,
         |  CAST((CASE WHEN l_extendedprice > q1 THEN 1 ELSE 0 END) +
         |       (CASE WHEN l_extendedprice > q2 THEN 1 ELSE 0 END) +
         |       (CASE WHEN l_extendedprice > q3 THEN 1 ELSE 0 END) AS DOUBLE) AS f_q4
         |FROM lineitem, s""".stripMargin,

    "q_impute" ->
      s"""WITH e AS (
         |  SELECT event_id, CASE WHEN event_type <> 'error' THEN value END AS v,
         |         CASE WHEN event_type <> 'error' THEN CAST(FLOOR(((value % 7.0) + 7.0) % 7.0) AS DOUBLE) END AS vm
         |  FROM events),
         |s AS (SELECT AVG(v) AS mu, MEDIAN(v) AS md FROM e),
         |m AS (SELECT vm AS mo FROM (
         |        SELECT vm, COUNT(*) AS c FROM e WHERE vm IS NOT NULL GROUP BY vm)
         |      ORDER BY c DESC, vm ASC LIMIT 1)
         |SELECT event_id, ${round6("COALESCE(v, mu)")} AS f_imp_mean,
         |       ${round6("COALESCE(v, md)")} AS f_imp_median,
         |       ${round6("COALESCE(vm, mo)")} AS f_imp_mode
         |FROM e, s, m""".stripMargin,

    "q_mdlp_cut" -> {
      def ent(a: String, b: String): String =
        s"(-(CASE WHEN $a > 0 THEN ($a/($a+$b)) * (LN($a/($a+$b))/LN(2)) ELSE 0 END" +
          s" + CASE WHEN $b > 0 THEN ($b/($a+$b)) * (LN($b/($a+$b))/LN(2)) ELSE 0 END))"
      val r12 = (x: String) => s"FLOOR(($x) * 1e12 + 0.5) / 1e12"
      s"""WITH h AS (
         |  SELECT CAST(l_quantity AS DOUBLE) AS v,
         |         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y, COUNT(*) AS n
         |  FROM lineitem GROUP BY 1, 2),
         |pv AS (SELECT v, SUM(CASE WHEN y = 0 THEN n ELSE 0 END) AS n0,
         |              SUM(CASE WHEN y = 1 THEN n ELSE 0 END) AS n1
         |       FROM h GROUP BY v),
         |s AS (SELECT v, n0, n1,
         |             SUM(n0) OVER (ORDER BY v) AS c0, SUM(n1) OVER (ORDER BY v) AS c1,
         |             LAG(n0) OVER (ORDER BY v) AS p0, LAG(n1) OVER (ORDER BY v) AS p1,
         |             LAG(v) OVER (ORDER BY v) AS lv
         |      FROM pv),
         |tot AS (SELECT CAST(SUM(n0) AS DOUBLE) AS t0, CAST(SUM(n1) AS DOUBLE) AS t1 FROM pv),
         |cand AS (
         |  SELECT (lv + v) / 2.0 AS cut,
         |         CAST(c0 - n0 AS DOUBLE) AS l0, CAST(c1 - n1 AS DOUBLE) AS l1, t0, t1
         |  FROM s, tot
         |  WHERE lv IS NOT NULL
         |    AND (CASE WHEN p0 > 0 OR n0 > 0 THEN 1 ELSE 0 END)
         |      + (CASE WHEN p1 > 0 OR n1 > 0 THEN 1 ELSE 0 END) > 1),
         |g AS (
         |  SELECT cut, l0, l1, t0 - l0 AS r0, t1 - l1 AS r1, t0 + t1 AS nt, t0, t1
         |  FROM cand),
         |sc AS (
         |  SELECT cut, l0, l1, r0, r1, nt, t0, t1,
         |         ${r12(s"${ent("t0", "t1")} - ((l0+l1)/nt) * ${ent("l0", "l1")}" +
                     s" - ((r0+r1)/nt) * ${ent("r0", "r1")}")} AS gain
         |  FROM g),
         |best AS (SELECT * FROM sc ORDER BY gain DESC, cut ASC LIMIT 1),
         |fin AS (
         |  SELECT cut, gain,
         |    ${r12(s"((LN(nt - 1)/LN(2))" +
               s" + ((CASE WHEN t0 > 0 THEN 1 ELSE 0 END) + (CASE WHEN t1 > 0 THEN 1 ELSE 0 END)) * (LN(3)/LN(2))" +
               s" - ((CASE WHEN t0 > 0 THEN 1 ELSE 0 END) + (CASE WHEN t1 > 0 THEN 1 ELSE 0 END)) * ${ent("t0", "t1")}" +
               s" + ((CASE WHEN l0 > 0 THEN 1 ELSE 0 END) + (CASE WHEN l1 > 0 THEN 1 ELSE 0 END)) * ${ent("l0", "l1")}" +
               s" + ((CASE WHEN r0 > 0 THEN 1 ELSE 0 END) + (CASE WHEN r1 > 0 THEN 1 ELSE 0 END)) * ${ent("r0", "r1")}) / nt")} AS thr
         |  FROM best)
         |SELECT FLOOR(cut * 1000000 + 0.5) / 1000000 AS cut,
         |       CAST(CASE WHEN gain > thr THEN 1 ELSE 0 END AS BIGINT) AS accepted
         |FROM fin""".stripMargin
    },

    "q_onehot" ->
      s"""SELECT event_id,
         |  CAST(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS DOUBLE) AS f_is_click,
         |  CAST(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS DOUBLE) AS f_is_error,
         |  CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS DOUBLE) AS f_is_purchase,
         |  CAST(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS DOUBLE) AS f_is_signup,
         |  CAST(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS DOUBLE) AS f_is_view
         |FROM events""".stripMargin,

    "q_groupby_expr" ->
      s"""SELECT l_orderkey, l_linenumber,
         |  ${round6("AVG(l_extendedprice) OVER (PARTITION BY l_returnflag)")} AS f_mean_by_flag,
         |  ${round6("MAX(l_quantity) OVER (PARTITION BY l_returnflag)")} AS f_max_by_flag,
         |  ${round6("STDDEV_POP(l_extendedprice) OVER (PARTITION BY l_returnflag)")} AS f_std_by_flag,
         |  ${round6("MEDIAN(l_quantity) OVER (PARTITION BY l_returnflag)")} AS f_med_by_flag,
         |  ${round6("COUNT(l_extendedprice) OVER (PARTITION BY l_returnflag)")} AS f_cnt_by_flag,
         |  ${round6("SUM(l_quantity) OVER (PARTITION BY l_returnflag)")} AS f_sum_by_flag
         |FROM lineitem""".stripMargin,

    "q_scale_fold" ->
      s"""WITH f AS (
         |  SELECT *, (l_orderkey * 2654435761 + l_linenumber) % 5 AS fold FROM lineitem),
         |s AS (
         |  SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi,
         |         AVG(l_quantity) AS mu, STDDEV_POP(l_quantity) AS sd
         |  FROM f WHERE fold <> 0)
         |SELECT l_orderkey, l_linenumber, CAST(fold AS BIGINT) AS fold,
         |  ${round6("(l_extendedprice - lo) / (hi - lo)")} AS f_mm_train,
         |  ${round6("(l_quantity - mu) / sd")} AS f_z_train
         |FROM f, s""".stripMargin
  )
}
