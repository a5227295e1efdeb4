package graft

import graft.transcripts.Transcripts
import graft.windows.{AsOfJoin, WindowFeatures}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the 100 TB contract is enforced here, not just
  * eyeballed — shuffle counts, parquet pushdown, and codegen coverage.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString()

  private def countOccurrences(s: String, sub: String): Int =
    s.sliding(sub.length).count(_ == sub)

  /** Physical operators named `op` in a plan string (tree prefixes stripped). */
  private def operators(p: String, op: String): Int =
    p.linesIterator.count(_.replaceFirst("^[\\s:+|-]*", "").matches(s"$op(\\s.*)?"))

  /** Turns with every column `standardFeatures` reads, from a local scan:
    * no exchange of their own, so every exchange in a plan over them is the
    * operator's.
    */
  private def localTurns(): DataFrame =
    spark.range(0, 2000, 1, 4).select(
      concat(lit("c"), pmod(col("id"), lit(17L)).cast("string")).as("conv_id"),
      col("id").cast("int").as("turn_idx"),
      when(pmod(col("id"), lit(3L)) === 0, "tool").otherwise("user").as("role"),
      repeat(lit("w "), pmod(col("id"), lit(9L)).cast("int")).as("text"),
      when(pmod(col("id"), lit(3L)) === 0, "search").as("tool"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 600000000L).as("ts"))

  test("standardFeatures: ALL window features share ONE exchange on conv_id") {
    val t = Transcripts.fromEvents(Tables.events(spark, sf0001))
    val p = plan(WindowFeatures.standardFeatures(t))
    // one exchange for the row_number in fromEvents is reused (same key);
    // hashpartitioning appears once per distinct partitioning
    val exchanges = countOccurrences(p, "Exchange hashpartitioning")
    assert(exchanges <= 2, s"expected <=2 exchanges (derive + conv window), got $exchanges:\n$p")
  }

  test("standardFeatures plans one exchange, one Sort and at most two Window operators") {
    val p = plan(WindowFeatures.standardFeatures(localTurns()))
    assert(countOccurrences(p, "Exchange hashpartitioning") == 1, p)
    assert(operators(p, "Sort") == 1, p)
    val windows = operators(p, "Window")
    assert(windows >= 1 && windows <= 2, s"got $windows Window operators:\n$p")
  }

  test("asOf union+window plan: exactly one hash exchange, no join node") {
    val left = Transcripts.fromEvents(Tables.events(spark, sf0001))
      .select("conv_id", "turn_idx", "ts")
    val right = Tables.events(spark, sf0001)
      .filter(col("event_type") === "purchase")
      .select(concat(lit("c"), col("user_id").cast("string")).as("conv_id"),
        col("ts").cast("timestamp").as("ts"), col("event_id"), col("value").as("pval"))
    val p = plan(AsOfJoin.asOf(left, right, "conv_id", Seq("pval"), col("event_id")))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"as-of must not plan a join node:\n$p")
    // left side derives transcripts (1 exchange on user_id) + 1 union window
    // exchange on conv_id
    val exchanges = countOccurrences(p, "Exchange hashpartitioning")
    assert(exchanges <= 2, s"got $exchanges exchanges:\n$p")
  }

  test("asOfBroadcast: broadcast join, zero left-side exchange, AsOfLessOrEqual executes") {
    val left = Transcripts.fromEvents(Tables.events(spark, sf0001))
      .select("conv_id", "turn_idx", "ts")
    val right = Tables.events(spark, sf0001)
      .filter(col("event_type") === "purchase")
      .select(concat(lit("c"), col("user_id").cast("string")).as("conv_id"),
        col("ts").cast("timestamp").as("ts"), col("event_id"), col("value").as("pval"))
    val out = AsOfJoin.asOfBroadcast(left, right, "conv_id", Seq("pval"), col("event_id"))
    val p = plan(out)
    assert(p.contains("BroadcastHashJoin"), s"right side must broadcast:\n$p")
    // the ONLY hash exchanges allowed are (a) transcripts derivation and
    // (b) the small right side's groupBy(entity) — the left fact side must
    // reach the join shuffle-free (the point of this shape at 100 TB)
    val exchanges = countOccurrences(p, "Exchange hashpartitioning")
    assert(exchanges <= 2, s"got $exchanges exchanges:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no sort-merge join in this shape:\n$p")
    // the north-star as-of range predicate is IN the executed plan
    assert(p.toLowerCase.contains("asoflessorequal"),
      s"AsOfLessOrEqual must appear in the executed plan:\n$p")
    // semantics == union+window shape
    val ref = AsOfJoin.asOf(left, right, "conv_id", Seq("pval"), col("event_id"))
    assert(out.orderBy("conv_id", "turn_idx").collect().toSeq ==
      ref.orderBy("conv_id", "turn_idx").collect().toSeq)
  }

  test("flagship pipeline: as-of + all window features share ONE exchange; strings dict-encoded") {
    // materialize like the real bench input: the pipeline's contract is
    // one exchange over a parquet scan (an in-memory synthetic input would
    // duplicate its own derivation window into both union branches)
    val dir = java.nio.file.Files.createTempDirectory("flagship_in").toString
    Transcripts.synthetic(spark, 3000, 40).write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    val out = SideBench.flagshipPipeline(t)
    val p = plan(out)
    // ONE exchange for the whole job: the as-of union shuffles the narrow
    // encoded rows once on conv_id, and every feature window reuses that
    // hashpartitioning with only a local re-sort
    val exchanges = countOccurrences(p, "Exchange hashpartitioning")
    assert(exchanges == 1, s"expected one shared conv_id exchange, got $exchanges:\n$p")
    assert(!p.contains("Join"), s"flagship must be join-free:\n$p")
    // dict round-trip: decoded strings equal the raw ones on every row
    val mismatch = out
      .join(t.select(col("conv_id"), col("turn_idx"), col("role").as("role0"), col("tool").as("tool0")),
        Seq("conv_id", "turn_idx"))
      .filter(!(col("role") <=> col("role0")) || !(col("tool") <=> col("tool0")))
      .count()
    assert(mismatch == 0, s"dict encode/decode changed $mismatch rows")
  }

  test("ngramCounts is row-local: no join, single exchange (the count groupBy)") {
    val docs = Tables.documents(spark, sf0001)
    val p = plan(graft.text.TextVectors.ngramCounts(docs, 3))
    assert(!p.contains("Join"), s"n-grams must not self-join the token table:\n$p")
    val exchanges = countOccurrences(p, "Exchange")
    assert(exchanges <= 1, s"expected only the groupBy exchange, got $exchanges:\n$p")
  }

  test("filter on the as-of right side is pushed to the parquet scan") {
    val right = Tables.events(spark, sf0001)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("value"))
    val p = plan(right)
    assert(p.contains("PushedFilters") &&
      p.contains("EqualTo(event_type,purchase)"), p)
  }

  test("scalar transform queries stay inside whole-stage codegen with no exchange") {
    val df = graft.queries.TransformQueries.queries("q_unary")(spark, sf0001)
    val p = plan(df)
    assert(!p.contains("Exchange"), s"pure scalar transforms must not shuffle:\n$p")
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    assert(p.contains("*(1) Project"), p)
  }

  test("hash paths build no dictionary: no global-order window, no broadcast") {
    val docs = Tables.documents(spark, sf0001)
    val toks = graft.text.TextFeatures.hashedTokens(docs)
    for ((name, df) <- Seq(
        "shingles" -> graft.dedup.Dedup.shingles(docs),
        "fingerprint" -> graft.text.TextFeatures.fingerprint(toks),
        "simhash" -> graft.text.TextFeatures.simhash(toks),
        "hashingTf" -> graft.text.TextVectors.hashingTf(docs))) {
      val p = plan(df)
      // a dense dictionary would show up as a single-partition Window sort
      // (Exchange SinglePartition + Window) or a broadcast join of the dict
      assert(!p.contains("Window"), s"$name plans a window (dictionary?):\n$p")
      assert(!p.contains("BroadcastExchange"), s"$name broadcasts a dictionary:\n$p")
      assert(!p.contains("Exchange SinglePartition"),
        s"$name has a single-partition exchange:\n$p")
    }
  }

  test("GroupByThen join-back: no forced broadcast on a high-cardinality key") {
    import graft.exprs._
    val t = Transcripts.fromEvents(Tables.events(spark, sf0001))
      .select(col("conv_id"), col("turn_idx"), length(col("text")).cast("double").as("len"))
    val out = graft.search.LayerBuilder.select(t, Seq("conv_id", "turn_idx"),
      Seq("f_med" -> GroupByThenE(AggKind.Median, RawCol("len"), RawCol("conv_id"))))
    // Median no longer joins back (it is a key-partition window), but the
    // ENGINE must still force no broadcast hint on a high-cardinality key:
    // any broadcast is the optimizer's call from size statistics
    val logical = out.queryExecution.analyzed.toString()
    assert(!logical.contains("ResolvedHint") && !logical.contains("UnresolvedHint"),
      s"join-back must not force a broadcast hint:\n$logical")
  }

  test("GroupByThen Median and Mean over a high-cardinality key: one exchange, no join, no hint") {
    import graft.exprs._
    val t = Transcripts.fromEvents(Tables.events(spark, sf0001))
      .select(col("conv_id"), col("turn_idx"), length(col("text")).cast("double").as("len"))
    val out = graft.search.LayerBuilder.select(t, Seq("conv_id", "turn_idx"), Seq(
      "f_med" -> GroupByThenE(AggKind.Median, RawCol("len"), RawCol("conv_id")),
      "f_mean" -> GroupByThenE(AggKind.Mean, RawCol("len"), RawCol("conv_id"))))
    // exact median is a window aggregate like the others: both features
    // share the key partition's one exchange, and nothing joins back
    val p = plan(out)
    assert(countOccurrences(p, "Exchange hashpartitioning(conv_id") == 1,
      s"expected one exchange on the key:\n$p")
    assert(!p.contains("Join"), s"GroupByThen must not plan a join:\n$p")
    val logical = out.queryExecution.analyzed.toString()
    assert(!logical.contains("ResolvedHint") && !logical.contains("UnresolvedHint"),
      s"GroupByThen must not force a hint:\n$logical")
  }

  test("global rank plans have no single-partition exchange") {
    val li = Tables.lineitem(spark, sf0001)
    val ranked = graft.transforms.ColumnOps.rankAverage(li, col("l_extendedprice"), "r")
    val p = plan(ranked)
    assert(!p.contains("Exchange SinglePartition"),
      s"rankAverage must not plan a single-partition exchange:\n$p")
    val dec = graft.transforms.ColumnOps.quantileBucket(li, 10,
      Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")), "d")
    val p2 = plan(dec)
    assert(!p2.contains("Exchange SinglePartition"),
      s"quantileBucket must not plan a single-partition exchange:\n$p2")
  }

  test("rsh band join is an equi-join on bucket id, not a nested-loop") {
    val ev = Tables.events(spark, sf0001)
    val out = graft.transforms.ColumnOps.rshWith(
      ev, col("value"), Seq("event_id"), "rsh", n = 1000L, h = 25.0)
    val p = plan(out)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"band join must have an equality key:\n$p")
  }

  test("exact dedup scale path: the fingerprint exchange never carries the text blob") {
    val docs = Tables.documents(spark, sf0001)
    val p = plan(graft.dedup.Dedup.exactVerified(docs))
    val lines = p.linesIterator.toVector
    val idx = lines.indexWhere(_.contains("Exchange hashpartitioning(__fp"))
    assert(idx >= 0, s"expected the fingerprint window exchange:\n$p")
    // the exchange's input operator must OUTPUT (doc_id, fingerprint) only —
    // text may appear inside the fp-computing expression (that is the point:
    // hashed before the exchange), never as an output column
    val child = lines.drop(idx + 1)
      .find(l => l.contains("Project") || l.contains("Scan")).getOrElse("")
    val outputsOnly = child.replaceAll("struct\\(.*\\) AS __fp#\\d+", "FP")
    assert(child.contains("AS __fp#") && !outputsOnly.contains("text#"),
      s"the fp exchange must move (id, fp) only, but its input is:\n$child")
  }

  test("AsOfJoin.auto routes to plain / skew from the left key histogram") {
    import graft.windows.AsOfJoin
    def turns(nConvs: Int, hotRows: Int): DataFrame =
      spark.range(3000).select(
        when(col("id") < hotRows, lit("hot"))
          .otherwise(concat(lit("c"), pmod(col("id"), lit(nConvs.toLong)).cast("string")))
          .as("conv_id"),
        col("id").as("turn_idx"),
        timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L).as("ts"))
    val right = spark.range(200).select(
      concat(lit("c"), pmod(col("id"), lit(40L)).cast("string")).as("conv_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 7000000L).as("ts"),
      col("id").as("seq"), col("id").cast("double").as("pval"))

    // (a) a dimension-sized right side takes no broadcast shape, which
    // never beat the union+window by more than the probe that picked it
    // (PERF_backfill_ops.json): uniform keys (75 rows each, fair share
    // 3000/4) take the plain union+window
    val uniform = turns(40, 0)
    assert(Route.keyStats(uniform, "conv_id") == ((3000L, 75L)))
    assert(!Route.skewed(Route.keyStats(uniform, "conv_id"), spark))
    val pa = plan(AsOfJoin.auto(uniform, right, "conv_id", Seq("pval"), col("seq")))
    assert(!pa.contains("Join") && !pa.toLowerCase.contains("asoflessorequal") &&
      !pa.contains("__bucket"), s"expected the union+window shape:\n$pa")
    // (b) one conversation owning 80% of rows -> skew buckets
    val hot = turns(40, 2400)
    assert(Route.keyStats(hot, "conv_id") == ((3000L, 2400L)))
    assert(Route.skewed(Route.keyStats(hot, "conv_id"), spark))
    val pb = plan(AsOfJoin.auto(hot, right, "conv_id", Seq("pval"), col("seq")))
    assert(pb.contains("__bucket"), s"expected the skew-bucketed shape:\n$pb")
  }

  test("rangeAgg is join-free: one union window, no pair materialization") {
    import graft.windows.AsOfJoin
    val left = Transcripts.fromEvents(Tables.events(spark, sf0001))
      .select("conv_id", "turn_idx", "ts")
    val right = Tables.events(spark, sf0001)
      .filter(col("event_type") === "purchase")
      .select(concat(lit("c"), col("user_id").cast("string")).as("conv_id"),
        col("ts").cast("timestamp").as("ts"), col("value"))
    val p = plan(AsOfJoin.rangeAgg(left, right, "conv_id", "value", 3600L,
      Seq("c1h" -> (c => count(c)))))
    assert(!p.contains("Join"), s"range agg must not materialize pairs:\n$p")
    val exchanges = countOccurrences(p, "Exchange hashpartitioning")
    assert(exchanges <= 2, s"got $exchanges exchanges:\n$p")
  }

  test("rangeAgg and rangeAggSkew with three aggregates plan one Window and one Sort") {
    import graft.windows.AsOfJoin
    val t = localTurns()
    val left = t.select("conv_id", "turn_idx", "ts")
    val right = t.select(col("conv_id"), col("ts"), col("turn_idx").cast("double").as("v"))
    val aggs = Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)](
      "n" -> (c => count(c)), "s" -> (c => sum(c)), "m" -> (c => max(c)))
    for ((name, out) <- Seq(
        "rangeAgg" -> AsOfJoin.rangeAgg(left, right, "conv_id", "v", 3600L, aggs),
        "rangeAggSkew" -> AsOfJoin.rangeAggSkew(left, right, "conv_id", "v", 3600L, aggs, 4))) {
      val p = plan(out)
      assert(operators(p, "Window") == 1 && operators(p, "Sort") == 1, s"$name:\n$p")
    }
  }

  test("LSH and SimHash banding plan no Union") {
    import graft.dedup.Dedup
    import graft.text.TextFeatures
    val docs = localTurns().select(col("turn_idx").cast("long").as("doc_id"),
      concat_ws(" ", col("text"), col("conv_id"), col("role"), col("conv_id")).as("text"))
    for ((name, out) <- Seq(
        "lsh" -> Dedup.lshCandidates(Dedup.minhashSignatures(Dedup.shingles(docs))),
        "lsh capped" -> Dedup.lshCandidates(Dedup.minhashSignatures(Dedup.shingles(docs)),
          maxBucket = Some(10)),
        "simhash" -> Dedup.simhashPairs(TextFeatures.simhash(TextFeatures.hashedTokens(docs))))) {
      val p = plan(out)
      assert(operators(p, "Union") == 0, s"$name:\n$p")
    }
  }

  test("groupByThenSalted: fact rows never shuffle; aggregate broadcasts back") {
    val t = Transcripts.fromEvents(Tables.events(spark, sf0001))
    val out = graft.windows.WindowFeatures.groupByThenSalted(
      t, "conv_id", length(col("text")).cast("double"), "conv")
    val p = plan(out)
    assert(p.contains("BroadcastHashJoin"), s"aggregate table must broadcast back:\n$p")
    // exchanges: transcripts derivation (user_id) + the two salted aggregate
    // phases (conv_id+salt, conv_id) — all on pre-aggregated or derivation
    // rows; the fact branch feeds the join scan-side without a shuffle
    assert(!p.contains("SortMergeJoin"), s"fact side must not shuffle for the join:\n$p")
  }

  test("column pruning: text-length projection reads only needed columns") {
    val t = Tables.events(spark, sf0001).select(length(col("props")).as("l"))
    val p = plan(t)
    assert(p.contains("ReadSchema: struct<props:string>"), p)
  }
}
