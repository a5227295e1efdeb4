package graft.windows

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Point-in-time (as-of) join: for each left row (entity, ts), attach the
  * latest right row with the same entity and `right.ts <= left.ts`.
  *
  * Two physical shapes:
  *
  *  1. [[asOf]] — union + window. Tag both sides, union, one window over
  *     `(entity)` ordered by `(ts, side, seq)` with right rows sorting before
  *     left rows at equal ts (a value AT exactly ts is visible at-or-before),
  *     `last(value, ignoreNulls)` over the unbounded-preceding frame, keep
  *     left rows. ONE shuffle total; no join node at all. This is the
  *     default plan — at 100 TB it is a single hash exchange on entity, and
  *     AQE coalesces the post-shuffle partitions.
  *
  *  2. [[asOfSkew]] — range-bucketed variant for skewed entities. A hot
  *     conv_id serializes shape (1) because an ordered window over one
  *     entity is one task. Here event-time is cut into `numBuckets` ranges;
  *     the window partitions by `(entity, bucket)` — splitting the hot key
  *     across tasks — and each bucket is seeded with the carry-in value
  *     (the last right value of any strictly earlier bucket), computed on the
  *     tiny per-(entity,bucket) aggregate table. Equivalent results,
  *     boundary-stitched.
  *
  * Left columns and `valueCols` must be disjoint name sets (callers alias).
  *
  * Reference: the reference has no joins at all (SURVEY §2.7); this operator
  * comes from the north rule's point-in-time core. The group-aggregate
  * join-back of `FastGroupByThenTransformation.py:27-40` is the degenerate
  * unordered case (see [[WindowFeatures.groupByThen]]).
  */
object AsOfJoin {

  /** As-of join, union+window plan.
    *
    * @param left      left rows; must contain `entity` and `ts` columns
    * @param right     right rows; must contain `entity`, `ts`, and `valueCols`
    * @param entity    join key column name (both sides)
    * @param valueCols right columns to attach (null when no match yet)
    * @param rightSeq  deterministic tie-break among right rows with equal
    *                  (entity, ts): the row with the greatest rightSeq wins
    */
  def asOf(
      left: DataFrame,
      right: DataFrame,
      entity: String,
      valueCols: Seq[String],
      rightSeq: Column): DataFrame = {
    val leftCols = left.columns.toSeq
    val payload = struct(valueCols.map(col): _*)
    val r = right.select(
      col(entity), col("ts"),
      lit(0).as("__side"), rightSeq.cast("long").as("__seq"), payload.as("__asof"))
    val l = left.withColumn("__side", lit(1)).withColumn("__seq", lit(0L))

    val w = Window.partitionBy(col(entity))
      .orderBy(col("ts"), col("__side"), col("__seq"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    r.unionByName(l, allowMissingColumns = true)
      .withColumn("__filled", last(col("__asof"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(leftCols.map(col) ++
        valueCols.map(v => col("__filled").getField(v).as(v)): _*)
  }

  /** Broadcast as-of join — the third physical shape, for DIMENSION-SIZED
    * right sides (config history, model-version tables, price books: the
    * common case where the right side is kilobytes-to-gigabytes while the
    * left is the 100 TB fact table).
    *
    * Shape (1) pays one full hash exchange of the LEFT side; at 10^12 turns
    * that is the whole job. Here the left side never shuffles at all: the
    * right side collapses to one time-sorted array per entity (a shuffle of
    * the small side only), broadcast-hash-joins onto the left, and each left
    * row selects the last visible payload with a row-local array `filter`
    * whose predicate is the codegen'd [[graft.exprs.AsOfLessOrEqual]]
    * at-or-before expression — the north star's as-of range predicate
    * executing inside the plan. Semantics identical to [[asOf]] (equal-ts
    * rows visible, greatest `rightSeq` wins); PlanSpec asserts the executed
    * plan has a broadcast join, no left-side exchange, and the expression.
    */
  def asOfBroadcast(
      left: DataFrame,
      right: DataFrame,
      entity: String,
      valueCols: Seq[String],
      rightSeq: Column): DataFrame = {
    val leftCols = left.columns.toSeq
    val payload = struct(valueCols.map(col): _*)
    // array_sort on struct orders by field position: (__t, __seq) is the
    // asOf window order among right rows, so "last visible" == max (t, seq)
    val rGrouped = right
      .select(col(entity), struct(
        unix_micros(col("ts")).as("__t"),
        rightSeq.cast("long").as("__seq"),
        payload.as("__p")).as("__e"))
      .groupBy(col(entity))
      .agg(array_sort(collect_list(col("__e"))).as("__arr"))
    val visible = filter(col("__arr"), e =>
      graft.exprs.CatalystExprs.asOfLessOrEqual(
        e.getField("__t"), unix_micros(col("ts"))))
    left.join(broadcast(rGrouped), Seq(entity), "left")
      .withColumn("__vis", visible)
      .withColumn("__filled",
        when(size(col("__vis")) > 0,
          element_at(col("__vis"), size(col("__vis"))).getField("__p")))
      .select(leftCols.map(col) ++
        valueCols.map(v => col("__filled").getField(v).as(v)): _*)
  }

  /** Skew-resistant as-of join: event-time range buckets + carry-in stitch.
    *
    * WHEN to use it (measured, `graft.SideBench skew`, checksum-identical to
    * [[asOf]] in every configuration): the bucketed path pays a constant
    * stitch overhead (per-bucket aggregate + carry-in broadcast), so it
    * LOSES while the hottest key's row count still fits one core's fair
    * share (hot=20% of 8M rows, 8 cores: 0.65x) and wins decisively once a
    * single key dominates the stage (hot=60%: 2.16x; at real cluster widths
    * one-task-per-key serialization makes the gap unbounded). Pick per key
    * histogram: route to asOfSkew when max(rows per entity) exceeds roughly
    * totalRows / parallelism.
    *
    * @param numBuckets number of time buckets to cut `[minTs, maxTs]` into;
    *                   the hot entity's window work fans out over up to this
    *                   many tasks
    */
  def asOfSkew(
      left: DataFrame,
      right: DataFrame,
      entity: String,
      valueCols: Seq[String],
      rightSeq: Column,
      numBuckets: Int = 32): DataFrame = {
    // Bucket boundaries from the union time domain (one tiny agg job).
    // Zero rows -> NULL min/max: no time domain to bucket, so route to the
    // plain shape (whose result is empty/trivial) instead of unboxing nulls.
    val domain = left.select(unix_micros(col("ts")).as("t"))
      .unionByName(right.select(unix_micros(col("ts")).as("t")))
      .agg(min("t"), max("t")).head()
    if (domain.isNullAt(0))
      return asOf(left, right, entity, valueCols, rightSeq)
    val (lo, hi) = (domain.getLong(0), domain.getLong(1))
    val width = math.max(1L, (hi - lo) / numBuckets + 1)
    def bucketOf(ts: Column): Column = ((unix_micros(ts) - lo) / width).cast("int")

    val leftCols = left.columns.toSeq
    val payload = struct(valueCols.map(col): _*)
    val rb = right.select(
      col(entity), col("ts"), bucketOf(col("ts")).as("__bucket"),
      lit(0).as("__side"), rightSeq.cast("long").as("__seq"), payload.as("__asof"))

    // Last right value per (entity, bucket), then the carry-in for every
    // dense bucket index = last value of any strictly earlier bucket.
    // Rows = entities x buckets -> negligible; broadcast back.
    val perBucket = rb.groupBy(col(entity), col("__bucket"))
      .agg(max_by(col("__asof"), struct(col("ts"), col("__seq"))).as("__last"))
    val dense = perBucket.select(col(entity)).distinct()
      .select(col(entity), explode(sequence(lit(0), lit(numBuckets - 1))).as("__bucket"))
    val wCarry = Window.partitionBy(col(entity)).orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carryIn = dense.join(perBucket, Seq(entity, "__bucket"), "left")
      .withColumn("__carry", last(col("__last"), ignoreNulls = true).over(wCarry))
      .select(col(entity), col("__bucket"), col("__carry"))

    val lb = left
      .withColumn("__bucket", bucketOf(col("ts")))
      .withColumn("__side", lit(1))
      .withColumn("__seq", lit(0L))

    val w = Window.partitionBy(col(entity), col("__bucket"))
      .orderBy(col("ts"), col("__side"), col("__seq"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    rb.unionByName(lb, allowMissingColumns = true)
      .join(broadcast(carryIn), Seq(entity, "__bucket"), "left")
      .withColumn("__filled",
        coalesce(last(col("__asof"), ignoreNulls = true).over(w), col("__carry")))
      .filter(col("__side") === 1)
      .select(leftCols.map(col) ++
        valueCols.map(v => col("__filled").getField(v).as(v)): _*)
  }

  /** Time-range aggregate join (the as-of family's interval sibling): for
    * each left row, aggregate the right rows with the same entity and
    * `ts in [left.ts - windowSeconds, left.ts]` — "purchases in the last
    * hour", "tool calls in the last 5 minutes". Same union+window shape as
    * [[asOf]]: tag both sides, ONE hash exchange on the entity, a RANGE
    * frame over event-time micros, keep left rows — never a join node, so
    * there is no pair blow-up when a left row matches many right rows
    * (an interval equi-join would materialize every match).
    *
    * Equal-timestamp semantics: the range frame includes ALL rows at the
    * boundary instants, so a right row AT exactly left.ts is visible —
    * consistent with [[asOf]].
    *
    * Skew: like any per-entity window, a hot entity serializes into one
    * task — [[rangeAggSkew]] is the time-bucketed variant for that case.
    * Route by the same key-histogram rule (hottest key > rows /
    * parallelism).
    *
    * @param aggs output-name -> aggregate over the right-side value column
    *             (left rows carry null in that column, so count/min/max/sum
    *             see right rows only)
    */
  def rangeAgg(
      left: DataFrame,
      right: DataFrame,
      entity: String,
      valueCol: String,
      windowSeconds: Long,
      aggs: Seq[(String, Column => Column)]): DataFrame = {
    val leftCols = left.columns.toSeq
    val r = right.select(col(entity), col("ts"),
      lit(0).as("__side"), col(valueCol).cast("double").as("__v"))
    val l = left.withColumn("__side", lit(1))
      .withColumn("__v", lit(null).cast("double"))
    val w = Window.partitionBy(col(entity))
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-windowSeconds * 1000000L, 0L)
    aggs.foldLeft(r.unionByName(l, allowMissingColumns = true)) {
        case (df, (name, agg)) => df.withColumn(name, agg(col("__v")).over(w))
      }
      .filter(col("__side") === 1)
      .select(leftCols.map(col) ++ aggs.map { case (n, _) => col(n) }: _*)
  }

  /** Skew-resistant [[rangeAgg]]: event-time buckets + Δ-FRINGE REPLICATION.
    *
    * The plain range aggregate windows over `(entity)`, so one hot entity
    * is one task. Here time is cut into `numBuckets` ranges and the window
    * partitions by `(entity, bucket)` — the hot key fans out — with
    * exactness restored by replication instead of a carry-in: a right row
    * at time s influences trailing frames up to `s + windowSeconds`, so it
    * is emitted into EVERY bucket its influence horizon touches
    * (`bucket(s) .. bucket(s + Δ)` — one `explode(sequence)` per right
    * row, replication factor 1 + ceil(Δ / bucketWidth), small whenever the
    * job's time span dwarfs the window, which is what makes the input big
    * in the first place). Each left row then finds all its in-range right
    * rows inside its own partition. Results identical to [[rangeAgg]]
    * (spec-asserted checksum equality).
    */
  def rangeAggSkew(
      left: DataFrame,
      right: DataFrame,
      entity: String,
      valueCol: String,
      windowSeconds: Long,
      aggs: Seq[(String, Column => Column)],
      numBuckets: Int = 32): DataFrame = {
    val deltaUs = windowSeconds * 1000000L
    // empty union time domain -> NULL min/max: short-circuit to the plain
    // range aggregate (empty/trivial result) instead of unboxing nulls
    val domain = left.select(unix_micros(col("ts")).as("t"))
      .unionByName(right.select(unix_micros(col("ts")).as("t")))
      .agg(min("t"), max("t")).head()
    if (domain.isNullAt(0))
      return rangeAgg(left, right, entity, valueCol, windowSeconds, aggs)
    val (lo, hi) = (domain.getLong(0), domain.getLong(1))
    val width = math.max(1L, (hi - lo) / numBuckets + 1)
    def bucketOfUs(us: Column): Column =
      least(greatest((us - lo) / width, lit(0L)), lit(numBuckets - 1L)).cast("int")

    val leftCols = left.columns.toSeq
    val r = right.select(col(entity), col("ts"),
        lit(0).as("__side"), col(valueCol).cast("double").as("__v"))
      .withColumn("__bucket", explode(sequence(
        bucketOfUs(unix_micros(col("ts"))),
        bucketOfUs(unix_micros(col("ts")) + deltaUs))))
    val l = left.withColumn("__side", lit(1))
      .withColumn("__v", lit(null).cast("double"))
      .withColumn("__bucket", bucketOfUs(unix_micros(col("ts"))))
    val w = Window.partitionBy(col(entity), col("__bucket"))
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-deltaUs, 0L)
    aggs.foldLeft(r.unionByName(l, allowMissingColumns = true)) {
        case (df, (name, agg)) => df.withColumn(name, agg(col("__v")).over(w))
      }
      .filter(col("__side") === 1)
      .select(leftCols.map(col) ++ aggs.map { case (n, _) => col(n) }: _*)
  }

  /** Auto-planned as-of join: picks the physical shape from measured input
    * statistics, applying the measured routing rule (see [[asOfSkew]]'s
    * scaladoc and `graft.SideBench skew`):
    *
    *   1. right side fits a broadcast (`<= broadcastRows`) -> [[asOfBroadcast]]
    *      — the 100 TB left side never shuffles at all;
    *   2. else, if the hottest entity's row count exceeds its fair share
    *      (`total rows / parallelism`) -> [[asOfSkew]] — a single hot key
    *      would otherwise serialize one window task;
    *   3. else -> [[asOf]] — one hash exchange, no join node.
    *
    * The two probe jobs are aggregation-only (a count of the right side; a
    * map-side-combined per-entity count of the left) — key+count bytes on
    * the wire, negligible next to the join itself and exactly what a real
    * cost-based planner would sample. Both numbers are also available from
    * table statistics when the caller has them; pass `rightRowsHint` /
    * `maxEntityRowsHint` to skip the probes.
    */
  def auto(
      left: DataFrame,
      right: DataFrame,
      entity: String,
      valueCols: Seq[String],
      rightSeq: Column,
      broadcastRows: Long = 4000000L,
      numBuckets: Int = 32,
      rightRowsHint: Option[Long] = None,
      maxEntityRowsHint: Option[(Long, Long)] = None): DataFrame = {
    val rightRows = rightRowsHint.getOrElse(right.count())
    if (rightRows <= broadcastRows)
      asOfBroadcast(left, right, entity, valueCols, rightSeq)
    else {
      val (total, maxKey) = maxEntityRowsHint.getOrElse {
        val r = left.groupBy(col(entity)).agg(count(lit(1)).as("__n"))
          .agg(sum(col("__n")), max(col("__n"))).head()
        // empty left: aggregates are NULL; any route returns empty rows
        if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
      }
      val par = math.max(left.sparkSession.sparkContext.defaultParallelism, 1).toLong
      if (maxKey > total / par)
        asOfSkew(left, right, entity, valueCols, rightSeq, numBuckets)
      else
        asOf(left, right, entity, valueCols, rightSeq)
    }
  }
}
