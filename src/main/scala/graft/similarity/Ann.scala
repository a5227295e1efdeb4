package graft.similarity

import graft.exprs.PortableRound.col6
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  *  - [[cosineTopK]]: brute-force cosine top-k — the correctness baseline.
  *    Dot products via the codegen'd [[graft.exprs.ArrayKernels]] (same
  *    fold order as the HOF formulation they replaced), no UDFs.
  *  - [[lshTopK]]: random-hyperplane LSH bucketing — the scale path. Each
  *    vector gets a `nBits` sign signature from deterministic pseudo-random
  *    hyperplanes; only same-bucket pairs are scored. Bucketing turns the
  *    O(N*Q) cross join into a bucket-local join; recall is tested against
  *    the brute-force baseline.
  *  - [[nearDupPairs]]: embedding-cosine near-duplicate detection (pairs
  *    above a cosine threshold) over LSH buckets.
  *
  * Scale notes: brute-force is the oracle, not the plan — at 10^9 vectors
  * use lshTopK (bucket join) and raise nBits so mean bucket size stays
  * O(N / 2^nBits). The hyperplane components are a pure function of
  * (bit, dim) so both sides bucket identically with no shared state.
  */
object Ann {

  // Codegen'd kernels ([[graft.exprs.ArrayKernels]]) — value-identical
  // (same left-to-right fold, same null semantics) to the HOF chains
  // `aggregate(zip_with(a, b, _ * _), 0.0, _ + _)` they replace; the HOF
  // forms evaluate their lambdas interpreted per element, which dominated
  // every candidate-scoring join in this module.
  private def dot(a: Column, b: Column): Column = graft.exprs.ArrayKernels.dot(a, b)

  private def norm(a: Column): Column = sqrt(graft.exprs.ArrayKernels.dot(a, a))

  def withNorm(embeddings: DataFrame, id: String = "vec_id",
      vec: String = "embedding"): DataFrame =
    embeddings.select(col(id), col(vec).cast("array<double>").as(vec))
      .withColumn("nrm", norm(col(vec)))

  /** Brute-force cosine top-k: for each query (left) row, the k nearest
    * rows of `corpus` (excluding self-id matches).
    */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, k: Int = 5,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val q = withNorm(queries, id, vec).select(col(id).as("qid"),
      col(vec).as("qv"), col("nrm").as("qn"))
    val c = withNorm(corpus, id, vec).select(col(id).as("nid"),
      col(vec).as("cv"), col("nrm").as("cn"))
    val scored = q.crossJoin(c)
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col6(col("cos")).desc, col("nid"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk").cast("long").as("rnk"),
        col6(col("cos")).as("cos"))
  }

  /** Driver-side value of the deterministic pseudo-random hyperplane
    * component for (bit, dim) — integer hash folded to [-0.5, 0.5), the
    * same arithmetic [[graft.exprs.LshProjection]] runs in codegen. Used by
    * the q_ann_lsh oracle generator to embed the identical hyperplanes as
    * SQL literals.
    */
  def planeValue(bit: Int, dim: Int): Double =
    (((dim + 1).toLong * 2654435761L + bit.toLong * 40503L) % 1009L).toDouble / 1009.0 - 0.5

  /** Sign-signature bucket id over nBits hyperplanes; `table` offsets the
    * hyperplane family so independent tables hash independently.
    */
  def lshBucket(vec: Column, nBits: Int = 8, table: Int = 0): Column =
    (0 until nBits).map { b =>
      // codegen'd projection — identical integer-then-double plane
      // arithmetic and fold order as the zip_with/sequence HOF chain
      // (see [[graft.exprs.LshProjection]]; [[planeValue]] stays the
      // oracle-literal source of truth for the same formula)
      val proj = graft.exprs.ArrayKernels.lshProj(vec, table * 64 + b)
      when(proj > 0, lit(1L << b)).otherwise(0L)
    }.reduce[Column](_ + _)

  /** Multi-table LSH top-k: candidates = pairs sharing a bucket in ANY of
    * `tables` independent hash tables (the standard recall amplifier:
    * miss probability decays as (1-p)^tables), exact cosine on candidates
    * only.
    */
  def lshTopK(embeddings: DataFrame, k: Int = 5, nBits: Int = 8, tables: Int = 4,
      id: String = "vec_id", vec: String = "embedding",
      maxBucket: Option[Long] = None): DataFrame =
    lshTopK2(embeddings, embeddings, k, nBits, tables, id, vec, maxBucket)

  /** Two-table [[lshTopK]]: queries and corpus bucket with the SAME
    * deterministic hyperplane family (a pure function of (bit, dim) — no
    * shared fitted state), so with queries == corpus this is exactly the
    * self variant. Hot-bucket caps apply per side.
    */
  def lshTopK2(queries: DataFrame, corpus: DataFrame, k: Int = 5, nBits: Int = 8,
      tables: Int = 4, id: String = "vec_id", vec: String = "embedding",
      maxBucket: Option[Long] = None): DataFrame = {
    // hot-bucket cap: a degenerate bucket (e.g. the all-zeros region) emits
    // m^2 candidates; cap it and let the other tables carry recall.
    // None = exact (oracle-checked configuration).
    def buckets(e: DataFrame): DataFrame = {
      val b0 = (0 until tables).map { t =>
        e.select(col(id), lit(t).as("tbl"), lshBucket(col(vec), nBits, t).as("bucket"))
      }.reduce(_ unionByName _)
      maxBucket.fold(b0) { m =>
        b0.withColumn("__df", count(lit(1)).over(
            Window.partitionBy(col("tbl"), col("bucket"))))
          .filter(col("__df") <= m).drop("__df")
      }
    }
    val qe = withNorm(queries, id, vec)
    val ce = withNorm(corpus, id, vec)
    val cand = buckets(qe).as("l").join(buckets(ce).as("r"), Seq("tbl", "bucket"))
      .select(col(s"l.$id").as("qid"), col(s"r.$id").as("nid"))
      .filter(col("qid") =!= col("nid"))
      .distinct()
    val q = qe.select(col(id).as("qid"), col(vec).as("qv"), col("nrm").as("qn"))
    val c = ce.select(col(id).as("nid"), col(vec).as("cv"), col("nrm").as("cn"))
    cand.join(q, "qid").join(c, "nid")
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col6(col("cos")).desc, col("nid"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk").cast("long").as("rnk"),
        col6(col("cos")).as("cos"))
  }

  /** Corpora up to this many rows take the brute-force scan in [[topkAuto]]
    * (unmeasured: it bounds the O(queries × corpus) cartesian).
    */
  val BruteMaxRows = 100000L

  /** Cost-based top-k routing (the [[graft.windows.AsOfJoin.auto]] of
    * similarity search): one `count` of the corpus. A corpus of at most
    * [[BruteMaxRows]] rows makes the brute-force nested-loop scan the
    * FASTEST plan (no bucketing passes, no candidate shuffle, exact by
    * construction); anything larger must never reach the cartesian — it
    * routes to the bucket-local multi-table LSH join ([[lshTopK2]], 8 bits,
    * 4 tables, hot buckets capped at 10 000 rows). Default entry point so no
    * caller hits the O(Q*N) plan on a large corpus by accident
    * ([[cosineTopK]] remains the documented correctness oracle).
    */
  def topkAuto(queries: DataFrame, corpus: DataFrame, k: Int = 5,
      id: String = "vec_id", vec: String = "embedding"): DataFrame =
    if (corpus.count() <= BruteMaxRows) cosineTopK(queries, corpus, k, id, vec)
    else lshTopK2(queries, corpus, k, nBits = 8, tables = 4, id, vec, maxBucket = Some(10000L))

  /** IVF (inverted-file) top-k: a coarse KMeans quantizer partitions the
    * corpus into `nlist` cells; each query probes its `nprobe` nearest
    * cells and scores exact cosine only inside them — the classic
    * billion-scale ANN layout (quantizer is tiny and broadcast; the
    * candidate join keys on cell id, so corpus rows shuffle once by cell).
    */
  def ivfTopK(embeddings: DataFrame, k: Int = 5, nlist: Int = 16, nprobe: Int = 4,
      id: String = "vec_id", vec: String = "embedding"): DataFrame =
    ivfTopKModel(embeddings, k, nlist, nprobe, id, vec)._1

  /** [[ivfTopK]] plus the trained centroids — an oracle can embed them as
    * literals and recompute assignment/probing/ranking independently
    * (only the KMeans TRAINING itself is then trusted, like fitted stats).
    */
  def ivfTopKModel(embeddings: DataFrame, k: Int = 5, nlist: Int = 16, nprobe: Int = 4,
      id: String = "vec_id", vec: String = "embedding",
      reuseCenters: Option[Array[Array[Double]]] = None): (DataFrame, Array[Array[Double]]) = {
    val (assigned, centers) =
      ivfAssignModel(embeddings, nlist, nprobe, id, vec, reuseCenters)
    (ivfTopKOnAssigned(assigned, k, nprobe, nprobe, id, vec), centers)
  }

  /** Train (or reuse) the coarse quantizer and materialize the cell
    * assignment ONCE with each row's `maxProbe` nearest probe cells. A
    * caller that ranks at several nprobe values (e.g. a recall study)
    * assigns at the largest and slices per rank — one snapshot instead of
    * one per nprobe; `slice(sorted, 1, p)` of the maxProbe prefix is
    * exactly the p-probe assignment, so every ranked value is identical.
    */
  def ivfAssignModel(embeddings: DataFrame, nlist: Int = 16, maxProbe: Int = 4,
      id: String = "vec_id", vec: String = "embedding",
      reuseCenters: Option[Array[Array[Double]]] = None): (DataFrame, Array[Array[Double]]) = {
    val nprobe = maxProbe
    val e = withNorm(embeddings, id, vec)
    val centers = reuseCenters.getOrElse {
      // Train the coarse quantizer on a deterministic id-hash SAMPLE, not
      // the corpus: each Lloyd iteration is a full input pass, and at 10^9
      // vectors 10 full-corpus scans just to place ~nlist coarse cells is
      // the classic IVF anti-pattern — the standard layout (FAISS-style)
      // fits the quantizer on a bounded sample and only ASSIGNS the full
      // corpus. The id-hash filter is partition-invariant and seed-free,
      // and assignment below stays exact over every row, so the
      // centroids-as-literals oracle is unaffected.
      val fitTarget = math.max(4096L, 64L * nlist)
      val n = e.count()
      val denom = math.max(1L, n / fitTarget)
      val fitRows =
        if (denom == 1L) e
        else e.filter(pmod(xxhash64(col(id)), lit(denom)) === 0)
      val ve = fitRows.withColumn("__v",
        org.apache.spark.ml.functions.array_to_vector(col(vec)))
      // the coarse quantizer does not need convergence — 10 Lloyd iterations
      // give the same recall regime at half the fit jobs (each KMeans
      // iteration is a full pass; default maxIter=20 dominated this query)
      new org.apache.spark.ml.clustering.KMeans()
        .setK(nlist).setSeed(42L).setMaxIter(10)
        .setFeaturesCol("__v").setPredictionCol("cell")
        .fit(ve).clusterCenters.map(_.toArray)
    }
    // naive sequential-fold distances for BOTH assignment and probing
    // (MLlib's transform uses fastSquaredDistance, whose rounding is not
    // reproducible in SQL; the argmin with (d, cell) tie-break is) —
    // codegen'd kernel, same fold order as the zip_with chain it replaces
    def dist2(c: Array[Double]) =
      graft.exprs.ArrayKernels.sqDist(col(vec), typedLit(c.toSeq))
    val cellDists = array(centers.zipWithIndex.map { case (c, i) =>
      struct(dist2(c).as("d"), lit(i).as("cell"))
    }: _*)
    // materialize the assignment ONCE: probes and corpus are two branches
    // over the same `assigned` subtree, and without a snapshot each branch
    // re-evaluates all nlist distance folds + the struct sort per row
    // (guide §2.4: compute once, reuse). At real scale the caller persists
    // the assigned corpus in its lake exactly like this.
    val assigned = graft.search.FeatureConstructor.snapshot(e
      .withColumn("__sorted", array_sort(cellDists))
      .withColumn("cell", col("__sorted").getItem(0).getField("cell"))
      .withColumn("__probe_cells", slice(col("__sorted"), 1, nprobe).getField("cell"))
      .select(col(id), col(vec), col("nrm"), col("cell"), col("__probe_cells")))
    (assigned, centers)
  }

  /** Probe-and-rank over a materialized [[ivfAssignModel]] assignment.
    * `nprobe` may be <= the assignment's `maxProbe` (a prefix slice of the
    * stored probe cells — identical to assigning at that nprobe directly).
    */
  def ivfTopKOnAssigned(assigned: DataFrame, k: Int, nprobe: Int, maxProbe: Int,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    require(nprobe <= maxProbe, s"nprobe $nprobe > assignment maxProbe $maxProbe")
    val probeCells =
      if (nprobe == maxProbe) col("__probe_cells")
      else slice(col("__probe_cells"), 1, nprobe)
    val probes = assigned
      .select(col(id).as("qid"), col(vec).as("qv"), col("nrm").as("qn"),
        explode(probeCells).as("cell"))
    val corpus = assigned.select(col(id).as("nid"), col(vec).as("cv"),
      col("nrm").as("cn"), col("cell"))
    probes.join(corpus, Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col6(col("cos")).desc, col("nid"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk").cast("long").as("rnk"),
        col6(col("cos")).as("cos"))
  }

  /** Embedding-cosine near-duplicate pairs (a < b, cos >= threshold),
    * restricted to multi-table LSH buckets: a pair is a candidate when it
    * shares a bucket in ANY of `tables` hyperplane families — miss
    * probability decays as (1 - p^nBits)^tables. The default is 12 tables x
    * 4 bits: the lattice-derived planes are not fully independent across
    * tables (8 tables measurably missed ~2% of cos~0.97 pairs on one
    * fixture), so the count carries margin beyond the independence model.
    */
  def nearDupPairs(embeddings: DataFrame, threshold: Double = 0.95, nBits: Int = 4,
      tables: Int = 12, id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val e = withNorm(embeddings, id, vec)
    val buckets = (0 until tables).map { t =>
      e.select(col(id), lit(t).as("tbl"), lshBucket(col(vec), nBits, t).as("bucket"))
    }.reduce(_ unionByName _)
    val cand = buckets.as("l").join(buckets.as("r"), Seq("tbl", "bucket"))
      .filter(col(s"l.$id") < col(s"r.$id"))
      .select(col(s"l.$id").as("a"), col(s"r.$id").as("b"))
      .distinct()
    val l = e.select(col(id).as("a"), col(vec).as("av"), col("nrm").as("an"))
    val r = e.select(col(id).as("b"), col(vec).as("bv"), col("nrm").as("bn"))
    cand.join(l, "a").join(r, "b")
      .withColumn("cos", dot(col("av"), col("bv")) / (col("an") * col("bn")))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), col6(col("cos")).as("cos"))
  }
}
