package graft.queries

import graft.Tables
import graft.similarity.Ann
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity-search queries over `embeddings`.
  *
  *  - q_cosine_topk: brute-force top-k, DuckDB-checked (list_dot_product).
  *  - q_ann_lsh: the LSH path has a FULL value oracle — the hyperplane
  *    function is pure integer arithmetic, so the oracle SQL recomputes the
  *    same buckets/candidates/cosines in DuckDB (plane components embedded
  *    as literals).
  *  - q_near_dup: the driver fixture has no pairs above cos 0.52, so the
  *    query plants deterministic near-duplicates derived from the data
  *    (vec_id % 5 == 0 gets a +0.02-per-dim perturbed copy at id+1000000,
  *    cos ~ 0.97) — expressible identically in SQL, so the brute-force
  *    cos >= 0.9 oracle pins both the planting and the LSH pair detection.
  *  - q_ann_ivf stays rows-only (KMeans is not SQL-expressible);
  *    q_ann_recall pins its recall vs brute force as a 1-row property.
  */
object SimilarityQueries {

  private val PlantEps = 0.02 // planted cos ~0.987 (min, all fixtures)

  /** embeddings ∪ planted near-duplicates (derived from the data itself —
    * no external/synthesized inputs; same expression exists in the oracle).
    */
  private def withPlanted(e: DataFrame): DataFrame = {
    val base = e.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val planted = base.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(PlantEps)).as("embedding"))
    base.unionByName(planted)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cosine_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      // rank on rounded cosine + id tie-break so float last-ulp differences
      // between engines cannot flip ranks
      Ann.cosineTopK(e.filter(col("vec_id") < 20), e, k = 5)
    }),
    "q_ann_lsh" -> ((s, dir) =>
      Ann.lshTopK(Tables.embeddings(s, dir), k = 5, nBits = 6)),
    // Cost-based top-k routing: both regimes in one row. The brute arm
    // live-probes the corpus (small at gate scale -> nested-loop exact
    // plan, same values as the q_cosine_topk oracle); the lsh arm calls the
    // large-corpus route directly (uncapped, so it must reproduce the full
    // LSH SQL replication). AnnSpec asserts each regime's plan shape.
    "q_topk_auto" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val brute = Ann.topkAuto(e.filter(col("vec_id") < 20), e, k = 5)
      val lsh = Ann.lshTopK2(e, e, k = 5, nBits = 6, maxBucket = None)
      brute.withColumn("route", lit("brute"))
        .unionByName(lsh.withColumn("route", lit("lsh")))
    }),
    // IVF with a GENERATED full value oracle: the trained centroids embed
    // as literals (like fitted stats), and the SQL recomputes assignment
    // (argmin with (d, cell) tie-break), nprobe probing, exact cosine and
    // ranking — only the KMeans training itself is trusted.
    "q_ann_ivf" -> ((s, dir) => {
      val (out, centers) = Ann.ivfTopKModel(Tables.embeddings(s, dir),
        k = 5, nlist = 16, nprobe = 4)
      ivfOracle = Some(ivfOracleSql(centers, k = 5, nprobe = 4))
      out
    }),
    "q_near_dup" -> ((s, dir) =>
      Ann.nearDupPairs(withPlanted(Tables.embeddings(s, dir)), threshold = 0.9)),
    // IVF recall vs brute force as a 1-row property. Two invariants:
    //  - nprobe == nlist probes EVERY cell, so the result must equal the
    //    brute-force top-k EXACTLY (recall 1.0 — deterministic on any data);
    //  - the default partial probe (nprobe=4/16) keeps a loose floor
    //    (measured 0.55-0.75 across fixtures; random unit vectors have weak
    //    top-5 neighbors, so this is the regime floor, not a tuning target).
    // The oracle is the literal truth row -> regressions turn this red.
    "q_ann_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val brute = Ann.cosineTopK(e.filter(col("vec_id") < 50), e, k = 5)
        .select(col("qid"), col("nid"))
      // assign ONCE at maxProbe = nlist and rank both regimes from the same
      // snapshot (the 4-probe list is the 16-probe prefix — same values as
      // two separate assignments, one snapshot write instead of two)
      val (assigned, _) = Ann.ivfAssignModel(e, nlist = 16, maxProbe = 16)
      val partial = Ann.ivfTopKOnAssigned(assigned, k = 5, nprobe = 4, maxProbe = 16)
        .filter(col("qid") < 50).select(col("qid"), col("nid"))
      val full = Ann.ivfTopKOnAssigned(assigned, k = 5, nprobe = 16, maxProbe = 16)
        .filter(col("qid") < 50).select(col("qid"), col("nid"))
      // ONE action instead of three sequential counts (each of which
      // replayed the brute-force top-k): all three (qid, nid) sets are
      // duplicate-free by construction (row_number rank per pair), so
      // `brute INTERSECT x` counts equal left-join indicator sums — the
      // same exact integers the three-count form produced.
      val row = brute
        .join(partial.withColumn("__p", lit(1)), Seq("qid", "nid"), "left")
        .join(full.withColumn("__f", lit(1)), Seq("qid", "nid"), "left")
        .agg(count(lit(1)).as("t"),
          coalesce(sum(col("__p")), lit(0L)).as("hp"),
          coalesce(sum(col("__f")), lit(0L)).as("hf")).head()
      val total = row.getLong(0).toDouble
      val hitPartial = row.getLong(1).toDouble
      val hitFull = row.getLong(2).toDouble
      import s.implicits._
      Seq((if (hitFull == total) 1L else 0L,
        if (hitPartial / total >= 0.4) 1L else 0L))
        .toDF("ivf_full_recall_ok", "ivf_recall_ok")
    })
  )

  // ---- oracle SQL ----------------------------------------------------

  @volatile private var ivfOracle: Option[String] = None

  private def dlit(v: Double): String = s"CAST(${java.lang.Double.toString(v)} AS DOUBLE)"

  /** DuckDB replication of the IVF probe-and-rank with the centroids as
    * literals. Distances are the same left-to-right fold as the Spark side
    * (explicit 64-term sums), so assignment and probing match bit-for-bit.
    */
  private def ivfOracleSql(centers: Array[Array[Double]], k: Int, nprobe: Int): String = {
    val nlist = centers.length
    val dCols = centers.zipWithIndex.map { case (c, i) =>
      val terms = c.zipWithIndex.map { case (cj, j) =>
        s"(v[${j + 1}] - ${dlit(cj)}) * (v[${j + 1}] - ${dlit(cj)})"
      }.mkString(" + ")
      s"($terms) AS d$i"
    }.mkString(",\n         ")
    val least = (0 until nlist).map(i => s"d$i").mkString("LEAST(", ", ", ")")
    val cellCase = (0 until nlist).map(i => s"WHEN d$i = m THEN $i").mkString(" ")
    val probeUnion = (0 until nlist).map(i =>
      s"SELECT vec_id, d$i AS pd, $i AS pcell FROM a").mkString("\n    UNION ALL\n    ")
    s"""WITH $eCte,
       |d AS (
       |  SELECT vec_id, v, nrm,
       |         $dCols
       |  FROM e),
       |a AS (
       |  SELECT *, CASE $cellCase END AS cell
       |  FROM (SELECT *, $least AS m FROM d)),
       |p AS (
       |  SELECT vec_id AS qid, pcell FROM (
       |    SELECT vec_id, pcell, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id ORDER BY pd, pcell) AS prn
       |    FROM (
       |    $probeUnion))
       |  WHERE prn <= $nprobe),
       |scored AS (
       |  SELECT p.qid, n.vec_id AS nid,
       |         list_dot_product(q.v, n.v) / (q.nrm * n.nrm) AS cos
       |  FROM p JOIN a q ON p.qid = q.vec_id
       |         JOIN a n ON n.cell = p.pcell AND n.vec_id <> p.qid),
       |ranked AS (
       |  SELECT qid, nid, cos,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ${pround("cos")} DESC, nid) AS rnk
       |  FROM scored)
       |SELECT qid, nid, CAST(rnk AS BIGINT) AS rnk, ${pround("cos")} AS cos
       |FROM ranked WHERE rnk <= $k""".stripMargin
  }

  // The WHERE guard fails LOUDLY (DuckDB error()) if a fixture's embedding
  // width ever diverges from the 64 dims hard-coded into the plane literals
  // of bucketSql / the IVF centroid literals — a silent width change would
  // otherwise compute wrong buckets that still hash-compare.
  private val eCte =
    """e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |         SQRT(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings
      |  WHERE CASE WHEN len(embedding) = 64 THEN TRUE
      |             ELSE error('embedding width != 64: oracle plane literals invalid') END)""".stripMargin

  private def pround(x: String): String =
    s"FLOOR(CAST(($x) AS DOUBLE) * 1000000 + 0.5) / 1000000"

  /** DuckDB replication of [[Ann.lshBucket]]: plane components embedded as
    * exact literals (64 dims, matching the fixture embedding width).
    */
  private def bucketSql(nBits: Int, table: Int, dims: Int = 64): String =
    (0 until nBits).map { b =>
      val planes = (0 until dims)
        .map(i => java.lang.Double.toString(Ann.planeValue(table * 64 + b, i)))
        .mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(v, $planes) > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")

  private def lshOracle(k: Int, nBits: Int, tables: Int): String = {
    val bucketRows = (0 until tables).map { t =>
      s"SELECT vec_id, $t AS tbl, ${bucketSql(nBits, t)} AS bucket FROM e"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH $eCte,
       |b AS (
       |  $bucketRows),
       |cand AS (
       |  SELECT DISTINCT l.vec_id AS qid, r.vec_id AS nid
       |  FROM b l JOIN b r ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.vec_id <> r.vec_id),
       |scored AS (
       |  SELECT qid, nid, list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
       |  FROM cand JOIN e q ON cand.qid = q.vec_id JOIN e c ON cand.nid = c.vec_id),
       |ranked AS (
       |  SELECT qid, nid, cos,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ${pround("cos")} DESC, nid) AS rnk
       |  FROM scored)
       |SELECT qid, nid, CAST(rnk AS BIGINT) AS rnk, ${pround("cos")} AS cos
       |FROM ranked WHERE rnk <= $k""".stripMargin
  }

  def oracles: Map[String, String] =
    ivfOracle.map("q_ann_ivf" -> _).toMap ++ staticOracles

  private val staticOracles: Map[String, String] = Map(
    "q_cosine_topk" ->
      s"""WITH $eCte,
         |scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid,
         |         list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
         |  FROM e q, e c
         |  WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id),
         |ranked AS (
         |  SELECT qid, nid, cos,
         |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ${pround("cos")} DESC, nid) AS rnk
         |  FROM scored)
         |SELECT qid, nid, CAST(rnk AS BIGINT) AS rnk, ${pround("cos")} AS cos
         |FROM ranked WHERE rnk <= 5""".stripMargin,

    "q_ann_lsh" -> lshOracle(k = 5, nBits = 6, tables = 4),

    "q_topk_auto" ->
      s"""SELECT 'brute' AS route, * FROM (
         |WITH $eCte,
         |scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid,
         |         list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
         |  FROM e q, e c
         |  WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id),
         |ranked AS (
         |  SELECT qid, nid, cos,
         |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ${pround("cos")} DESC, nid) AS rnk
         |  FROM scored)
         |SELECT qid, nid, CAST(rnk AS BIGINT) AS rnk, ${pround("cos")} AS cos
         |FROM ranked WHERE rnk <= 5)
         |UNION ALL
         |SELECT 'lsh' AS route, * FROM (
         |${lshOracle(k = 5, nBits = 6, tables = 4)})""".stripMargin,

    "q_near_dup" ->
      s"""WITH u AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000 AS vec_id,
         |         list_transform(CAST(embedding AS DOUBLE[]), x -> x + $PlantEps) AS v
         |  FROM embeddings WHERE vec_id % 5 = 0),
         |e AS (SELECT vec_id, v, SQRT(list_dot_product(v, v)) AS nrm FROM u)
         |SELECT a.vec_id AS a, b.vec_id AS b,
         |       ${pround("list_dot_product(a.v, b.v) / (a.nrm * b.nrm)")} AS cos
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.9""".stripMargin,

    "q_ann_recall" ->
      "SELECT CAST(1 AS BIGINT) AS ivf_full_recall_ok, CAST(1 AS BIGINT) AS ivf_recall_ok"
  )
}
