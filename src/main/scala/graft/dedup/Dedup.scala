package graft.dedup

import graft.exprs.PortableRound.col6
import graft.text.TextFeatures
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora:
  *
  *  - [[exact]]: hash-groupBy exact dedup (keep min id per identical text)
  *  - [[shingles]]: 3-token shingle codes over the portable dictionary
  *  - [[minhashSignatures]] + [[lshCandidates]]: MinHash (k hash functions)
  *    banded into LSH buckets; candidate pairs share >= 1 band
  *  - [[jaccardPairs]]: exact shingle-set Jaccard via an inverted-index
  *    self-join (only pairs sharing >= 1 shingle are ever materialized —
  *    never a cross join)
  *
  * All hashes are affine (a*x+b mod prime) over portable row-local token
  * hashes ([[TextFeatures.tokenHash]]) — deterministic, reproducible in any
  * SQL engine, and independent of vocabulary size (no dictionary, no
  * driver-side state).
  *
  * Scale notes: the inverted-index join keys on shingle code; hot shingles
  * (near-universal n-grams) are the skew risk — [[jaccardPairs]] drops
  * shingles occurring in more than `maxDf` documents (a standard LSH trick:
  * ubiquitous shingles carry no discriminative signal and quadratically
  * blow up the join).
  */
object Dedup {

  val P: Long = 1000000007L

  /** Exact dedup: representative (min id) per identical text. */
  def exact(docs: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame =
    docs.select(col(id), col(text))
      .withColumn("keep_id", min(col(id)).over(org.apache.spark.sql.expressions.Window.partitionBy(col(text))))
      .select(col(id), col("keep_id"), (col(id) =!= col("keep_id")).cast("int").as("is_dup"))

  /** Scale variant of [[exact]]: groups by a (xxhash64, length, prefix-hash)
    * fingerprint so the shuffle moves ~24 bytes per row instead of the full
    * document blob — at 100 TB the text payload IS the job. A fingerprint
    * collision between non-identical texts needs simultaneous 64-bit hash +
    * length + independent prefix-hash agreement (~2^-90 per candidate
    * pair); callers needing literal certainty re-verify the survivors'
    * groups with [[exact]] (group sizes are tiny after fingerprinting).
    */
  def exactByFingerprint(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val fp = struct(
      xxhash64(col(text)),
      length(col(text)),
      xxhash64(substring(col(text), 1, 64), lit(7L)))
    docs.select(col(id), fp.as("__fp"))
      .withColumn("keep_id", min(col(id)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__fp"))))
      .select(col(id), col("keep_id"), (col(id) =!= col("keep_id")).cast("int").as("is_dup"))
  }

  /** The DEFAULT exact-dedup path at scale: [[exactByFingerprint]] grouping
    * (24-byte shuffle payload) plus literal-certainty blob re-verification
    * of the survivor groups only. Rows in multi-member fingerprint groups —
    * the only place a collision could hide — are semi-joined back to their
    * text and compared to the keeper's text IN-PLAN: any fingerprint
    * collision between non-identical texts fails the job loudly
    * (`raise_error`) instead of silently mis-deduping. The text payload
    * moves only for those group members, never for the full corpus; the
    * main exchange stays fingerprint-sized.
    *
    * Output adds a constant `verified = 1` column (it exists so the
    * verification branch cannot be pruned out of the plan; a collision
    * turns the whole query red via the error, not via the value).
    */
  def exactVerified(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val base = docs.select(col(id), col(text))
    val fp = exactByFingerprint(docs, id, text)
    val dups = fp.filter(col("is_dup") === 1).select(col(id), col("keep_id"))
    val ids = dups.select(col(id))
      .unionByName(dups.select(col("keep_id").as(id))).distinct()
    // only multi-member groups' blobs ever move
    val groupTexts = base.join(ids, Seq(id), "left_semi")
    val checked = dups
      .join(groupTexts, Seq(id))
      .join(groupTexts.select(col(id).as("keep_id"), col(text).as("__kt")), Seq("keep_id"))
      .select(col(id).as(id),
        // null-safe: two NULL texts are a legitimate exact-dup group
        when(col(text) <=> col("__kt"), lit(1))
          .otherwise(raise_error(concat(
            lit("exact-dedup fingerprint collision at id="), col(id).cast("string"))))
          .cast("int").as("__verified"))
    fp.join(checked, Seq(id), "left")
      .select(col(id), col("keep_id"), col("is_dup"),
        coalesce(col("__verified"), lit(1)).cast("long").as("verified"))
  }

  /** (doc_id, shingle): 3-token shingle codes — the modular polynomial
    * ((t1*131 + t2) mod P * 131 + t3) mod P over the portable per-token
    * hashes ([[TextFeatures.tokenHash]], P < 2^53 so t*131 fits in Long).
    *
    * Plan shape: hash the token array row-locally and slide a 3-window over
    * it with `transform` — NO dictionary (no collect, no vocabulary bound),
    * NO self-joins; nothing shuffles but the final distinct.
    */
  def shingles(docs: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame = {
    val P53 = TextFeatures.P
    docs
      .select(col(id),
        transform(split(col(text), " "), t => TextFeatures.tokenHash(t)).as("tids"))
      .select(col(id), explode(
        // sequence(0, n) DESCENDS when n < 0, so guard short docs explicitly
        when(size(col("tids")) >= 3,
          transform(sequence(lit(0), size(col("tids")) - 3),
            i => pmod(pmod(element_at(col("tids"), i + 1) * lit(131L) +
                element_at(col("tids"), i + 2), lit(P53)) * lit(131L) +
              element_at(col("tids"), i + 3), lit(P53))))
          .otherwise(array().cast("array<bigint>"))).as("shingle"))
      .distinct()
  }

  /** MinHash signature: k affine hashes over the shingle set (shingle
    * reduced mod P first so a*s + b stays inside Long under ANSI).
    * Output: (doc_id, mh_0..mh_{k-1}).
    */
  def minhashSignatures(sh: DataFrame, k: Int = 16, id: String = "doc_id"): DataFrame = {
    val aggs = (0 until k).map { i =>
      val a = 1103515245L * (i + 1) % P
      val b = 12345L * (i + 1) % P
      min(pmod(pmod(col("shingle"), lit(P)) * lit(a) + lit(b), lit(P))).as(s"mh_$i")
    }
    sh.groupBy(col(id)).agg(aggs.head, aggs.tail: _*)
  }

  /** One row per (input row, band): `keep` plus the fields of that band's
    * struct. One `explode` of the band structs, so the input is scanned once
    * and the band self-join shuffles one relation, not a union of one
    * select per band.
    */
  private def bandRows(sigs: DataFrame, keep: Seq[Column], bandStructs: Seq[Column]): DataFrame =
    sigs.select(keep :+ explode(array(bandStructs: _*)).as("__band"): _*)
      .select(col("*"), col("__band.*")).drop("__band")

  /** LSH candidate pairs: band the signature (bands x rowsPerBand = k),
    * bucket-join on (band index, band signature), dedup pairs (a < b).
    *
    * @param maxBucket hot-bucket cap: buckets with more members are dropped
    *                  before the self-join (a bucket of m docs emits m^2/2
    *                  pairs — one degenerate bucket at web scale quadratically
    *                  dominates the job; near-identical docs it would have
    *                  paired are still caught by the other bands/exact pass).
    *                  None = exact (the oracle-checked configuration).
    */
  def lshCandidates(sigs: DataFrame, bands: Int = 4, rowsPerBand: Int = 4,
      id: String = "doc_id", maxBucket: Option[Long] = None): DataFrame = {
    val banded0 = bandRows(sigs, Seq(col(id)), (0 until bands).map { b =>
      struct(lit(b).as("band"), concat_ws("_",
        (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}").cast("string")): _*).as("sig"))
    })
    val banded = maxBucket.fold(banded0) { m =>
      // count window shares the (band, sig) partitioning with the join
      banded0.withColumn("__df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("sig"))))
        .filter(col("__df") <= m).drop("__df")
    }
    val l = banded.as("l"); val r = banded.as("r")
    l.join(r, col("l.band") === col("r.band") && col("l.sig") === col("r.sig") &&
        col(s"l.$id") < col(s"r.$id"))
      .select(col(s"l.$id").as("a"), col(s"r.$id").as("b"))
      .distinct()
  }

  /** SimHash near-duplicate pairs: band the 32-bit signature into four
    * 8-bit bytes; by pigeonhole, any pair within hamming distance 3 shares
    * at least one identical byte-band, so the candidate join on
    * (band, byte) is lossless for maxHamming <= 3; exact popcount of the
    * XOR filters candidates.
    */
  def simhashPairs(sigs: DataFrame, maxHamming: Int = 3,
      id: String = "doc_id"): DataFrame = {
    require(maxHamming <= 3, "4 byte-bands only guarantee recall for hamming <= 3")
    val banded = bandRows(sigs, Seq(col(id), col("simhash")), (0 until 4).map { b =>
      struct(lit(b).as("band"), shiftright(col("simhash"), b * 8).bitwiseAND(255).as("byte"))
    })
    val l = banded.as("l"); val r = banded.as("r")
    l.join(r, col("l.band") === col("r.band") && col("l.byte") === col("r.byte") &&
        col(s"l.$id") < col(s"r.$id"))
      .select(col(s"l.$id").as("a"), col(s"r.$id").as("b"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact shingle Jaccard for every pair sharing >= 1 (non-ubiquitous)
    * shingle; returns pairs with jaccard >= threshold.
    */
  def jaccardPairs(sh: DataFrame, threshold: Double = 0.5, maxDf: Long = 1000,
      id: String = "doc_id"): DataFrame = {
    val sizes = sh.groupBy(col(id)).agg(count(lit(1)).as("sz"))
    val df = sh.withColumn("df",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))))
      .filter(col("df") <= maxDf)
      .select(col(id), col("shingle"))
    val l = df.as("l"); val r = df.as("r")
    val inter = l.join(r, col("l.shingle") === col("r.shingle") && col(s"l.$id") < col(s"r.$id"))
      .groupBy(col(s"l.$id").as("a"), col(s"r.$id").as("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed(id, "a").withColumnRenamed("sz", "sza"), "a")
      .join(sizes.withColumnRenamed(id, "b").withColumnRenamed("sz", "szb"), "b")
      .withColumn("jaccard",
        col6(col("inter").cast("double") / (col("sza") + col("szb") - col("inter"))))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Connected components over a near-dup pair list — the cluster step
    * every web-scale dedup pipeline runs after candidate generation (keep
    * one representative per TRANSITIVELY-connected group, not per pair).
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — each
    * round is a groupBy + join on the edge list, converging in O(log²)
    * rounds to a star forest, so no step ever materializes a component
    * in one task and the largest cluster can exceed executor memory.
    * Iteration is driver-bounded with a checksum-screened EXACT fixpoint
    * test (anti-join confirmation on checksum match, so a hash collision
    * can never be declared convergence);
    * `localCheckpoint` truncates the per-round lineage (an iterative
    * plan would otherwise double in depth every round).
    *
    * Returns one row per vertex: (id, component) with component = min
    * vertex id of its component; vertices absent from `pairs` are
    * singletons labelled by themselves.
    */
  /** @param onRound observability hook for stress harnesses: called once
    *                 per completed round with (round, edge count) — default
    *                 no-op, never changes behavior
    */
  def connectedComponents(pairs: DataFrame, vertices: DataFrame,
      id: String = "doc_id", a: String = "a", b: String = "b",
      maxIter: Int = 25, onRound: (Int, Long) => Unit = (_, _) => ()): DataFrame = {
    def und(e: DataFrame): DataFrame =
      e.select(col("src").as("u"), col("dst").as("v"))
        .unionByName(e.select(col("dst").as("u"), col("src").as("v")))
    // large-star: connect every strictly-larger neighbor of u to
    // min(N(u) ∪ {u}) — preserves connectivity, shrinks tall chains
    def largeStar(e: DataFrame): DataFrame = {
      val n = und(e)
      val m = n.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("mn"))
      n.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("src"), col("mn").as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
    }
    // small-star: connect every smaller neighbor of u (and u) to the min
    // of the smaller neighborhood — flattens stars onto their root
    def smallStar(e: DataFrame): DataFrame = {
      val smaller = und(e).filter(col("v") < col("u"))
      val m = smaller.groupBy("u").agg(min(col("v")).as("mn"))
      smaller.join(m, "u")
        .select(col("v").as("src"), col("mn").as("dst"))
        .unionByName(m.select(col("u").as("src"), col("mn").as("dst")))
        .filter(col("src") =!= col("dst")).distinct()
    }
    // bit_xor is order-insensitive and cannot overflow under ANSI mode
    // (sum of hashes would); edges are distinct, so xor never cancels dups
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(src, dst))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // exact set equality (both sides are distinct and equal-count when the
    // checksums match, so one anti-join direction suffices) — the cheap
    // checksum screens every round, and only a checksum MATCH pays for this
    // exact confirmation, so a checksum collision can never silently
    // mislabel clusters: a colliding-but-different edge set fails here and
    // iteration continues
    def sameEdges(cur: DataFrame, prv: DataFrame): Boolean =
      cur.exceptAll(prv).isEmpty
    var prevEdges = pairs
      .select(col(a).cast("long").as("src"), col(b).cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    var edges = prevEdges
    var prev = checksum(edges)
    var converged = edges.isEmpty
    var it = 0
    while (!converged && it < maxIter) {
      prevEdges = edges
      edges = smallStar(largeStar(edges)).localCheckpoint(true)
      val cur = checksum(edges)
      converged = cur == prev && sameEdges(edges, prevEdges)
      prev = cur
      it += 1
      onRound(it, cur._1)
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    // converged state is a star forest: every non-root points at its root
    val labels = edges.select(col("src").as(id), col("dst").as("component"))
    vertices.select(col(id).cast("long").as(id))
      .join(labels, Seq(id), "left")
      .select(col(id), coalesce(col("component"), col(id)).as("component"))
  }
}
