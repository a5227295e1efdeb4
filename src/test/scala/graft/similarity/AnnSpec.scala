package graft.similarity

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class AnnSpec extends SparkSpec {
  import spark.implicits._

  test("lshTopK recalls most of brute-force top-5 (same-bucket bias)") {
    val e = Tables.embeddings(spark, sf0001)
    val brute = Ann.cosineTopK(e, e, k = 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val lsh = Ann.lshTopK(e, k = 5, nBits = 4)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    // 4-bit buckets on 500 vecs ~ 31/bucket; nearest neighbors land in the
    // same half-space bucket far more often than chance
    assert(recall > 0.2, s"recall=$recall")
    assert(lsh.nonEmpty)
  }

  test("nearDupPairs finds planted exact duplicates with cos=1") {
    val e = Tables.embeddings(spark, sf0001).limit(50)
    val dup = e.withColumn("vec_id", col("vec_id") + 10000)
    val both = e.unionByName(dup)
    val pairs = Ann.nearDupPairs(both, threshold = 0.999, nBits = 4)
      .as[(Long, Long, Double)].collect()
    val planted = pairs.filter { case (a, b, _) => b == a + 10000 }
    assert(planted.length == 50, s"found ${planted.length}")
    assert(planted.forall(_._3 >= 0.999999))
  }

  test("ivf shared assignment: nprobe slice of a maxProbe assignment equals a direct fit") {
    // the optimization contract: assigning ONCE at maxProbe and ranking at a
    // smaller nprobe (prefix slice of the stored probe cells) must equal
    // assigning at that nprobe directly with the same centers
    val e = Tables.embeddings(spark, sf0001)
    val (assigned, centers) = Ann.ivfAssignModel(e, nlist = 8, maxProbe = 8)
    val sliced = Ann.ivfTopKOnAssigned(assigned, k = 5, nprobe = 2, maxProbe = 8)
      .collect().map(_.toSeq).toSet
    val direct = Ann.ivfTopKModel(e, k = 5, nlist = 8, nprobe = 2,
        reuseCenters = Some(centers))._1
      .collect().map(_.toSeq).toSet
    assert(sliced == direct)
  }

  test("ivfTopK: probing more cells recovers more of the brute-force top-5") {
    val e = Tables.embeddings(spark, sf0001)
    val brute = Ann.cosineTopK(e, e, k = 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val narrow = Ann.ivfTopK(e, k = 5, nlist = 8, nprobe = 1)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val wide = Ann.ivfTopK(e, k = 5, nlist = 8, nprobe = 8)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val rNarrow = (brute & narrow).size.toDouble / brute.size
    val rWide = (brute & wide).size.toDouble / brute.size
    // probing ALL cells == brute force (exact recall); 1 cell is lossy
    assert(rWide > 0.999, s"wide=$rWide")
    assert(rNarrow < 1.0 && rNarrow > 0.05, s"narrow=$rNarrow")
  }

  test("topkAuto: small corpus routes to the exact nested-loop plan, large to LSH") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter(col("vec_id") < 10)
    // small corpus (live probe): brute route, byte-identical to cosineTopK
    val brute = Ann.topkAuto(q, e)
    val bp = brute.queryExecution.executedPlan.toString()
    assert(bp.contains("BroadcastNestedLoopJoin"), s"expected cartesian plan:\n$bp")
    assert(brute.orderBy("qid", "rnk").collect().toSeq ==
      Ann.cosineTopK(q, e).orderBy("qid", "rnk").collect().toSeq)
    // the large-corpus route, called directly: bucket equi-joins, no nested
    // loop, and the two-table join equals the self join on those queries
    val lsh = Ann.lshTopK2(q, e, nBits = 4)
    val lp = lsh.queryExecution.executedPlan.toString()
    assert(!lp.contains("BroadcastNestedLoopJoin"),
      s"LSH route must never plan a cartesian:\n$lp")
    assert(lsh.orderBy("qid", "rnk").collect().toSeq ==
      Ann.lshTopK(e, nBits = 4).filter(col("qid") < 10).orderBy("qid", "rnk").collect().toSeq)
  }

  test("brute-force top-1 neighbor of a vector's scaled copy is that copy") {
    val e = Tables.embeddings(spark, sf0001).limit(20)
    val scaled = e.select((col("vec_id") + 500).as("vec_id"),
      transform(col("embedding"), x => x * lit(2.0f)).as("embedding"),
      col("label"))
    val all = e.unionByName(scaled)
    val top1 = Ann.cosineTopK(e, all, k = 1)
      .select("qid", "nid").as[(Long, Long)].collect().toMap
    assert((0L until 20L).forall(q => top1(q) == q + 500), top1.toString)
  }
}
