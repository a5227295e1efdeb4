package graft.exprs

import graft.SparkSpec
import graft.search.LayerBuilder
import org.apache.spark.sql.functions._
import UnaryOp._
import BinOp._

class LowerFitSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    (1L, 2.0, "x"), (2L, 4.0, "x"), (3L, 6.0, "y"), (4L, 8.0, "y"), (5L, 10.0, "y"))
    .toDF("id", "v", "g")

  private def one(e: FeatureExpr, d: org.apache.spark.sql.DataFrame = df): Map[Long, Double] = {
    val fit = Fitter.fit(d, Seq(e))
    LayerBuilder.select(d, Seq("id"), Seq("f" -> e), fit)
      .as[(Long, Double)].collect().toMap
  }

  test("MinMax fit+transform: (x-min)/(max-min) on fit scope") {
    val got = one(Unary(MinMax, RawCol("v")))
    assert(got(1L) == 0.0 && got(5L) == 1.0 && got(3L) == 0.5)
  }

  test("ZScore uses population stddev (np ddof=0)") {
    val vals = Seq(2.0, 4.0, 6.0, 8.0, 10.0)
    val mu = vals.sum / 5
    val sd = math.sqrt(vals.map(x => (x - mu) * (x - mu)).sum / 5)
    val got = one(Unary(ZScore, RawCol("v")))
    assert(math.abs(got(1L) - (2.0 - mu) / sd) < 1e-12)
  }

  test("nested fit: zscore(scale(x)) fits in two passes") {
    val got = one(Unary(ZScore, Unary(MinMax, RawCol("v"))))
    // scale(v) = (v-2)/8 -> [0,.25,.5,.75,1]; zscore of that
    val s = Seq(0.0, 0.25, 0.5, 0.75, 1.0)
    val mu = s.sum / 5; val sd = math.sqrt(s.map(x => (x - mu) * (x - mu)).sum / 5)
    assert(math.abs(got(2L) - (0.25 - mu) / sd) < 1e-12)
  }

  test("DiscretizeEW: pd.cut right-closed semantics, min lands in bin 0") {
    val got = one(Unary(DiscretizeEW(4), RawCol("v")))
    // edges 2,4,6,8,10 -> bins (2,4],(4,6],(6,8],(8,10]; v=2 -> 0 (clamped)
    assert(got == Map(1L -> 0.0, 2L -> 0.0, 3L -> 1.0, 4L -> 2.0, 5L -> 3.0))
  }

  test("ImputeMean/Median fill nulls with fit-scope stats") {
    val d = Seq((1L, Some(1.0)), (2L, None), (3L, Some(3.0)), (4L, Some(8.0)))
      .toDF("id", "v")
    val fit = Fitter.fit(d, Seq(Unary(ImputeMean, RawCol("v")), Unary(ImputeMedian, RawCol("v"))))
    val row2 = LayerBuilder.select(d, Seq("id"),
      Seq("m" -> Unary(ImputeMean, RawCol("v")), "md" -> Unary(ImputeMedian, RawCol("v"))), fit)
      .filter(col("id") === 2L).head()
    assert(row2.getDouble(1) == 4.0)  // mean of 1,3,8
    assert(row2.getDouble(2) == 3.0)  // median of 1,3,8
  }

  test("GroupByThen Median via LayerBuilder join-back is exact per group") {
    val e = GroupByThenE(AggKind.Median, RawCol("v"), RawCol("g"))
    val got = one(e)
    assert(got(1L) == 3.0 && got(2L) == 3.0)  // median(2,4)
    assert(got(3L) == 8.0)                    // median(6,8,10)
  }

  test("GroupByThen window aggs match a groupBy + join-back reference") {
    val feats = Seq(
      "mean" -> GroupByThenE(AggKind.Mean, RawCol("v"), RawCol("g")),
      "std"  -> GroupByThenE(AggKind.Std, RawCol("v"), RawCol("g")),
      "cnt"  -> GroupByThenE(AggKind.Count, RawCol("v"), RawCol("g")))
    val w = LayerBuilder.select(df, Seq("id"), feats).orderBy("id").collect().map(_.toSeq)
    val aggs = df.groupBy("g").agg(avg("v").as("mean"), stddev_pop("v").as("std"),
      count("v").cast("double").as("cnt"))
    val j = df.join(aggs, Seq("g"), "left").select("id", "mean", "std", "cnt")
      .orderBy("id").collect().map(_.toSeq)
    assert(w.toSeq == j.toSeq)
  }

  test("EqualsStr one-hot: null-safe 0/1") {
    val d = Seq((1L, Some("x")), (2L, Some("y")), (3L, None)).toDF("id", "g")
    val got = LayerBuilder.select(d, Seq("id"),
      Seq("f" -> Unary(EqualsStr("x"), RawCol("g"))))
      .as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 1.0, 2L -> 0.0, 3L -> 0.0))
  }

  test("binary ops lower to plain arithmetic") {
    val got = one(BinaryE(Mul, RawCol("v"), BinaryE(Sub, ConstOne, RawCol("v"))))
    assert(got(1L) == 2.0 * (1 - 2.0))
  }
}
