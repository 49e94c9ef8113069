package graft

import org.apache.spark.sql.functions._
import graft.operators.Sampling

class SamplingSpec extends SparkSpec {

  test("consistent sample is stable across partitionings and runs") {
    val docs = Tables(spark, sf).documents
    def ids(df: org.apache.spark.sql.DataFrame) =
      Sampling.consistentSample(df, Seq("lang"), "doc_id", 5)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val a = ids(docs)
    val b = ids(docs.repartition(13))
    val c = ids(docs.coalesce(1))
    assert(a == b && b == c)
    assert(a.size <= 5 * 5) // ≤ k per language
  }

  test("mix sample honors per-domain quota bounds and is partition-stable") {
    val docs = Tables(spark, sf).documents
    def run(df: org.apache.spark.sql.DataFrame) =
      Sampling.mixSample(df, "source", "doc_id", totalTarget = 100,
          minQuota = 1, maxQuota = 25)
        .select("source", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
    val a = run(docs)
    assert(a == run(docs.repartition(17)))
    // every domain respects [min, cap] and no domain exceeds its size
    val perDomain = a.groupBy(_._1).view.mapValues(_.size).toMap
    val sizes = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perDomain.foreach { case (d, k) =>
      assert(k >= 1 && k <= 25, s"$d quota $k")
      assert(k <= sizes(d), s"$d sampled $k of ${sizes(d)}")
    }
    // dominant domains are flattened by the cap: sampled share of the
    // biggest domain is below its population share when capped
    val (bigDom, bigN) = sizes.maxBy(_._2)
    if (100.0 * bigN / sizes.values.sum > 25)
      assert(perDomain(bigDom) == 25)
  }

  test("holdout split is stable under corpus rewrites and near target fractions") {
    import graft.operators.Sampling
    val docs = Tables(spark, sf).documents
    val full = Sampling.holdoutSplit(docs, "doc_id", 0.05, 0.05)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // a doc's split never depends on what else is in the corpus
    val half = Sampling.holdoutSplit(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", 0.05, 0.05)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    half.foreach { case (id, s) => assert(full(id) == s, s"doc $id flipped") }
    // fractions land near target (md5 is uniform; generous tolerance)
    val n = full.size.toDouble
    val shares = full.values.groupBy(identity).view.mapValues(_.size / n).toMap
    assert(shares.getOrElse("val", 0.0) < 0.15 && shares.getOrElse("test", 0.0) < 0.15)
    assert(shares("train") > 0.75, s"shares $shares")
    // shuffle-free: the plan has no Exchange
    val plan = Sampling.holdoutSplit(docs, "doc_id").queryExecution
      .executedPlan.toString
    assert(!plan.contains("Exchange"), "holdout split must stay narrow")
  }

  test("temperature weights flatten the mixture and match the α=1/2 formula") {
    import spark.implicits._
    import graft.operators.Sampling
    // skewed domains: 1000 / 100 / 10 docs
    val rows = (1 to 1000).map(i => (i.toLong, "big")) ++
      (1 to 100).map(i => (1000L + i, "mid")) ++
      (1 to 10).map(i => (2000L + i, "small"))
    val df = rows.toDF("doc_id", "source")
    val got = Sampling.temperatureWeights(df, "source", budget = 100000L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    val sD = Map("big" -> 1000L, "mid" -> 100L, "small" -> 10L)
      .map { case (k, n) => k -> math.floor(math.sqrt(n.toDouble * 1e6)).toLong }
    val sTot = sD.values.sum
    got.foreach { case (dom, (n, s, wppm, rppm, quota)) =>
      assert(s == sD(dom))
      assert(wppm == s * 1000000L / sTot)
      assert(rppm == n * 1000000L / 1110L)
      assert(quota == 100000L * s / sTot)
    }
    // α = 1/2 flattens: small domains gain weight vs proportional,
    // the head loses
    assert(got("small")._3 > got("small")._4)
    assert(got("big")._3 < got("big")._4)
    // quotas stay within one doc of the budget (integer floors)
    val qSum = got.values.map(_._5).sum
    assert(qSum <= 100000L && qSum >= 100000L - 3)
  }

  test("holdout split handles boundary fractions and rejects invalid ones") {
    import graft.operators.Sampling
    val docs = Tables(spark, sf).documents
    // 0.5/0.5 exhausts the space: every row is val or test, none train
    val halves = Sampling.holdoutSplit(docs, "doc_id", 0.5, 0.5)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!halves.contains("train"), s"train rows at 0.5/0.5: $halves")
    val n = halves.values.sum.toDouble
    assert(halves("val") / n > 0.35 && halves("test") / n > 0.35, halves.toString)
    intercept[IllegalArgumentException] {
      Sampling.holdoutSplit(docs, "doc_id", 0.7, 0.7)
    }
    intercept[IllegalArgumentException] { Sampling.hexCut(1.2) }
  }
}
