package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Consistent sampling for training-data pipelines: per group, keep
  * the k rows with the smallest md5(id) — a deterministic "bottom-k
  * by hash" sample that is stable across runs, engines, partitionings
  * and incremental re-runs (a row's membership never depends on what
  * else is in the group, so samples from different shards/days union
  * cleanly — the property random sampling lacks).
  */
object Sampling {

  def consistentSample(df: DataFrame, groupCols: Seq[String], idCol: String,
      k: Int): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("__hr", row_number().over(w))
      .filter(col("__hr") <= k)
      .drop("__hr")
  }

  /** Deterministic train/val/test holdout: each row's 32-bit draw is
    * the first 8 hex chars of md5(id), compared LEXICOGRAPHICALLY
    * against hex cut points — equal-length lowercase hex compares
    * identically to the numeric value, and every engine renders md5
    * the same way, so the split is reproducible across runs, engines
    * and shards with zero shuffles (a narrow map — the property that
    * matters when the corpus is rewritten incrementally: a doc's
    * split NEVER changes as neighbors come and go).
    */
  def holdoutSplit(df: DataFrame, idCol: String,
      valFraction: Double = 0.05, testFraction: Double = 0.05): DataFrame = {
    require(valFraction >= 0 && testFraction >= 0
      && valFraction + testFraction <= 1,
      s"fractions must be >= 0 and sum <= 1: val=$valFraction test=$testFraction")
    val draw = substring(md5(col(idCol).cast("string")), 1, 8)
    df.withColumn("split",
      when(draw < lit(hexCut(valFraction)), "val")
        .when(draw < lit(hexCut(valFraction + testFraction)), "test")
        .otherwise("train"))
  }

  /** 8-digit lowercase hex cut point for a fraction of the 32-bit
    * hash space (shared with the oracle SQL). fraction = 1.0 maps to
    * "g" — lexicographically after every hex draw, so the comparison
    * stays an 8-char-vs-cut string compare (a 9-digit "100000000"
    * would sort BELOW draws starting with '2'..'f' and silently
    * misclassify ~87% of rows).
    */
  def hexCut(fraction: Double): String = {
    require(fraction >= 0 && fraction <= 1, s"fraction out of [0,1]: $fraction")
    if (fraction >= 1.0) "g" else f"${(fraction * (1L << 32)).toLong}%08x"
  }

  /** Domain-mixing sampler (pretraining data mixing): per-domain
    * quotas proportional to domain size, floored at `minQuota` and
    * capped at `maxQuota` (the cap flattens dominant domains — the
    * practical effect of temperature resampling), then the
    * consistent bottom-k-by-hash rows of each domain fill its quota.
    * Quota arithmetic is one exact-integer product and one IEEE
    * division, so quotas are bit-identical across engines — the whole
    * op is oracle-able. Two shuffles total (domain counts + per-domain
    * window), both on the domain key.
    */
  def mixSample(df: DataFrame, domainCol: String, idCol: String,
      totalTarget: Int, minQuota: Int = 1, maxQuota: Int = 25): DataFrame = {
    val counts = df.groupBy(domainCol).agg(count(lit(1)).as("__n_d"))
    val total = counts.agg(sum("__n_d").as("__n"))
    val quotas = counts.crossJoin(broadcast(total))
      .select(col(domainCol),
        least(greatest(
            floor(lit(totalTarget.toDouble) * col("__n_d") / col("__n") + 0.5),
            lit(minQuota.toLong)), lit(maxQuota.toLong))
          .cast("int").as("__quota"))
    val w = Window.partitionBy(domainCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.join(quotas, Seq(domainCol))
      .withColumn("__hr", row_number().over(w))
      .filter(col("__hr") <= col("__quota"))
      .drop("__hr", "__quota")
  }

  /** Temperature-scaled mixture weights at α = 1/2 — the canonical
    * multilingual/domain rebalance (w_d ∝ c_d^α, Conneau & Lample
    * 2019): α = 1/2 upweights small domains relative to proportional
    * sampling without letting head domains dominate. Exact α = 1/2 is
    * chosen deliberately: c^0.5 is ONE IEEE sqrt — deterministic
    * cross-engine — where a general pow(c, α) is a transcendental
    * with no bit-exactness guarantee.
    *
    * Determinism shape: s_d = floor(sqrt(c_d · 10⁶)) quantizes each
    * domain's temperature mass to an INTEGER, so the normalizing sum
    * is an order-independent integer sum (a double Σ√c would depend
    * on reduction order); weights and quotas are integer div of those
    * sums. One domain-count aggregation + a one-row broadcast — the
    * mixSample plan shape minus the per-row window.
    */
  def temperatureWeights(df: DataFrame, domainCol: String,
      budget: Long = 100000L): DataFrame = {
    val counts = df.groupBy(domainCol).agg(count(lit(1)).as("n_d"))
      .withColumn("s_d",
        floor(sqrt(col("n_d").cast("double") * 1e6)).cast("long"))
    val tot = counts.agg(sum(col("s_d")).as("s_tot"),
      sum(col("n_d")).as("n_tot"))
    counts.crossJoin(broadcast(tot))
      .select(col(domainCol), col("n_d"), col("s_d"),
        expr("(s_d * CAST(1000000 AS BIGINT)) div s_tot").as("weight_ppm"),
        expr("(n_d * CAST(1000000 AS BIGINT)) div n_tot").as("raw_ppm"),
        expr(s"(CAST($budget AS BIGINT) * s_d) div s_tot").as("quota_docs"))
  }
}
