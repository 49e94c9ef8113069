package graft

/** Benchmark main: one JSON line with per-query wall seconds at the
  * SPARK_GRAFT_SF_DIR scale factor. A warm-up pass (untimed) runs
  * first so timings measure the operators, not session/JIT/parquet-
  * footer warm-up; disable with SPARK_GRAFT_WARMUP=0.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-bench")
    // SPARK_GRAFT_QUERIES=q1,q2 restricts the sweep (profiling aid)
    val queries = sys.env.get("SPARK_GRAFT_QUERIES") match {
      case Some(names) =>
        val want = names.split(",").map(_.trim).toSet
        val missing = want -- SparkEntry.queries.keySet
        require(missing.isEmpty,
          s"SPARK_GRAFT_QUERIES names unknown queries: ${missing.mkString(",")}")
        SparkEntry.queries.filter { case (k, _) => want(k) }
      case None => SparkEntry.queries
    }
    // noop sink: materializes EVERY column through the full plan (like
    // Verify's parquet write) with zero IO. count() let Catalyst prune
    // projections nothing consumed — d_pii's redaction, d_chunk's
    // slices, d_normalize's text were partially optimized out of the
    // timed run, flattering exactly the projection-heavy ops.
    def drive(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val warm = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") == "1"
    if (warm) {
      queries.foreach { case (_, fn) =>
        try drive(fn(spark, sfDir)) catch { case _: Throwable => () }
      }
      spark.catalog.clearCache() // drop operator-internal persists
    }
    // min of 2 timed runs per query: the LSH/graph queries re-persist
    // internal state each run, and a single sample is noisy under 32
    // concurrent local threads. A failing query is reported in
    // "errors" and its timing dropped — never folded into the totals
    // as a fast success.
    val results = queries.toSeq.map { case (name, fn) =>
      var err: Option[String] = None
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        try { drive(fn(spark, sfDir)) } catch {
          case t: Throwable =>
            err = Some((t.getClass.getSimpleName + ": " +
              Option(t.getMessage).getOrElse("")).take(160)
              .replaceAll("""[\\"\n\r\t]""", " "))
        }
        (System.nanoTime() - t0) / 1e9
      }
      spark.catalog.clearCache()
      (name, times.min, err)
    }
    val ok = results.filter(_._3.isEmpty)
    // 4-decimal timings: full double precision tripled the line length
    // and the driver's tail capture cut BENCH_r02/_r03 mid-JSON
    def r4(v: Double): String = BigDecimal(v)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = ok.map { case (k, v, _) => s"\"" + k + "\":" + r4(v) }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e)) => s"\"$k\":\"$e\"" }
      .mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    // `mode` states the measurement conditions so round-over-round
    // deltas are attributable (cold-JIT ordering once hid ~25 s of
    // noise in whichever queries ran first)
    val mode = if (warm) "warmup+min2" else "cold+min2"
    val json =
      s"""{"metric":"total","value":${r4(total)},"unit":"sec","mode":"$mode","queries":$qs,"errors":$errs,"sf":"$sfDir"}"""
    // durable copy in the repo so a truncated stdout capture never
    // loses the artifact; the println stays the contract surface
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH.json"),
      (json + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    println(json)
    spark.stop()
  }
}
