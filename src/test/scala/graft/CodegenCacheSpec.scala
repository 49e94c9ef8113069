package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** Spark's JVM-wide generated-class cache holds a warm export
  * package's working set ([[GraftSession.CodegenCacheEntries]]): run
  * again on the same source, the package and the intake compile no
  * generated class. At Spark's default bound of 100 the package's 160
  * classes cycle through the LRU and a second package recompiles
  * about 147 of them.
  */
class CodegenCacheSpec extends SparkSpec {

  /** Generated classes Spark compiled while `work` ran. */
  private def compiles(work: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    work
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("the shared session carries graft's generated-class cache bound") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a second export package on the same source compiles no generated class") {
    def export(): Unit = graft.sources.ExportMain.run(spark, Array(sf,
      Files.createTempDirectory("graft_codegen").toString,
      "config/export_config.json"))
    val first = compiles(export())
    val second = compiles(export())
    assert(second == 0, s"the second package compiled $second classes (the first $first)")
  }

  test("a second intake batch on the same feed compiles no generated class") {
    val docs = Tables(spark, sf).documents
    val feed = docs.select(col("doc_id"),
      timestamp_seconds(lit(1704067200L) + col("doc_id")).as("ts"), col("text"))
    val bloom = graft.operators.TextAnalysis.benchmarkBloomBytes(
      docs.filter(pmod(xxhash64(col("doc_id"), lit(3L)), lit(50L)) === 0))
    def intake(): Unit = graft.streaming.StreamingIntake
      .intakeBatch(feed, benchBloom = Some(bloom)).collect()
    val first = compiles(intake())
    val second = compiles(intake())
    assert(second == 0, s"the second batch compiled $second classes (the first $first)")
  }
}
