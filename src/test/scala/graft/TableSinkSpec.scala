package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.TableSink

class TableSinkSpec extends SparkSpec {

  test("compaction merges small files, preserves rows, and is idempotent") {
    val dir = Files.createTempDirectory("graft_compact")
    val src = Tables(spark, sf).customer
    // simulate incremental ingest: 40 tiny files
    src.repartition(40).write.parquet(s"$dir/small")
    val (inFiles, outFiles) = TableSink.compact(spark,
      s"$dir/small", s"$dir/compacted", targetFileBytes = 512L * 1024)
    assert(inFiles == 40, s"premise: 40 input files, saw $inFiles")
    assert(outFiles < inFiles, s"compaction must reduce files: $inFiles -> $outFiles")
    // no rows lost or duplicated
    val before = src.count()
    val after = spark.read.parquet(s"$dir/compacted").count()
    assert(after == before)
    assert(spark.read.parquet(s"$dir/compacted").select("c_custkey").distinct().count()
      == src.select("c_custkey").distinct().count())
    // idempotent: compacting the compacted output converges (stays put)
    val (in2, out2) = TableSink.compact(spark,
      s"$dir/compacted", s"$dir/compacted2", targetFileBytes = 512L * 1024)
    assert(in2 == outFiles && out2 <= in2 + 1, s"$in2 -> $out2")
  }

  test("compaction of a hive-partitioned dataset preserves the layout") {
    val dir = Files.createTempDirectory("graft_compact_part")
    val src = Tables(spark, sf).events
    // incremental ingest under a date-partitioned layout: many tiny
    // files nested below p_date=... directories
    src.withColumn("p_date", date_format(col("ts"), "yyyy-MM-dd"))
      .repartition(8)
      .write.partitionBy("p_date").parquet(s"$dir/small")
    val (inFiles, outFiles) = TableSink.compact(spark,
      s"$dir/small", s"$dir/compacted", targetFileBytes = 16L * 1024 * 1024)
    assert(inFiles > 8, s"premise: nested files counted recursively, saw $inFiles")
    assert(outFiles < inFiles, s"must reduce files: $inFiles -> $outFiles")
    // layout survives: key=value directories exist and pruning still works
    val back = spark.read.parquet(s"$dir/compacted")
    assert(back.columns.contains("p_date"))
    val days = back.select(countDistinct(col("p_date"))).head().getLong(0)
    val srcDays = src.select(countDistinct(date_format(col("ts"), "yyyy-MM-dd")))
      .head().getLong(0)
    assert(days == srcDays, s"partition values preserved: $days vs $srcDays")
    assert(back.count() == src.count())
    val oneDay = back.filter(col("p_date") === "2024-01-05")
    oneDay.collect()
    val plan = oneDay.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(p_date"),
      "pruning must survive compaction: " + plan)
  }

  test("compaction splits one oversized hive partition across multiple files") {
    // the r13 review find: repartition on the partition columns alone
    // hashes a whole partition value to ONE task and one file —
    // targetFileBytes was unenforceable for a fat partition. The
    // content-hash salt must split it while tiny partitions keep
    // their one file.
    val dir = Files.createTempDirectory("graft_compact_fat")
    val src = Tables(spark, sf).lineitem
      .withColumn("bucket",
        when(col("l_orderkey") % 50 === 0, "small").otherwise("fat"))
    src.repartition(4).write.partitionBy("bucket").parquet(s"$dir/in")
    val fatBytes = new java.io.File(s"$dir/in/bucket=fat").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    // a target well below the fat partition's bytes forces the split
    val (_, _) = TableSink.compact(spark, s"$dir/in", s"$dir/out",
      targetFileBytes = math.max(1L, fatBytes / 4))
    def files(p: String) = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files(s"$dir/out/bucket=fat").length > 1,
      "fat partition must split across files")
    // rows survive exactly
    assert(spark.read.parquet(s"$dir/out").count() == src.count())
    assert(spark.read.parquet(s"$dir/out")
      .filter(col("bucket") === "fat").count() ==
      src.filter(col("bucket") === "fat").count())
  }

  test("compaction preserves numeric-looking string partition values verbatim") {
    // default partition-type inference would re-type key=007 to int 7
    // and the rewrite would RENAME the directory out from under
    // path-based consumers — compact reads with inference off
    val dir = Files.createTempDirectory("graft_compact_str")
    import spark.implicits._
    Seq(("a", "007"), ("b", "007"), ("c", "010"))
      .toDF("v", "key")
      .write.partitionBy("key").parquet(s"$dir/in")
    assert(new java.io.File(s"$dir/in/key=007").isDirectory)
    TableSink.compact(spark, s"$dir/in", s"$dir/out")
    val dirs = new java.io.File(s"$dir/out").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs == Seq("key=007", "key=010"), dirs.mkString(","))
    assert(spark.read.parquet(s"$dir/out").count() == 3)
  }
}
