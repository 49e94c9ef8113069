package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction for parquet datasets (the persisted IVF
  * index's codes go through it).
  */
object TableSink {

  /** Compact a parquet dataset's small files into ~`targetFileBytes`
    * files (the operational fix for the small-files problem: a 100 TB
    * table ingested in many increments accumulates thousands of tiny
    * files per partition, and scan planning + open() overhead — not
    * IO — starts to dominate). The output file count is derived from
    * the CURRENT on-disk bytes, so compaction is idempotent: running
    * it twice converges.
    *
    * Hive-partitioned layouts (data files nested under key=value
    * directories) are sized by a RECURSIVE listing and rewritten with
    * the same partitionBy columns, so the layout — and with it
    * partition pruning — survives compaction. Rows are shuffled on the
    * partition columns PLUS a deterministic content-hash salt bounded
    * by ceil(nOut / partition-dir count) — one fat partition value is
    * split across that many tasks/files instead of serializing the
    * whole value through one task and emitting one oversized file
    * (the salt collapses to a constant when every partition fits the
    * target, so the common one-file-per-partition layout is
    * unchanged). Partition VALUES are read with type inference off
    * and rewritten verbatim (inference would re-type a string dir
    * like key=007 to int and rewrite it as key=7 — renaming
    * directories out from under path-based consumers). Flat layouts
    * go through round-robin repartition, which spreads rows evenly
    * regardless of input skew.
    *
    * `transform` lets a caller rewrite the ROWS while the files are
    * being rewritten anyway (the IvfIndex dedup-on-compact case) —
    * the hook runs between the read and the repartition, so whatever
    * it drops never costs a second pass. Defaults to identity.
    *
    * Returns (inputFiles, outputFiles).
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      transform: DataFrame => DataFrame = identity): (Int, Int) = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val conf = spark.sparkContext.hadoopConfiguration
    val in = new org.apache.hadoop.fs.Path(inPath)
    val fs = in.getFileSystem(conf)
    def listDataFiles(p: org.apache.hadoop.fs.Path) = {
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.hadoop.fs.LocatedFileStatus]
      val it = fs.listFiles(p, true) // recursive: partitioned data nests
      while (it.hasNext) {
        val s = it.next()
        val n = s.getPath.getName
        if (s.isFile && !n.startsWith("_") && !n.startsWith(".")) buf += s
      }
      buf.toSeq
    }
    val dataFiles = listDataFiles(in)
    val totalBytes = dataFiles.map(_.getLen).sum
    val nOut = math.max(1L,
      (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    // hive-style partition columns = the key=value directory segments
    // between the dataset root and its data files
    val root = fs.makeQualified(in).toString.stripSuffix("/")
    val partCols: Seq[String] = dataFiles.headOption.toSeq.flatMap { f =>
      f.getPath.getParent.toString.stripPrefix(root)
        .split("/").filter(seg => seg.nonEmpty && seg.contains("="))
        .map(_.takeWhile(_ != '=')).toSeq
    }
    // partition values must survive VERBATIM: inference re-types
    // numeric-looking string dirs (key=007 → int 7) and the rewrite
    // would rename the directory
    val infKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val raw =
      if (partCols.isEmpty) spark.read.parquet(inPath)
      else {
        val inf0 = spark.conf.get(infKey)
        spark.conf.set(infKey, "false")
        try spark.read.parquet(inPath)
        finally spark.conf.set(infKey, inf0)
      }
    val df = transform(raw)
    val writer =
      if (partCols.nonEmpty) {
        // distinct partition-value dirs from the listing already made —
        // the salt bound needs no extra job
        val partDirs = dataFiles.map(_.getPath.getParent.toString)
          .distinct.length
        val filesPerPart = math.max(1,
          math.ceil(nOut.toDouble / math.max(1, partDirs)).toInt)
        val dataCols = df.columns.filterNot(partCols.contains).map(col)
        // xxhash64 requires >= 1 argument: a layout whose EVERY column
        // is a partition column (dataCols empty) falls back to the
        // unsalted repartition instead of failing analysis (ADVICE r13)
        val salted =
          if (dataCols.isEmpty) df.repartition(nOut, partCols.map(col): _*)
          else df.withColumn("__ts_salt",
              pmod(xxhash64(dataCols: _*), lit(filesPerPart)))
            .repartition(nOut, partCols.map(col) :+ col("__ts_salt"): _*)
            .drop("__ts_salt")
        salted.write.mode(SaveMode.Overwrite).partitionBy(partCols: _*)
      } else
        df.repartition(nOut).write.mode(SaveMode.Overwrite)
    writer.parquet(outPath)
    val outFiles = listDataFiles(new org.apache.hadoop.fs.Path(outPath))
      .count(_.getPath.getName.endsWith(".parquet"))
    (dataFiles.length, outFiles)
  }
}
