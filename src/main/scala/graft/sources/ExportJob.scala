package graft.sources

import java.io.{BufferedOutputStream, ByteArrayOutputStream, OutputStreamWriter}
import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.{DigestOutputStream, MessageDigest}
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.collection.immutable.ListMap
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types.StructType

/** The reference tool's export pipeline (export.py:229-349 +
  * zip_files_with_checksum export.py:145-210), Spark-first:
  *
  *   1. run every named query,
  *   2. append constant facility columns (Region/Woreda/Facility/
  *      HMISCode in the reference; arbitrary here),
  *   3. one CSV per query,
  *   4. zip the CSVs, SHA-256 the zip, package zip+checksum.
  *
  * Scale: the driver plans the reports concurrently, up to their
  * final stages, on a pool of min(#reports, cores) threads: every
  * report's Catalyst phases first, then, once all of them have ended,
  * every report's AQE stage jobs. Then ONE Spark job runs every
  * report's final stage together, each task rendering its partition's
  * CSV with Spark's own CSV generator and options (the bytes
  * `df.write.csv` writes) and returning them as its result. The driver
  * then writes the package in one streaming pass: each report's
  * partitions, in partition order, go into its entry of the inner zip,
  * which is itself written into the package's `<tag>.zip` entry and
  * digested on the way, so no CSV, inner zip or checksum file touches
  * the disk (`ZipOutputStream` switches to ZIP64 on its own past 4 GiB).
  * Tasks open no file: only the driver writes under `outDir`. A
  * package's CSV bytes are bounded by Spark's `spark.driver.maxResultSize`
  * (1 GiB by default); a larger package fails the job before any file
  * is written. The package appears under its final name only once it
  * is complete; a failed run deletes its staged file and leaves an
  * earlier package of the same tag in place.
  */
object ExportJob {

  final case class Result(
      packagePath: Path,
      innerZip: String,
      checksum: String,
      csvFiles: Seq[String])

  /** The SQL execution name of a report's planning. */
  val PlanExecution = "graft export: plan report"

  /** The job description of the one job that renders every report. */
  val WriteJob = "graft export: write CSV parts"

  def run(
      spark: SparkSession,
      queries: Map[String, DataFrame],
      constants: Seq[(String, String)],
      outDir: Path,
      tag: String): Result = {
    // names become zip entry and file names: a separator would put an
    // entry or the staged package outside where it belongs
    (tag +: queries.keys.toSeq).foreach { name =>
      require(!name.exists(c => c == '/' || c == '\\'),
        s"export name '$name' contains a path separator")
    }
    Files.createDirectories(outDir)
    // one projection appends (or replaces in place) every constant
    val constantCols = ListMap(constants.map { case (k, v) => k -> lit(v) }: _*)
    val reports = queries.toSeq.sortBy(_._1).map { case (name, df) =>
      name -> df.withColumns(constantCols)
    }
    val csvParts = renderCsv(spark, reports.map(_._2))
    val csvs = reports.map { case (name, _) => s"${name}_$tag.csv" }
    // the package is written under a hidden name and renamed into place
    // last, so a reader (or a crash) never sees a torn one; it is the
    // only file this run creates, so a failure deletes just that and
    // nothing an earlier run left, such as the previous package
    val staged = outDir.resolve(s".${tag}_packaged.zip.tmp")
    val out = Files.newOutputStream(staged)
    try {
      val md = MessageDigest.getInstance("SHA-256")
      val checksum = Using.resource(new ZipOutputStream(
          new BufferedOutputStream(out, 4 << 20))) { pkg =>
        pkg.putNextEntry(new ZipEntry(s"$tag.zip"))
        // the inner zip's bytes are digested on their way into the
        // package entry; closing the inner zip must not close the package
        val digested = new DigestOutputStream(pkg, md) {
          override def close(): Unit = flush()
        }
        Using.resource(new ZipOutputStream(new BufferedOutputStream(digested, 1 << 16))) { inner =>
          csvs.zip(csvParts).foreach { case (csv, parts) =>
            inner.putNextEntry(new ZipEntry(csv))
            parts.foreach(inner.write)
            inner.closeEntry()
          }
        }
        val hex = md.digest().map("%02x".format(_)).mkString
        pkg.putNextEntry(new ZipEntry(s"${tag}_checksum.txt"))
        pkg.write(hex.getBytes(StandardCharsets.UTF_8))
        hex
      }
      val pkg = Files.move(staged, outDir.resolve(s"${tag}_packaged.zip"),
        StandardCopyOption.ATOMIC_MOVE)
      Result(pkg, s"$tag.zip", checksum, csvs)
    } catch {
      case e: Throwable =>
        try Files.deleteIfExists(staged) catch { case c: Throwable => e.addSuppressed(c) }
        throw e
    }
  }

  /** Every report's CSV, as its partitions' bytes in partition order.
    * Every report's column types are checked first, so a rejected one
    * fails the package before any job runs. Then the reports are
    * planned concurrently (`GraftShim.planAll`), on a pool of
    * min(#reports, cores) daemon `graft-export-plan-<n>` driver threads
    * made for this call: first every report's Catalyst phases, then,
    * once all of them have ended, every report's AQE stage jobs
    * (broadcasts, shuffle map stages), each report in its own SQL
    * execution. So no Catalyst phase ever runs while a job does, and
    * the single-task stage jobs of different reports share the cores. What is left of each report is
    * its final stage; one job runs them all, so their tasks share the
    * cores instead of queueing report by report.
    */
  private def renderCsv(spark: SparkSession,
      reports: Seq[DataFrame]): Seq[Seq[Array[Byte]]] =
    if (reports.isEmpty) Nil
    else {
      val sc = spark.sparkContext
      val options = GraftShim.csvWriteOptions(spark)
      val schemas = reports.map(_.schema)
      schemas.foreach(GraftShim.checkCsvWritable)
      val planned = GraftShim.planAll(spark, reports, PlanExecution, "graft-export-plan")
      val renderers = planned.zip(schemas).map { case (rows, schema) =>
        // a frame with no partitions still gets its header-only CSV, as
        // Spark's csv sink writes one for it
        val parts = if (rows.getNumPartitions > 0) rows
          else sc.parallelize(Seq.empty[InternalRow], 1)
        parts.mapPartitionsWithIndex((i, it) => Iterator(renderPart(i, it, schema, options)))
      }
      val prior = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(WriteJob)
      // one byte array per partition, in union order: report by
      // report, each in partition order
      val all = try GraftShim.withSqlConf(spark)(sc.union(renderers).collect())
        finally sc.setJobDescription(prior)
      val ends = renderers.scanLeft(0)(_ + _.getNumPartitions)
      ends.zip(ends.tail).map { case (from, until) => all.slice(from, until).toSeq }
    }

  /** One partition's share of a report's CSV, as Spark's
    * `CsvOutputWriter` writes it through `UnivocityGenerator`: every
    * row, after the header in partition 0 only. Concatenated in
    * partition order, the shares are the csv sink's part files merged
    * under one header.
    */
  private def renderPart(i: Int, rows: Iterator[InternalRow],
      schema: StructType, options: CSVOptions): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val gen = new UnivocityGenerator(schema,
      new OutputStreamWriter(bytes, Charset.forName(options.charset)), options)
    try {
      if (i == 0) gen.writeHeaders()
      rows.foreach(gen.write)
    } finally gen.close()
    bytes.toByteArray
  }
}
