package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, FileInputStream, OutputStream, OutputStreamWriter}
import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.{DigestOutputStream, MessageDigest}
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.TaskContext
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
  * Scale: the driver plans every report, one after another, up to its
  * final stage; then ONE Spark job runs every report's final stage
  * together, each task writing its partition's CSV part file with
  * Spark's own CSV generator and options (the bytes `df.write.csv`
  * writes). The driver then writes the package in one streaming pass:
  * each report's parts are concatenated straight into its entry of the
  * inner zip, which is itself written into the package's `<tag>.zip`
  * entry and digested on the way — file-level IO, never rows-in-memory,
  * and no intermediate CSV, inner zip or checksum file on disk
  * (`ZipOutputStream` switches to ZIP64 on its own past 4 GiB). The
  * package appears under its final name only once it is complete; a
  * failed run deletes what it wrote and leaves an earlier package of
  * the same tag in place.
  */
object ExportJob {

  final case class Result(
      packagePath: Path,
      innerZip: String,
      checksum: String,
      csvFiles: Seq[String])

  /** The SQL execution name of a report's planning. */
  val PlanExecution = "graft export: plan report"

  /** The job description of the one job that writes every part file. */
  val WriteJob = "graft export: write CSV parts"

  def run(
      spark: SparkSession,
      queries: Map[String, DataFrame],
      constants: Seq[(String, String)],
      outDir: Path,
      tag: String): Result = {
    Files.createDirectories(outDir)
    // one projection appends (or replaces in place) every constant
    val constantCols = ListMap(constants.map { case (k, v) => k -> lit(v) }: _*)
    val reports = queries.toSeq.sortBy(_._1).map { case (name, df) =>
      name -> df.withColumns(constantCols)
    }
    // everything this run has written, each path recorded once the run
    // has created it, so that a failure anywhere (a report's job, the
    // package) deletes exactly that and nothing an earlier run left,
    // such as the previous package of the same tag
    val created = ArrayBuffer[Path]()
    try {
      val partDirs = reports.map { case (name, _) =>
        val partDir = outDir.resolve(s".parts_$name")
        deleteRecursively(partDir)
        created += Files.createDirectories(partDir)
        partDir
      }
      writeParts(spark, reports.map(_._2).zip(partDirs))
      val csvs = reports.map { case (name, _) => s"${name}_$tag.csv" }
      // the package is written under a hidden name and renamed into
      // place last, so a reader (or a crash) never sees a torn one
      val staged = outDir.resolve(s".${tag}_packaged.zip.tmp")
      val out = Files.newOutputStream(staged)
      created += staged
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
          csvs.zip(partDirs).foreach { case (csv, partDir) =>
            inner.putNextEntry(new ZipEntry(csv))
            mergeCsvParts(listParts(partDir), inner)
            inner.closeEntry()
            deleteRecursively(partDir)
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
        created.foreach { p =>
          try deleteRecursively(p) catch { case c: Throwable => e.addSuppressed(c) }
        }
        throw e
    }
  }

  /** Write every report's part files into its part dir. The driver
    * plans the reports one after another, in the given order: each
    * report's Catalyst phases and AQE stage jobs (broadcasts, shuffle
    * map stages) run on this thread, in their own SQL execution, and
    * finish before the next report starts, so no planning ever runs
    * while a job does. What is left of each report is its final
    * stage; one job runs them all, so their tasks share the cores
    * instead of queueing report by report.
    */
  private def writeParts(spark: SparkSession, reports: Seq[(DataFrame, Path)]): Unit = {
    val sc = spark.sparkContext
    val options = GraftShim.csvWriteOptions(spark)
    val writers = reports.map { case (df, partDir) =>
      val schema = df.schema
      GraftShim.checkCsvWritable(schema)
      val rows = GraftShim.plannedRows(df, PlanExecution)
      // a frame with no partitions still gets its header-only part, as
      // Spark's csv sink writes one for it
      val parts = if (rows.getNumPartitions > 0) rows
        else sc.parallelize(Seq.empty[InternalRow], 1)
      val dir = partDir.toString
      parts.mapPartitionsWithIndex { (i, it) =>
        writePart(Paths.get(dir), i, it, schema, options)
        Iterator.empty[Unit]
      }
    }
    if (writers.nonEmpty) {
      val prior = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(WriteJob)
      try GraftShim.withSqlConf(spark)(sc.union(writers).count())
      finally sc.setJobDescription(prior)
    }
  }

  /** One task's part file, as Spark's `CsvOutputWriter` writes it:
    * the header, then every row, through `UnivocityGenerator`. Like
    * Spark's csv sink, an empty partition writes no file unless it is
    * partition 0 (the header-only CSV of a 0-row report). The bytes go
    * to a hidden attempt-named file first and are renamed into place,
    * so a retried or failed attempt never leaves a torn part.
    */
  private def writePart(dir: Path, i: Int, rows: Iterator[InternalRow],
      schema: StructType, options: CSVOptions): Unit =
    if (i == 0 || rows.hasNext) {
      val tmp = dir.resolve(f".part-$i%05d.${TaskContext.get().taskAttemptId()}.tmp")
      try {
        val gen = new UnivocityGenerator(schema, new OutputStreamWriter(
          new BufferedOutputStream(Files.newOutputStream(tmp), 1 << 16),
          Charset.forName(options.charset)), options)
        try {
          gen.writeHeaders()
          rows.foreach(gen.write)
        } finally gen.close()
        Files.move(tmp, dir.resolve(f"part-$i%05d.csv"), StandardCopyOption.ATOMIC_MOVE)
      } finally Files.deleteIfExists(tmp)
    }

  private[graft] def listParts(partDir: Path): Seq[Path] = {
    // Files.list holds an OS directory fd until closed — a leak per
    // call in a long-lived driver running repeated exports
    val s = Files.list(partDir)
    try s.iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .toSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }

  /** Concatenate Spark csv part files into one CSV on `out`, keeping a
    * single header row. Bytes are copied verbatim after the header line
    * of each part (a line-based merge would normalize newlines inside
    * quoted multiline fields); O(buffer) memory. `out` stays open.
    */
  private[graft] def mergeCsvParts(parts: Seq[Path], out: OutputStream): Unit = {
    var first = true
    parts.foreach { p =>
      val in = new BufferedInputStream(new FileInputStream(p.toFile), 4 << 20)
      try {
        // scan past the header line (headers never contain newlines)
        var b = in.read()
        val header = new java.io.ByteArrayOutputStream()
        while (b >= 0 && b != '\n') { header.write(b); b = in.read() }
        if (first && (header.size() > 0 || b == '\n')) {
          out.write(header.toByteArray); out.write('\n'); first = false
        }
        // raw byte copy of the remainder
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    }
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.foreach(deleteRecursively)
      finally s.close()
    }
    Files.deleteIfExists(p)
  }
}
