package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, FileInputStream, FileOutputStream, OutputStreamWriter}
import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

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
  * writes). The parts are then stream-concatenated on the driver —
  * file-level IO, never rows-in-memory, so a 100 TB export streams
  * through. The zip stage is also streaming (4 MiB buffers). The
  * package appears under its final name only once it is complete; a
  * failed run deletes what it wrote and leaves an earlier package of
  * the same tag in place.
  */
object ExportJob {

  final case class Result(
      packagePath: Path,
      innerZip: String,
      checksum: String,
      csvFiles: Seq[String],
      dataDirs: Seq[String] = Nil)

  /** Reports at or under this many bytes merge to one CSV on the
    * driver (the reference's facility-sized artifact — a byte-stream
    * concat, seconds at worst); past it the driver funnel would
    * SERIALIZE a distributed write through one machine, so the report
    * ships as its parallel part files + a manifest instead.
    */
  val MergeBudgetBytes: Long = 1L << 30

  /** The SQL execution name of a report's planning. */
  val PlanExecution = "graft export: plan report"

  /** The job description of the one job that writes every part file. */
  val WriteJob = "graft export: write CSV parts"

  def run(
      spark: SparkSession,
      queries: Map[String, DataFrame],
      constants: Seq[(String, String)],
      outDir: Path,
      tag: String,
      mergeBudgetBytes: Long = MergeBudgetBytes): Result = {
    Files.createDirectories(outDir)
    val reports = queries.toSeq.sortBy(_._1).map { case (name, df) =>
      name -> constants.foldLeft(df) { case (d, (k, v)) => d.withColumn(k, lit(v)) }
    }
    // everything this run has written, each path recorded once the run
    // has created it, so that a failure anywhere (a report's job, a
    // merge, the zip) deletes exactly that and nothing an earlier run
    // left, such as the previous package of the same tag
    val created = ArrayBuffer[Path]()
    def touch(p: Path): Path = {
      Files.newOutputStream(p).close()
      created += p
      p
    }
    try {
      val partDirs = reports.map { case (name, _) =>
        val partDir = outDir.resolve(s".parts_$name")
        deleteRecursively(partDir)
        created += Files.createDirectories(partDir)
        partDir
      }
      writeParts(spark, reports.map(_._2).zip(partDirs))
      val dataDirs = ArrayBuffer[Path]()
      val csvs = reports.map(_._1).zip(partDirs).map { case (name, partDir) =>
        val parts = listParts(partDir)
        val totalBytes = parts.map(Files.size(_)).sum
        if (totalBytes <= mergeBudgetBytes) {
          val csv = touch(outDir.resolve(s"${name}_$tag.csv"))
          mergeCsvParts(parts, csv)
          deleteRecursively(partDir)
          csv
        } else {
          // manifest-at-scale path: the part files ARE the report (each
          // carries its own header — spark.read.csv(dir) reads the set
          // back as one table); the driver only renames them into place
          // and writes a name,bytes,sha256 manifest. The manifest rides
          // the checksummed zip in the CSV's stead, so the package
          // checksum TRANSITIVELY attests every part's content (the
          // reference contract: its checksum covers the full export) —
          // the data dir stays beside the package and nothing
          // corpus-sized moves through one machine.
          val dataDir = outDir.resolve(s"${name}_$tag")
          deleteRecursively(dataDir)
          created += Files.createDirectories(dataDir)
          val placed = parts.zipWithIndex.map { case (p, i) =>
            val t = dataDir.resolve(f"part-$i%05d.csv")
            Files.move(p, t)
            t
          }
          deleteRecursively(partDir)
          dataDirs += dataDir
          // per-part digests run DISTRIBUTED (one task per part, where
          // the part lives on a shared FS) — the driver hashes nothing:
          // it only collects parts-many 64-char strings
          val digests = partDigests(spark, placed)
          val manifest = touch(outDir.resolve(s"${name}_${tag}_manifest.csv"))
          val lines = "file,bytes,sha256" +: placed.map(p =>
            s"${dataDir.getFileName}/${p.getFileName},${Files.size(p)}," +
              digests(p.toString))
          Files.write(manifest,
            lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
          manifest
        }
      }

      val innerZip = touch(outDir.resolve(s"$tag.zip"))
      zip(innerZip, csvs.map(p => p.getFileName.toString -> p))
      val checksum = sha256(innerZip)
      val checksumFile = touch(outDir.resolve(s"${tag}_checksum.txt"))
      Files.write(checksumFile, checksum.getBytes(StandardCharsets.UTF_8))
      // the package is written under a hidden name and renamed into
      // place last, so a reader (or a crash) never sees a torn one
      val staged = touch(outDir.resolve(s".${tag}_packaged.zip.tmp"))
      zip(staged, Seq(
        innerZip.getFileName.toString -> innerZip,
        checksumFile.getFileName.toString -> checksumFile))
      // mirror the reference's cleanup of intermediates (export.py:204-210,317-326)
      Files.deleteIfExists(innerZip)
      Files.deleteIfExists(checksumFile)
      csvs.foreach(Files.deleteIfExists(_))
      val pkg = Files.move(staged, outDir.resolve(s"${tag}_packaged.zip"),
        StandardCopyOption.ATOMIC_MOVE)
      Result(pkg, s"$tag.zip", checksum, csvs.map(_.getFileName.toString),
        dataDirs.toSeq.map(_.getFileName.toString))
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

  /** SHA-256 of every part file, computed on executors — one task per
    * part (the parts of a >1 GiB report live on a shared filesystem
    * in a real deployment; hashing them serially on the driver would
    * re-serialize the distributed write the manifest path exists to
    * avoid). Returns path → hex digest.
    */
  private def partDigests(spark: SparkSession,
      parts: Seq[Path]): Map[String, String] = {
    import spark.implicits._
    spark.createDataset(parts.map(_.toString))
      .repartition(parts.size)
      .map(p => (p, sha256(Paths.get(p))))
      .collect().toMap
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

  /** Concatenate Spark csv part files into one CSV, keeping a single
    * header row. Bytes are copied verbatim after the header line of
    * each part (a line-based merge would normalize newlines inside
    * quoted multiline fields); O(buffer) memory.
    */
  private[graft] def mergeCsvParts(parts: Seq[Path], target: Path): Unit = {
    val out = new BufferedOutputStream(new FileOutputStream(target.toFile), 4 << 20)
    try {
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
    } finally out.close()
  }

  private def zip(target: Path, entries: Seq[(String, Path)]): Unit = {
    val zos = new ZipOutputStream(new BufferedOutputStream(
      new FileOutputStream(target.toFile), 4 << 20))
    try entries.foreach { case (name, p) =>
      zos.putNextEntry(new ZipEntry(name))
      val in = new BufferedInputStream(new FileInputStream(p.toFile), 4 << 20)
      try {
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n >= 0) { zos.write(buf, 0, n); n = in.read(buf) }
      } finally in.close()
      zos.closeEntry()
    } finally zos.close()
  }

  def sha256(p: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val in = new BufferedInputStream(new FileInputStream(p.toFile), 4 << 20)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
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
