package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Guard against process-wide knobs: the library reads JVM properties
  * and environment variables only for the deployment settings and
  * Bench's driver contract. A new `sys.props` / `sys.env` read is a
  * second code path nobody times — pass the choice as an argument (a
  * gate verdict) or a session conf instead. The measurement tools
  * under `tools/` are exempt: they are CLIs, not library code.
  */
class KnobAuditSpec extends AnyFunSuite {

  private val Allowed = Set(
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_QUERIES", "SPARK_GRAFT_WARMUP")

  private val Access =
    """(sys\.props|sys\.env|System\.getProperty|System\.getenv)""".r
  // the accessor forms that name their key with a string literal
  private val Keyed =
    """^(?:\.get|\.getOrElse|\.contains|\.apply)?\s*\(\s*"([^"]+)"""".r

  private def sources(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) { if (f.getName == "tools") Nil else sources(f) }
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  test("library code reads only the deployment and Bench env keys") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"run from the repo root (${root.getAbsolutePath})")
    val files = sources(root)
    assert(files.exists(_.getName == "Bench.scala"), "scan found no sources")
    // each read → its literal key, or a marker naming an unkeyed read
    val reads = for {
      f <- files
      (line, n) <- java.nio.file.Files.readAllLines(f.toPath)
        .asScala.zipWithIndex
      trimmed = line.trim
      if !trimmed.startsWith("//") && !trimmed.startsWith("*")
      m <- Access.findAllMatchIn(line)
    } yield Keyed.findFirstMatchIn(line.substring(m.end))
      .map(_.group(1))
      .getOrElse(s"unkeyed ${m.matched} at ${f.getName}:${n + 1}")
    assert(reads.toSet == Allowed,
      s"unexpected: ${(reads.toSet -- Allowed).mkString(", ")}; " +
        s"missing: ${(Allowed -- reads.toSet).mkString(", ")}")
  }
}
