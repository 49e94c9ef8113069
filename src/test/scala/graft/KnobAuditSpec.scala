package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Guard against process-wide knobs: the library reads JVM properties
  * and environment variables only for the deployment settings and
  * Bench's driver contract. A new `sys.props` / `sys.env` read is a
  * second code path nobody times — pass the choice as an argument (a
  * gate verdict) or a session conf instead. The measurement tools
  * under `tools/` are CLIs, not library code: they have their own
  * allow-list of CLI knobs, so a tool cannot grow a new one unseen.
  */
class KnobAuditSpec extends AnyFunSuite {

  private val Allowed = Set(
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_QUERIES", "SPARK_GRAFT_WARMUP")
  private val ToolsAllowed = Set(
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_PARTITIONS", "SPARK_GRAFT_CONF",
    "SPARK_GRAFT_STAGE_ALL", "SPARK_GRAFT_TAG_EVERY", "java.class.path")

  private val Access =
    """(sys\.props|sys\.env|System\.getProperty|System\.getenv)""".r
  // the accessor forms that name their key with a string literal
  private val Keyed =
    """^(?:\.get|\.getOrElse|\.contains|\.apply)?\s*\(\s*"([^"]+)"""".r

  private val Root = new java.io.File("src/main/scala/graft")

  private def sources(d: java.io.File, skipTools: Boolean): Seq[java.io.File] =
    Option(d.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) {
        if (skipTools && f.getName == "tools") Nil else sources(f, skipTools)
      }
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  /** Each read → its literal key, or a marker naming an unkeyed read. */
  private def keysRead(files: Seq[java.io.File]): Set[String] = (for {
    f <- files
    (line, n) <- java.nio.file.Files.readAllLines(f.toPath)
      .asScala.zipWithIndex
    trimmed = line.trim
    if !trimmed.startsWith("//") && !trimmed.startsWith("*")
    m <- Access.findAllMatchIn(line)
  } yield Keyed.findFirstMatchIn(line.substring(m.end))
    .map(_.group(1))
    .getOrElse(s"unkeyed ${m.matched} at ${f.getName}:${n + 1}")).toSet

  private def assertKeys(reads: Set[String], allowed: Set[String]): Unit =
    assert(reads == allowed,
      s"unexpected: ${(reads -- allowed).mkString(", ")}; " +
        s"missing: ${(allowed -- reads).mkString(", ")}")

  test("library code reads only the deployment and Bench env keys") {
    assert(Root.isDirectory, s"run from the repo root (${Root.getAbsolutePath})")
    val files = sources(Root, skipTools = true)
    assert(files.exists(_.getName == "Bench.scala"), "scan found no sources")
    assertKeys(keysRead(files), Allowed)
  }

  test("tools read only their own CLI knobs") {
    val tools = new java.io.File(Root, "tools")
    assert(tools.isDirectory, s"run from the repo root (${tools.getAbsolutePath})")
    val files = sources(tools, skipTools = false)
    assert(files.exists(_.getName == "StreamScale.scala"), "scan found no tools")
    assertKeys(keysRead(files), ToolsAllowed)
  }
}
