package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guard against library code that only specs reach: every top-level
  * object, class or trait under `src/main/scala` must be named by
  * other `src/main` code — another file, or another top-level
  * definition of its own file (a class and its companion object count
  * as one definition). The roots are the objects that define `main`
  * (Verify, Bench, the export/pipeline/streaming mains and the tools)
  * and the classes Spark loads by name from a conf string. A spec
  * alone does not keep code alive: a reference twin a parity spec
  * compares against lives in `src/test`, beside that spec.
  */
class ReachAuditSpec extends AnyFunSuite {
  import ReachAuditSpec.Def

  // loaded by Spark from the `spark.sql.extensions` conf string
  private val LoadedByName = Set("GraftExtensions")

  private val Root = new java.io.File("src/main/scala")

  private val Decl =
    ("""(?m)^(?:(?:private(?:\[\w+\])?|protected|final|sealed|abstract|case|implicit)\s+)*""" +
      """(object|class|trait)\s+(\w+)""").r

  private def sources(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  /** A file's text without comments: a name only a comment mentions is
    * not a use. String literals stay, so a class loaded by a name
    * string in `src/main` counts as named.
    */
  private def code(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("(?m)(^|\\s)//.*$", "$1")

  private def defs(file: String, text: String): Seq[Def] = {
    val decls = Decl.findAllMatchIn(text).toSeq
    val ends = decls.drop(1).map(_.start) :+ text.length
    decls.zip(ends).groupBy(_._1.group(2)).toSeq.map { case (name, ds) =>
      Def(file, name, ds.exists(_._1.group(1) == "object"),
        ds.map { case (m, end) => (m.start, end) })
    }
  }

  test("every top-level definition in src/main is named by other src/main code") {
    assert(Root.isDirectory, s"run from the repo root (${Root.getAbsolutePath})")
    val texts = sources(Root).map(f => f.getPath -> code(f)).toMap
    val all = texts.toSeq.flatMap { case (f, t) => defs(f, t) }
    assert(all.exists(_.name == "SparkEntry"), "scan found no definitions")
    assert(LoadedByName.forall(n => all.exists(_.name == n)),
      s"stale name-loaded exemption: ${LoadedByName.mkString(", ")}")

    def named(d: Def): Boolean = {
      val word = ("\\b" + java.util.regex.Pattern.quote(d.name) + "\\b").r
      val own = texts(d.file)
      val cuts = d.spans.sortBy(_._1)
      // its own file, minus its own definitions
      val outside = (0 +: cuts.map(_._2)).zip(cuts.map(_._1) :+ own.length)
        .map { case (a, b) => own.substring(a, b) }.mkString("\n")
      word.findFirstIn(outside).isDefined ||
        texts.exists { case (f, t) => f != d.file && word.findFirstIn(t).isDefined }
    }
    def isMain(d: Def): Boolean = d.isObject && d.spans.exists { case (s, e) =>
      texts(d.file).substring(s, e).contains("def main(")
    }

    val unreached = all.filterNot(d => isMain(d) || LoadedByName(d.name) || named(d))
      .map(d => s"${d.name} (${d.file})").sorted
    assert(unreached.isEmpty, "reached from specs only (delete it, or move a " +
      "spec's reference twin into src/test): " + unreached.mkString(", "))
  }
}

object ReachAuditSpec {
  /** A top-level name in one file, with the spans of its definitions. */
  final case class Def(file: String, name: String, isObject: Boolean,
      spans: Seq[(Int, Int)])
}
