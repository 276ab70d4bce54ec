package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every main under `graft.tools` has something that runs it: a usage
  * line in the verify SKILL recipe or the README, a script under
  * `tools/`, a spec that imports or calls it, or another main that
  * forks it. A main that only a comment cites is a one-round probe and
  * belongs in scratch, not in `src/main`. Reads the sources as text; no
  * Spark session.
  */
class ToolsRunnerSpec extends AnyFunSuite {
  private def read(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")

  private def filesUnder(dir: String, suffix: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(suffix))
      .toList
    finally walk.close()
  }

  /** Source text without comment lines (scaladoc and `//`), so a
    * citation in a comment does not count as a runner.
    */
  private def code(p: Path): String =
    read(p).linesIterator.filterNot { l =>
      val t = l.trim
      t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
    }.mkString("\n")

  /** (object name, source file) for every tool object with a `main`. */
  private val mains: Seq[(String, Path)] =
    filesUnder("src/main/scala/graft/tools", ".scala").flatMap { p =>
      val src = code(p)
      """(?m)^object (\w+)""".r.findAllMatchIn(src).map(_.group(1))
        .filter(_ => src.contains("def main("))
        .map(_ -> p)
    }

  test("the tools directory holds mains") {
    assert(mains.map(_._1).contains("PlanAudit"), mains)
  }

  test("every graft.tools main has a runner") {
    val docs = Seq(Paths.get(".claude/skills/verify/SKILL.md"),
      Paths.get("README.md")) ++ filesUnder("tools", "")
    val docText = docs.map(read)
    val specCode = filesUnder("src/test/scala", ".scala").map(code)
    val unrun = mains.filterNot { case (name, file) =>
      val fq = s"graft.tools.$name"
      val cited = ("""\b""" + java.util.regex.Pattern.quote(fq) + """\b""").r
      (docText ++ specCode).exists(cited.findFirstIn(_).isDefined) ||
        mains.exists { case (_, other) =>
          other != file && code(other).contains("\"" + fq + "\"")
        }
    }.map(_._1)
    assert(unrun.isEmpty,
      s"mains nothing runs (add a SKILL recipe, script or spec): $unrun")
  }
}
