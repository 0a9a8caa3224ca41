package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source-tree contract for the program's entry points: one session
  * factory and an index of every main. Hand-built sessions drift apart
  * (the oracle once ran without the bench's adaptive config), and mains
  * nobody runs or tests rot; this fails when either comes back.
  */
class SourceTreeSpec extends AnyFunSuite {
  private val mainRoot = Paths.get("src/main/scala/graft")

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("SparkSession.builder appears in src/main/scala only in tools/ToolSession.scala") {
    val sites = scalaFiles("src/main/scala").flatMap { p =>
      "SparkSession.builder".r.findAllMatchIn(read(p))
        .map(_ => mainRoot.relativize(p).toString)
    }
    assert(sites === Seq("tools/ToolSession.scala"),
      "open sessions through graft.tools.ToolSession.local()")
  }

  test("every main is named in README's Running block or referenced from src/test") {
    val readme = read(Paths.get("README.md"))
    val start = readme.indexOf("## Running")
    assert(start >= 0, "README.md has no '## Running' section")
    val rest = readme.substring(start + 3)
    val end = rest.indexOf("\n## ")
    val running = if (end >= 0) rest.substring(0, end) else rest
    val tests = scalaFiles("src/test/scala")
      .filterNot(_.getFileName.toString == "SourceTreeSpec.scala").map(read)
    val objectDecl = """(?m)^\s*object\s+(\w+)""".r
    val mains = scalaFiles("src/main/scala").flatMap { p =>
      val text = read(p)
      val pkg = """(?m)^package\s+([\w.]+)""".r.findFirstMatchIn(text)
        .map(_.group(1)).getOrElse("")
      val objects = objectDecl.findAllMatchIn(text).map(m => (m.start, m.group(1))).toSeq
      """def main\(""".r.findAllMatchIn(text).flatMap { m =>
        objects.filter(_._1 < m.start).lastOption.map(o => (pkg, o._2))
      }.toSeq
    }.distinct
    assert(mains.size >= 10, s"main scan found too few entry points: $mains")
    val orphans = mains.filterNot { case (pkg, name) =>
      val qualified = s"$pkg.$name"
      ("(?<![\\w.])" + java.util.regex.Pattern.quote(qualified) + "(?!\\w)").r
        .findFirstIn(running).isDefined ||
        tests.exists(("\\b" + name + "\\b").r.findFirstIn(_).isDefined)
    }.map { case (pkg, name) => s"$pkg.$name" }
    assert(orphans.isEmpty,
      s"mains neither in README's Running block nor referenced from src/test: $orphans")
  }
}
