package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every main the program ships is one README's `## Running` block
  * tells a reader how to run: a main nobody documents is a main nobody
  * runs. A plain file scan, no Spark session. */
class ToolSurfaceSpec extends AnyFunSuite {

  /** Fully qualified names of the objects under `src/main/scala` that
    * define `def main(`: each main is owned by the nearest `object`
    * declared above it in its file. */
  private def mains(): Seq[String] = {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    val Pkg = """(?m)^package\s+([\w.]+)""".r
    val Obj = """\bobject\s+(\w+)""".r
    files.flatMap { f =>
      val src = Files.readString(f)
      val pkg = Pkg.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
      val objects = Obj.findAllMatchIn(src).map(m => (m.start, m.group(1)))
        .toSeq
      """def main\(""".r.findAllMatchIn(src).flatMap { m =>
        objects.filter(_._1 < m.start).lastOption.map(pkg + _._2)
      }.toSeq
    }.distinct.sorted
  }

  private def runningBlock(): String = {
    val readme = Files.readString(Paths.get("README.md"))
    val start = readme.indexOf("\n## Running")
    assert(start >= 0, "README.md has no `## Running` section")
    val next = readme.indexOf("\n## ", start + 1)
    readme.substring(start, if (next < 0) readme.length else next)
  }

  test("the main scan finds the harness entry points") {
    val found = mains()
    assert(Seq("graft.Bench", "graft.Verify").forall(found.contains), found)
  }

  test("every main under src/main is named in README's Running block") {
    val block = runningBlock()
    val missing = mains().filterNot { m =>
      s"runMain \\Q$m\\E\\b".r.findFirstIn(block).isDefined
    }
    assert(missing.isEmpty,
      "mains with no `runMain` line in README.md's ## Running: " +
        missing.mkString(", "))
  }
}
