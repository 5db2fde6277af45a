package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Every dev main under `graft/tools/` is named in README's `tools/`
  * line, so a one-off main cannot land without a reader seeing it. */
class ToolsInReadmeSpec extends AnyFunSuite {

  test("every object with a main under src/main/scala/graft/tools is named in README") {
    val root = Paths.get("src/main/scala/graft/tools")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} is not the tools source root")
    val stream = Files.list(root)
    val sources = try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally stream.close()
    // a main belongs to the last object declared before it
    val objectDecl = """\bobject\s+(\w+)""".r
    val mains = for {
      f <- sources
      src = Files.readString(f)
      at <- """\bdef\s+main\s*\(""".r.findAllMatchIn(src).map(_.start).toList
    } yield objectDecl.findAllMatchIn(src.substring(0, at)).toList.last.group(1)
    assert(mains.size >= 10 && mains.contains("Profile"), mains)
    // the README bullet that starts with the tools path, up to the next bullet
    val readme = Files.readAllLines(Paths.get("README.md")).asScala.toList
    val line = readme.dropWhile(!_.startsWith("- `src/main/scala/graft/tools/`")) match {
      case head :: rest => (head :: rest.takeWhile(l => l.startsWith("  ") && l.trim.nonEmpty)).mkString(" ")
      case Nil => fail("README has no `src/main/scala/graft/tools/` line")
    }
    val missing = mains.filterNot(m => line.contains(s"`$m`"))
    assert(missing.isEmpty, s"tools mains missing from README's tools/ line: ${missing.mkString(", ")}")
  }
}
