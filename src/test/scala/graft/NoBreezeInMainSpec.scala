package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The library has one arithmetic for the RBM — RbmCore's kernels.
  * Breeze stays a test-side reference only, so no main source may
  * import or name it. */
class NoBreezeInMainSpec extends AnyFunSuite {

  test("no file under src/main/scala imports or names breeze") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} is not the main source root")
    val stream = Files.walk(root)
    val sources = try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally stream.close()
    assert(sources.size > 100)
    val word = "\\bbreeze\\b".r
    val hits = for {
      f: Path <- sources
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      if word.findFirstIn(line).isDefined
    } yield s"$f:${n + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
