package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Guards the set of runnable mains: adding one (a dev probe, a timing
  * harness) must be a deliberate edit of this list, not a side effect.
  * Per-layer timing belongs in `perfbench/`, scaling reads in
  * [[SubmitFlagship]], plan dumps in [[BenchExtra]]'s plans mode. */
class EntryPointsSpec extends AnyFunSuite {

  private val expected = Set("Bench", "Verify", "Smoke", "BenchExtra",
    "SearchCli", "ScaffoldCli", "SubmitFlagship").map("graft." + _)

  /** `package.Object` for every object in `src/main/scala` that defines
    * `def main`: the main belongs to the nearest top-level object declared
    * above it. */
  private def mainObjects(root: java.nio.file.Path): Set[String] = {
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
      val src = java.nio.file.Files.readString(f)
      val pkg = """(?m)^package\s+([\w.]+)""".r.findFirstMatchIn(src).map(_.group(1))
      val objects = """(?m)^(?:\w+[ \t]+)*object[ \t]+(\w+)""".r.findAllMatchIn(src).toSeq
      """\bdef\s+main\s*\(""".r.findAllMatchIn(src).flatMap { m =>
        objects.takeWhile(_.start < m.start).lastOption.map { o =>
          (pkg.toSeq :+ o.group(1)).mkString(".")
        }
      }
    }.toSet
    finally files.close()
  }

  test("src/main defines exactly the seven documented entry points") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"source root not found from ${java.nio.file.Paths.get("").toAbsolutePath}")
    assert(mainObjects(root) === expected)
  }
}
