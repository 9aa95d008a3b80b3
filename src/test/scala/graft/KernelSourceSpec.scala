package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Guards the one-kernel-per-verb layout: the UDF and fold-of-Columns
  * formulations of the codegen'd expressions are test oracles and live in
  * `src/test` (`graft.functions.Oracles`), the expression kernels in
  * `SketchExpressions.scala` call the `graft.core` loops instead of
  * walking unsigned order themselves, and every kernel enters Catalyst as
  * a `StaticInvoke` built in that one file, never as a hand-written
  * expression class. */
class KernelSourceSpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala")

  /** "file:line" of every line under `root` that `pattern` matches. */
  private def matches(pattern: scala.util.matching.Regex,
      keep: java.nio.file.Path => Boolean = _ => true): Seq[String] = {
    assert(java.nio.file.Files.isDirectory(root),
      s"source root not found from ${java.nio.file.Paths.get("").toAbsolutePath}")
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala.filter(f => f.toString.endsWith(".scala") && keep(f)).toSeq
      .flatMap { f =>
        java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if pattern.findFirstIn(line).isDefined => s"${root.relativize(f)}:${i + 1}"
        }
      }
    finally files.close()
  }

  test("src/main defines no *Udf or *FoldForm oracle") {
    val found = matches("""def \w*Udf\b|def \w*FoldForm\b""".r)
    assert(found.isEmpty, s"test oracles defined in src/main: ${found.mkString(", ")}")
  }

  test("SketchExpressions.scala has no unsigned walk of its own") {
    assert(java.nio.file.Files.isRegularFile(
      root.resolve("graft/functions/expressions/SketchExpressions.scala")))
    // compareUnsigned is the merge walk; `^ MIN_VALUE` is the sign-flip
    // behind an unsigned cut search
    val found = matches("""compareUnsigned|\^\s*(java\.lang\.Long\.MIN_VALUE|Long\.MinValue)""".r,
      _.getFileName.toString == "SketchExpressions.scala")
    assert(found.isEmpty, s"unsigned walk outside graft.core: ${found.mkString(", ")}")
  }

  test("kernels enter Catalyst only through the one StaticInvoke builder") {
    val handWritten = matches(
      """doGenCode|extends\s+(Unary|Binary|Ternary|Quaternary)Expression""".r)
    assert(handWritten.isEmpty, s"hand-written expressions: ${handWritten.mkString(", ")}")
    val builds = matches("""StaticInvoke\(""".r)
    assert(builds.length === 1 &&
      builds.head.startsWith("graft/functions/expressions/SketchExpressions.scala:"), builds)
  }
}
