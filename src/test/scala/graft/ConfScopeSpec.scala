package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Guards the one way the library scopes session conf: work that needs
  * other conf values runs in a child session from `Bridge.scoped`, so the
  * only session-conf writes in `src/main/scala` are the ones inside that
  * function. A new `conf.set`/`conf.unset` elsewhere would mutate a
  * caller's shared session. Session builders use `.config(`, which this
  * scan does not match. */
class ConfScopeSpec extends AnyFunSuite {

  private val write = """conf\.(?:set|unset)\(""".r

  /** (file, 1-based line) of every session-conf write under `root`, split
    * into those inside `def scoped` (its signature line through the line
    * that closes it, the first one back at the member's indentation) and
    * the rest. */
  private def confWrites(root: java.nio.file.Path): (Seq[String], Seq[String]) = {
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq
      var indent = -1 // indentation of the enclosing `def scoped`, -1 outside
      lines.zipWithIndex.flatMap { case (line, i) =>
        val lead = line.takeWhile(_ == ' ').length
        val opensScoped = line.trim.startsWith("def scoped(")
        if (opensScoped) indent = lead
        val inScoped = indent >= 0
        if (inScoped && !opensScoped && line.trim.nonEmpty && lead <= indent) indent = -1
        if (write.findFirstIn(line).isDefined) Some((inScoped, s"${root.relativize(f)}:${i + 1}"))
        else None
      }
    }.partition(_._1) match { case (in, out) => (in.map(_._2), out.map(_._2)) }
    finally files.close()
  }

  test("src/main sets session conf only inside Bridge.scoped") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"source root not found from ${java.nio.file.Paths.get("").toAbsolutePath}")
    val (inScoped, elsewhere) = confWrites(root)
    assert(elsewhere.isEmpty, s"session conf written outside Bridge.scoped: ${elsewhere.mkString(", ")}")
    assert(inScoped.nonEmpty && inScoped.forall(_.startsWith("org/apache/spark/sql/graft/Bridge.scala:")),
      s"expected the writes inside Bridge.scoped, found $inScoped")
  }
}
