package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.SparkEntry
import graft.operators.SparkTestSession

/** Guards the one stream harness (`Streaming.stream`): every st-query
  * opens its source and its sink there, and a run cleans up its input
  * copy, checkpoint and sink dir. */
class StreamHarnessSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val root = java.nio.file.Paths.get("src/main/scala")

  /** "file:line" of every line under `root` that `pattern` matches. */
  private def matches(pattern: scala.util.matching.Regex): Seq[String] = {
    assert(java.nio.file.Files.isDirectory(root),
      s"source root not found from ${java.nio.file.Paths.get("").toAbsolutePath}")
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if pattern.findFirstIn(line).isDefined => s"${root.relativize(f)}:${i + 1}"
      }
    }
    finally files.close()
  }

  /** "file:line" of every line of the harness: its signature line through
    * the line before the first one back at its indentation. */
  private def harnessLines: Set[String] = {
    val file = "graft/queries/Streaming.scala"
    val lines = java.nio.file.Files.readAllLines(root.resolve(file)).asScala.toIndexedSeq
    val start = lines.indexWhere(_.trim.startsWith("private def stream("))
    assert(start >= 0, s"no harness in $file")
    val indent = lines(start).takeWhile(_ == ' ').length
    val end = lines.indexWhere(l => l.trim.nonEmpty && l.takeWhile(_ == ' ').length <= indent,
      start + 1)
    (start until end).map(i => s"$file:${i + 1}").toSet
  }

  test("src/main has one readStream and one writeStream site, both in the harness") {
    val reads = matches("""\.readStream\b""".r)
    val writes = matches("""\.writeStream\b""".r)
    assert(reads.size === 1, reads)
    assert(writes.size === 1, writes)
    val harness = harnessLines
    assert((reads ++ writes).forall(harness), s"outside the harness: ${reads ++ writes}")
    val stDirs = matches("""createTempDirectory\("st0""".r)
    assert(stDirs.isEmpty, s"per-query stream temp dirs: ${stDirs.mkString(", ")}")
  }

  test("an st05 run leaves no stream input or checkpoint dir in the temp dir") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def streamDirs: Set[String] =
      Option(tmp.list()).toSeq.flatten.filter(_.matches("""st\w*_(in|out|ckpt)\d*""")).toSet
    val before = streamDirs
    val rows = SparkEntry.queries("st05_stream_incr_dedup")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    val left = streamDirs -- before
    assert(left.isEmpty, left)
  }
}
