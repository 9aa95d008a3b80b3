package graft.queries

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SparkTestSession
import graft.queries.QuerySupport._

/** The derived-table dump cache and conf scoping that every query family
  * shares. Each test dumps under its own sf-dir name, so the JVM-wide
  * cache holds no entry from another test. */
class QuerySupportSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def freshDir(tag: String): String =
    s"qsspec_${tag}_${java.util.UUID.randomUUID()}"

  test("one dump is shared by two calls") {
    val d = freshDir("shared")
    var built = 0
    def dump() = dumpDerived(spark, d, "t", files = 1) {
      built += 1
      spark.range(20).toDF("id")
    }
    val a = dump().collect().map(_.getLong(0)).sorted
    val b = dump().collect().map(_.getLong(0)).sorted
    assert(built === 1)
    assert(a.toSeq === (0L until 20L))
    assert(b.toSeq === a.toSeq)
  }

  test("a second call for one path with a different files bound fails") {
    val d = freshDir("files")
    dumpDerived(spark, d, "t", files = 1)(spark.range(5).toDF("id"))
    val e = intercept[IllegalArgumentException](
      dumpDerived(spark, d, "t", files = 4)(spark.range(5).toDF("id")))
    assert(e.getMessage.contains("files = 1") && e.getMessage.contains("files = 4"),
      e.getMessage)
  }

  test("a scoped dump is written under the scoped value; the caller's conf is unchanged") {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val d = freshDir("scoped")
    val before = spark.conf.getOption(key)
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerSQLExecutionStart]()
    val listener = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case e: SparkListenerSQLExecutionStart => starts.add(e)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val out = try {
      val df = dumpDerived(spark, d, "t") {
        withConf(spark, key, "64k")(c => c.range(10).toDF("id"))
      }
      Bridge.drainListeners(spark.sparkContext, 10000L)
      df
    } finally spark.sparkContext.removeSparkListener(listener)
    val path = s"${derivedDir(d)}/t.parquet"
    val writes = starts.toArray(Array.empty[SparkListenerSQLExecutionStart]).toSeq
      .filter(_.physicalPlanDescription.contains(path))
    assert(writes.nonEmpty, s"no SQL execution wrote $path")
    writes.foreach(w => assert(w.modifiedConfigs.get(key).contains("64k"), w.modifiedConfigs))
    assert(spark.conf.getOption(key) === before)
    assert(out.sparkSession eq spark)
    assert(out.count() === 10L)
  }
}
