package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SyntheticCorpus

class LineageSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("checkpointed pipeline resumes: second run recomputes nothing, kill mid-way resumes partition-exact") {
    val root = java.nio.file.Files.createTempDirectory("lineage").toString
    val corpus = SyntheticCorpus.corpus(spark, 500L).toDF()
    val fp = Lineage.fingerprint("synthetic", "500", "42")
    val cfg = DedupConfig()

    val r1 = Lineage.checkpointedClusters(spark, corpus, cfg, root, fp)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val lin1 = new Lineage(spark, root).lineage().count()
    assert(lin1 === 6) // six stages ran and logged

    // second run: identical fingerprints → every stage resumed from disk
    val r2 = Lineage.checkpointedClusters(spark, corpus, cfg, root, fp)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val lin2 = new Lineage(spark, root).lineage().count()
    assert(lin2 === 6, "resume must not append new lineage rows")
    assert(r1 === r2)

    // simulate a kill after 'sketches': delete downstream stage outputs
    Seq("candidates", "near_edges", "clusters").foreach { s =>
      val dir = new java.io.File(s"$root/stages/$s")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm)
        f.delete()
      }
      rm(dir)
    }
    val r3 = Lineage.checkpointedClusters(spark, corpus, cfg, root, fp)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(r3 === r1)
    val lin3 = new Lineage(spark, root).lineage()
    assert(lin3.count() === 9) // only the 3 killed stages re-ran
    // sketches ran exactly once across all three invocations
    assert(lin3.where(org.apache.spark.sql.functions.col("stage") === "sketches").count() === 1)

    // changed corpus fingerprint → full recompute
    val r4 = Lineage.checkpointedClusters(spark, corpus, cfg, root,
      Lineage.fingerprint("synthetic", "500", "43"))
    assert(r4.count() === 500)
  }

  test("clusters from checkpointed path equal the direct pipeline") {
    val root = java.nio.file.Files.createTempDirectory("lineage2").toString
    val corpus = SyntheticCorpus.corpus(spark, 400L).toDF()
    val direct = DedupPipeline.clusters(corpus)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val ckpt = Lineage.checkpointedClusters(spark, corpus, DedupConfig(), root, "fp400")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(ckpt === direct)
  }

  test("the checkpointed pipeline plans every query with static broadcast off") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val root = java.nio.file.Files.createTempDirectory("lineage3").toString
    val corpus = SyntheticCorpus.corpus(spark, 300L).toDF()
    val before = spark.conf.getOption(key)
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerSQLExecutionStart]()
    val listener = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case e: SparkListenerSQLExecutionStart => starts.add(e)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val rows = try {
      val n = Lineage.checkpointedClusters(spark, corpus, DedupConfig(), root, "fp300").count()
      Bridge.drainListeners(spark.sparkContext, 10000L)
      n
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(rows === 300L)
    val execs = starts.toArray(Array.empty[SparkListenerSQLExecutionStart]).toSeq
    assert(execs.nonEmpty)
    execs.foreach(e => assert(e.modifiedConfigs.get(key).contains("-1"), e.description))
    assert(spark.conf.getOption(key) === before)
  }
}
