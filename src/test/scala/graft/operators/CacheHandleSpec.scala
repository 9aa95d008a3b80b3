package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SyntheticCorpus

/** What a [[DedupPipeline]] pass leaves in executor storage: the
  * exact-dedup checkpoint lives until [[CacheHandle.release]]. */
class CacheHandleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("release frees the exact-dedup checkpoint; a pass leaves at most the CC checkpoint") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val cache = new CacheHandle()
    val corpus = SyntheticCorpus.corpus(spark, 300L).toDF()
    val rows = DedupPipeline.clusters(corpus, DedupConfig(), cache).collect()
    assert(rows.length === 300)
    val checkpoints = cache.rddIds
    assert(checkpoints.size === 1)
    assert(checkpoints.forall(sc.getPersistentRDDs.contains))
    cache.release()
    assert(checkpoints.forall(id => !sc.getPersistentRDDs.contains(id)))
    // the connected-components initial checkpoint is not tracked by the
    // handle, as before the exact-dedup table was checkpointed
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.size <= 1, left)
  }
}
