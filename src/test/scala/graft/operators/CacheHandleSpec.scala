package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SyntheticCorpus

/** What a [[DedupPipeline]] pass leaves in executor storage: the
  * exact-dedup checkpoint lives until [[CacheHandle.release]], and
  * connected components frees its own checkpoints. */
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
    // the driver path frees the connected-components checkpoint after
    // its collect
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, left)
  }

  test("the CC loop frees its start and every superseded round; only the star stays") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // a 200-node chain takes several rounds on a forced-wide loop
    val edges = (0L until 200L).map(i => (i, i + 1)).toDF("src", "dst")
    val labels = CcLoop(edges, edgesPerPartition = 16L).collect()
    assert(labels.length === 201)
    assert(labels.forall(_.getLong(1) == 0L))
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.size <= 1, left)
  }
}
