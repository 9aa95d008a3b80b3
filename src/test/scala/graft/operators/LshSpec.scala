package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SyntheticCorpus

/** The band table ([[Lsh.bands]] through [[DedupPipeline.bandedAll]]) and
  * the capped pair generator ([[Lsh.candidatePairsCapped]]). */
class LshSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def bandRows(df: DataFrame): Map[(Long, Long, Int), Int] =
    df.select($"id", $"bandKey", $"cap").as[(Long, Long, Int)].collect()
      .groupBy(identity).map { case (k, v) => k -> v.length }

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.select($"a", $"b").as[(Long, Long)].collect().toSeq.sorted

  test("bandedAll equals the five-branch explode-and-union table as a multiset") {
    val cfg = DedupConfig()
    val corpus = SyntheticCorpus.corpus(spark, 2000L).toDF()
    val tagged = DedupPipeline.exactDedupWindowed(
      DedupPipeline.sketches(corpus, cfg)).cache()
    val skReps = tagged.where($"image_id" === $"rep")
    val got = bandRows(DedupPipeline.bandedAll(skReps, cfg))
    val want = bandRows(PipelineOracles.bandedAllUnion(skReps, cfg))
    assert(want.values.sum > 0)
    assert(got === want)
    // both caps and all five sources are present
    assert(got.keySet.map(_._3) === Set(cfg.maxBucket, cfg.fpJointMaxBucket))
    tagged.unpersist()
  }

  test("bandedAll reads its cached input in one scan") {
    val cfg = DedupConfig()
    val corpus = SyntheticCorpus.corpus(spark, 200L).toDF()
    val tagged = DedupPipeline.exactDedupWindowed(
      DedupPipeline.sketches(corpus, cfg)).cache()
    val skReps = tagged.where($"image_id" === $"rep")
    val plan = DedupPipeline.bandedAll(skReps, cfg).queryExecution.optimizedPlan
    val scans = plan.collect { case r: InMemoryRelation => r }
    assert(scans.size === 1, plan.treeString)
    tagged.unpersist()
  }

  test("bands: a null key array drops only its own source") {
    val df = Seq((1L, Seq(10L, 11L), Seq(20L)), (2L, null, Seq(20L)))
      .toDF("id", "k1", "k2")
    val got = bandRows(Lsh.bands(df, $"id", (1, $"k1", 8), (2, $"k2", 4)))
    def key(raw: Long, tag: Int): Long =
      Seq((raw, tag)).toDF("r", "t").select(xxhash64($"r", $"t")).as[Long].head()
    assert(got === Map(
      (1L, key(10L, 1), 8) -> 1, (1L, key(11L, 1), 8) -> 1,
      (1L, key(20L, 2), 4) -> 1, (2L, key(20L, 2), 4) -> 1))
  }

  test("candidatePairsCapped keeps a bucket of exactly cap members, drops cap + 1") {
    val banded = (Seq(1L, 2L, 3L).map((_, 100L, 3)) ++
      Seq(4L, 5L, 6L, 7L).map((_, 200L, 3))).toDF("id", "bandKey", "cap")
    assert(pairs(Lsh.candidatePairsCapped(banded)) === Seq((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("candidatePairsCapped collapses a repeated id in a bucket to one") {
    val banded = Seq((1L, 100L, 8), (1L, 100L, 8), (2L, 100L, 8),
      (3L, 300L, 8), (3L, 300L, 8)).toDF("id", "bandKey", "cap")
    assert(pairs(Lsh.candidatePairsCapped(banded)) === Seq((1L, 2L)))
  }

  test("candidatePairsCapped applies each cap to its own buckets only") {
    // three members: over cap 2, within cap 4
    val banded = (Seq(1L, 2L, 3L).map((_, 100L, 2)) ++
      Seq(4L, 5L, 6L).map((_, 200L, 4)) ++
      Seq(7L, 8L).map((_, 300L, 2))).toDF("id", "bandKey", "cap")
    assert(pairs(Lsh.candidatePairsCapped(banded)) ===
      Seq((4L, 5L), (4L, 6L), (5L, 6L), (7L, 8L)))
  }
}
