package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
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

  /** The pair set of [[Lsh.candidatePairsCapped]], asserted equal to the
    * window reference's ([[PipelineOracles.candidatePairsWindow]]). */
  private def checkedPairs(banded: DataFrame): Set[Row] = {
    val got = Lsh.candidatePairsCapped(banded).collect()
    val want = PipelineOracles.candidatePairsWindow(banded).collect().toSet
    assert(got.length === got.toSet.size, "pairs are not distinct")
    assert(got.toSet === want)
    got.toSet
  }

  test("sort-scan equals the window reference: Long ids, mixed caps, repeats") {
    val rnd = new scala.util.Random(7)
    // 400 buckets of 1..12 rows drawn from 60 ids (repeats within a
    // bucket happen), caps 4 and 64 (per bucket)
    val rows = (0 until 400).flatMap { k =>
      val cap = if (k % 3 == 0) 4 else 64
      Seq.fill(1 + rnd.nextInt(12))((rnd.nextInt(60).toLong, k.toLong * 7919L, cap))
    }
    val got = checkedPairs(rows.toDF("id", "bandKey", "cap"))
    assert(got.nonEmpty)
    assert(got.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("sort-scan equals the window reference: String ids, nulls counted toward the cap") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 300).flatMap { k =>
      Seq.fill(1 + rnd.nextInt(6)) {
        val id = if (rnd.nextInt(8) == 0) null else s"v${rnd.nextInt(40)}"
        (id, k.toLong, 4)
      }
    }
    val got = checkedPairs(rows.toDF("id", "bandKey", "cap"))
    assert(got.nonEmpty)
    assert(got.forall(r => r.getString(0) < r.getString(1)))
    // a null id is no member but counts: two ids + one null fill cap 3
    val nulls = Seq(("x", 1L, 3), (null, 1L, 3), ("y", 1L, 3),
      ("p", 2L, 2), (null, 2L, 2), ("q", 2L, 2)).toDF("id", "bandKey", "cap")
    assert(checkedPairs(nulls) === Set(Row("x", "y")))
  }

  test("sort-scan: a repeated id counts toward the cap as rows, as one member") {
    // bucket 100: ids 1,1,2 = 3 rows within cap 3 -> (1,2);
    // bucket 200: ids 3,3,4 = 3 rows over cap 2 -> dropped
    val banded = Seq((1L, 100L, 3), (1L, 100L, 3), (2L, 100L, 3),
      (3L, 200L, 2), (3L, 200L, 2), (4L, 200L, 2)).toDF("id", "bandKey", "cap")
    assert(checkedPairs(banded) === Set(Row(1L, 2L)))
  }

  test("sort-scan: buckets of exactly cap rows kept, cap + 1 dropped, per cap") {
    val banded = (Seq(1L, 2L, 3L, 4L).map((_, 10L, 4)) ++
      Seq(5L, 6L, 7L, 8L, 9L).map((_, 20L, 4)) ++
      (100L until 164L).map((_, 30L, 64)) ++
      (200L until 265L).map((_, 40L, 64))).toDF("id", "bandKey", "cap")
    val got = checkedPairs(banded)
    assert(got.size === 6 + 64 * 63 / 2)
    assert(got.forall(r => r.getLong(0) < 200L && !(5L to 9L).contains(r.getLong(0))))
  }

  test("sort-scan: a bucket collapsing below 2 distinct ids emits nothing") {
    val banded = Seq((5L, 1L, 8), (5L, 1L, 8), (5L, 1L, 8), (6L, 2L, 8))
      .toDF("id", "bandKey", "cap")
    assert(checkedPairs(banded).isEmpty)
  }

  test("sort-scan: a 100k-row hot bucket emits nothing beside a kept bucket") {
    val hot = spark.range(0, 100000).select($"id", lit(1L).as("bandKey"), lit(64).as("cap"))
    val cold = Seq((1L, 2L, 64), (2L, 2L, 64)).toDF("id", "bandKey", "cap")
    assert(checkedPairs(hot.union(cold)) === Set(Row(1L, 2L)))
  }
}
