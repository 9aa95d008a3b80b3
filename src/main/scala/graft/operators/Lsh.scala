package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * LSH banding → candidate pairs. This is the Spark-native replacement for
 * the reference's SBT Bloom-pruned search (`SBT::find`,
 * `/root/reference/src/index/sbt.rs:147-175`): the tree's log-pruning
 * becomes a bucket equi-grouping, and the no-false-prune property of the
 * Bloom overestimate (`src/index/sbt.rs:249-251`) becomes the banding
 * s-curve guarantee.
 *
 * Scale design:
 *  - bucket sizes are computed FIRST and oversize buckets are dropped
 *    before any `collect_list` — no unbounded per-bucket row ever
 *    materializes (a web-scale hot bucket would otherwise be a single
 *    multi-GB aggregation row);
 *  - the size-filter join and the member grouping share the `bandKey`
 *    hash partitioning, so the filter costs no extra shuffle;
 *  - pairs are generated inside each (bounded) bucket — no self-join,
 *    which would shuffle the exploded table twice;
 *  - hot buckets (power-law at web scale: boilerplate captions, blank
 *    images) must lose their exact-dup mass upstream in the exact-dedup
 *    pre-aggregation (turns the worst skew into a groupBy).
 *
 * Dropped-bucket accounting is exposed via [[bucketStats]], a separate
 * job over the same band table. No library code calls it today; only the
 * benchmark's traced mode does (`perfbench`). The flagship row funnel
 * (ROADMAP item 1) is where dropped buckets are to be observed on jobs
 * that already run.
 */
object Lsh {

  /**
   * The one band table every LSH consumer builds: `(id, bandKey, cap)`,
   * one row per (row, source, key), read from `df` in ONE projection with
   * ONE generator however many sources there are (a union of per-source
   * explodes scans `df` once per source).
   *
   * Each source is `(tag, keys, cap)`: `keys` an array-of-band-keys
   * column, `tag` mixed into every key (`bandKey = xxhash64(key, tag)`) so
   * different sketch families (image minhash / caption minhash / phash /
   * simhash) never share buckets, and `cap` the source's hot-bucket
   * tolerance that [[candidatePairsCapped]] applies. A null `keys` array
   * contributes no rows and leaves the row's other sources intact.
   */
  def bands(df: DataFrame, id: Column, sources: (Int, Column, Int)*): DataFrame = {
    val tagged = sources.map { case (tag, keys, cap) =>
      transform(coalesce(keys, array()),
        k => struct(xxhash64(k, lit(tag)).as("bandKey"), lit(cap).as("cap")))
    }
    df.select(id.as("id"), inline(concat(tagged: _*)))
  }

  /**
   * @param banded DataFrame with columns (id, bandKey: Long, cap: Int), as
   *               [[bands]] emits it. The flagship passes the Long `vid`;
   *               any orderable id type works. Sources with different
   *               hot-bucket tolerances (MinHash vs fingerprint blocks)
   *               share ONE bucket shuffle instead of one per source. All
   *               rows of a bucket come from one source (the source tag is
   *               mixed into the key), so they carry one cap.
   * @return pairs (a, b) with a < b in the id type's natural order
   *         (numeric for Long ids), distinct, from the buckets of 2 to
   *         `cap` rows.
   */
  def candidatePairsCapped(banded: DataFrame): DataFrame = {
    val spark = banded.sparkSession
    import spark.implicits._

    // Bucket-size gating as a WINDOW over the bucket key: one shuffle of
    // the exploded band table, inside which the count, the size filter,
    // and the member grouping all happen (the former sizes-aggregate +
    // semi-join formulation scanned and shuffled the band table twice).
    // Oversize buckets still never materialize as arrays: the filter runs
    // before `collect_list`, and WindowExec's buffer is spill-safe.
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"bandKey")
    val kept = banded
      .withColumn("bn", count(lit(1)).over(w))
      .where($"bn" >= 2 && $"bn" <= $"cap")

    // In-bucket pair generation with BUILT-IN expressions only (no UDF
    // encoder round-trip, type-generic over Long/String ids): sort the
    // distinct members, explode the anchor index i, then explode the
    // tail slice — every b after the anchor. a < b holds by sort order.
    val grouped = kept.groupBy($"bandKey").agg(collect_list($"id").as("ids"))
    grouped
      .select(array_sort(array_distinct($"ids")).as("ids"))
      .where(size($"ids") >= 2) // distinct could collapse a bucket below 2
      .select($"ids", explode(sequence(lit(0), size($"ids") - 2)).as("i"))
      .select(element_at($"ids", $"i" + 1).as("a"),
        explode(slice($"ids", $"i" + 2, size($"ids"))).as("b"))
      .dropDuplicates("a", "b")
  }

  /** Bucket-size accounting for lineage/metrics: (kept_buckets,
    * dropped_buckets, max_bucket_seen). */
  def bucketStats(banded: DataFrame, maxBucket: Int): (Long, Long, Long) = {
    val spark = banded.sparkSession
    import spark.implicits._
    val sizes = banded.groupBy($"bandKey").agg(count(lit(1)).as("bn")).where($"bn" >= 2)
    val r = sizes.agg(
      sum(when($"bn" <= maxBucket, 1L).otherwise(0L)),
      sum(when($"bn" > maxBucket, 1L).otherwise(0L)),
      max($"bn")).as[(Option[Long], Option[Long], Option[Long])].first()
    (r._1.getOrElse(0L), r._2.getOrElse(0L), r._3.getOrElse(0L))
  }
}
