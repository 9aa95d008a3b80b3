package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/**
 * LSH banding → candidate pairs. This is the Spark-native replacement for
 * the reference's SBT Bloom-pruned search (`SBT::find`,
 * `/root/reference/src/index/sbt.rs:147-175`): the tree's log-pruning
 * becomes a bucket equi-grouping, and the no-false-prune property of the
 * Bloom overestimate (`src/index/sbt.rs:249-251`) becomes the banding
 * s-curve guarantee.
 *
 * Scale design:
 *  - no unbounded per-bucket row ever materializes: the band table is
 *    shuffled once by `bandKey` and sorted within each partition, and one
 *    scan over each bucket's run counts its rows and buffers at most
 *    `cap` ids, dropping the bucket the moment it passes the cap (a
 *    web-scale hot bucket would otherwise be a single multi-GB row);
 *  - the size gate and the pair generation happen in that one scan, so
 *    they cost no shuffle beyond the bucket shuffle itself;
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
   * @param banded DataFrame with columns (id, bandKey, cap: Int), as
   *               [[bands]] emits it. The flagship passes the Long `vid`;
   *               any orderable id type works (the queries pass String
   *               `video_id`/`audio_id`). Sources with different
   *               hot-bucket tolerances (MinHash vs fingerprint blocks)
   *               share ONE bucket shuffle instead of one per source. All
   *               rows of a bucket come from one source (the source tag is
   *               mixed into the key), so they carry one cap; the scan
   *               reads it from the bucket's first row.
   * @return pairs (a, b) with a < b in the id type's natural order
   *         (numeric for Long ids), distinct, from the buckets of 2 to
   *         `cap` rows that hold at least 2 distinct non-null ids.
   *
   * One shuffle of the band table by `bandKey`, each partition sorted by
   * (bandKey, id), then ONE pass over each bucket's run of rows
   * ([[bucketPairs]]): every row counts toward the cap (a repeated or
   * null id too), at most `cap` distinct non-null ids are buffered, and a
   * bucket that passes its cap is dropped there, so no bucket — however
   * hot — holds more than `cap` ids in memory. Ids arrive sorted, so the
   * distinct members are the run's id changes and pairs come out with
   * a < b without an array sort. The pair dedup across buckets is the
   * only other shuffle.
   */
  def candidatePairsCapped(banded: DataFrame): DataFrame = {
    val idType = banded.schema("id").dataType
    val pairSchema = StructType(Seq(
      StructField("a", idType, nullable = false), StructField("b", idType, nullable = false)))
    banded.select(col("bandKey"), col("id"), col("cap"))
      .repartition(col("bandKey"))
      .sortWithinPartitions(col("bandKey"), col("id"))
      .mapPartitions((rows: Iterator[Row]) => bucketPairs(rows))(Encoders.row(pairSchema))
      .dropDuplicates("a", "b")
  }

  /** The per-partition scan of [[candidatePairsCapped]] over
    * `(bandKey, id, cap)` rows sorted by (bandKey, id): each run of one
    * bandKey is a bucket; its ids become pairs when it has 2..cap rows
    * and at least 2 distinct non-null ids. */
  private def bucketPairs(rows: Iterator[Row]): Iterator[Row] = {
    val in = rows.buffered
    val buckets = new Iterator[Array[Any]] {
      def hasNext: Boolean = in.hasNext
      def next(): Array[Any] = {
        val key = in.head.get(0)
        val cap = in.head.getInt(2)
        val ids = new scala.collection.mutable.ArrayBuffer[Any]()
        var n = 0L
        while (in.hasNext && java.util.Objects.equals(in.head.get(0), key)) {
          val r = in.next()
          n += 1
          if (n <= cap && !r.isNullAt(1)) {
            val id = r.get(1)
            if (ids.isEmpty || ids.last != id) ids += id
          }
        }
        if (n >= 2 && n <= cap && ids.length >= 2) ids.toArray else Array.empty
      }
    }
    buckets.flatMap { ids =>
      ids.indices.iterator.flatMap(i =>
        (i + 1 until ids.length).iterator.map(j => Row(ids(i), ids(j))))
    }
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
