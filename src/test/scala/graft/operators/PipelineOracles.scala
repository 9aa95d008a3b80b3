package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.operators.DedupPipeline.capLcs

/**
 * Reference formulations of flagship operators, kept for the specs to
 * compare the library's shapes against. Nothing in the library calls
 * them.
 */
object PipelineOracles {

  /** Ungated reference scoring: every candidate pair, every score, the
    * suffix-array kernel run on every pair (no sentinels). The specs use
    * it as ground truth for [[DedupPipeline.scores]]' edge set and to
    * attribute each caught pair to every rule that fires on it. Same
    * columns as [[DedupPipeline.scores]] plus the joined sketch payload. */
  def scoresAllRules(cands: DataFrame, sk: DataFrame, cfg: DedupConfig): DataFrame = {
    val a = sk.select(
      col("vid").as("a"), col("cap_mins").as("cap_a"), col("img_mins").as("img_a"),
      col("cap_simhash").as("sh_a"), col("phash").as("ph_a"), col("cap_norm").as("cn_a"))
    val b = sk.select(
      col("vid").as("b"), col("cap_mins").as("cap_b"), col("img_mins").as("img_b"),
      col("cap_simhash").as("sh_b"), col("phash").as("ph_b"), col("cap_norm").as("cn_b"))
    cands.join(a, "a").join(b, "b")
      .withColumn("img_sim", jaccard(col("img_a"), col("img_b"), cfg.imgSketch))
      .withColumn("cap_sim", jaccard(col("cap_a"), col("cap_b"), cfg.capSketch))
      .withColumn("ph_ham", hamming64(col("ph_a"), col("ph_b")))
      .withColumn("sh_ham", hamming64(col("sh_a"), col("sh_b")))
      .withColumn("cap_contain",
        greatest(containment(col("cap_a"), col("cap_b")),
          containment(col("cap_b"), col("cap_a"))))
      .withColumn("cap_lcs", capLcs(cfg))
      .withColumn("substr_hit", col("cap_lcs") >= cfg.substringMinLen)
  }

  /** Explode an array-of-band-keys column into (id, bandKey) rows, mixing
    * the source tag into the key so different sketch families (image
    * minhash / caption minhash / phash / simhash) never share buckets.
    * One source per call: the per-source formulation [[Lsh.bands]]
    * replaced. */
  def explodeBands(df: DataFrame, idCol: String, bandsCol: String, sourceTag: Int): DataFrame = {
    df.select(col(idCol).as("id"),
      explode(col(bandsCol)).as("rawKey"))
      .select(col("id"),
        xxhash64(col("rawKey"), lit(sourceTag)).as("bandKey"))
  }

  /** The flagship band table as five per-source explodes joined by
    * unions: the reference [[DedupPipeline.bandedAll]] must equal as a
    * multiset of (id, bandKey, cap). */
  def bandedAllUnion(skReps: DataFrame, cfg: DedupConfig): DataFrame = {
    val cap = explodeBands(
      skReps.select(col("vid").as("id"),
        minhashBands(col("cap_mins"), cfg.capBands, cfg.capRowsPerBand, cfg.capSketch.seed).as("bk")),
      "id", "bk", sourceTag = 1)
    val img = explodeBands(
      skReps.select(col("vid").as("id"),
        minhashBands(col("img_mins"), cfg.imgBands, cfg.imgRowsPerBand, cfg.imgSketch.seed).as("bk")),
      "id", "bk", sourceTag = 2)
    val ph = explodeBands(
      skReps.select(col("vid").as("id"),
        fingerprintBandsHamming2(col("phash")).as("bk")),
      "id", "bk", sourceTag = 3)
    val sh = explodeBands(
      skReps.select(col("vid").as("id"),
        fingerprintBandsHamming2(col("cap_simhash")).as("bk")),
      "id", "bk", sourceTag = 4)
    val phx = explodeBands(
      skReps.select(col("vid").as("id"), array(col("phash")).as("bk")),
      "id", "bk", sourceTag = 5)
    cap.union(img).union(phx).withColumn("cap", lit(cfg.maxBucket))
      .union(ph.union(sh).withColumn("cap", lit(cfg.fpJointMaxBucket)))
  }

  /** The window formulation [[Lsh.candidatePairsCapped]] replaced: a
    * `count` window over `bandKey` gates bucket size, then `collect_list`
    * + `array_sort(array_distinct)` + two explodes generate the in-bucket
    * pairs. The specs compare the sort-scan's pair set against it. */
  def candidatePairsWindow(banded: DataFrame): DataFrame = {
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
}
