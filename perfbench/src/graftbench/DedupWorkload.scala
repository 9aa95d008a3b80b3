package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.{CacheHandle, DedupConfig, DedupPipeline, Lsh}
import graft.sources.ImageRow

/**
 * `dedup_5pct` and `dedup_chains`: one operation is `DedupPipeline.clusters`
 * over the workload's parquet table with the default `DedupConfig`, its
 * `(image_id, cluster)` rows collected to the driver and checked against
 * the ground truth outside the clock.
 */
final class DedupWorkload(chains: Boolean) extends Workload {
  val Rows = 10000
  private val GenRepeats = 3
  private val WarmupOps = 2
  private val cfg = DedupConfig()

  private var input: String = _
  private var truth: Gen.Truth = _
  private var digest = 0L
  private var setupParts = ""
  private var lastTraced: Traced = _
  private val counts = scala.collection.mutable.Map.empty[String, Double]

  /** Pieces of the last traced operation the layer probes reuse. */
  private final case class Traced(cands: DataFrame, skReps: DataFrame)

  private def generate(ctx: Ctx, dir: String): Long = {
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.seed
    val n = Rows.toLong
    val ds =
      if (chains) {
        val starts = Gen.chainStarts(seed, n)
        spark.range(0, n, 1, 8).map(i => Gen.rowChain(seed, starts, i))
      } else spark.range(0, n, 1, 8).map(i => Gen.row5(seed, n, i))
    ds.write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    t.select(sum(xxhash64(t.columns.map(col): _*).cast("decimal(38,0)"))).first().getDecimal(0).longValue
  }

  def setup(ctx: Ctx): Double = {
    truth = if (chains) Gen.truthChain(ctx.seed, Rows) else Gen.truth5(ctx.seed, Rows)
    // generation and write are repeated; each copy must read back
    // identical (the generator is deterministic), and the median counts
    val times = (0 until GenRepeats).map { r =>
      val dir = ctx.work.resolve(s"input-$r").toString
      Main.deleteTree(ctx.work.resolve(s"input-$r"))
      val (ns, d) = Main.timeNs(generate(ctx, dir))
      require(r == 0 || d == digest, s"generator is not deterministic: digest $d != $digest")
      digest = d
      input = dir
      ns / 1e9
    }
    // two warm-up operations: the second one still runs faster than the first
    val (warmNs, warm) = Main.timeNs((1 to WarmupOps).map(w => op(ctx, -w, traced = false)))
    require(warm.forall(_.ok), s"warm-up operation failed its check: ${warm.map(_.note)}")
    setupParts = s"generate ${times.mkString(",")} warm-up ${warmNs / 1e9}"
    Main.median(times) + warmNs / 1e9
  }

  private def corpus(ctx: Ctx): DataFrame = ctx.spark.read.parquet(input)

  def op(ctx: Ctx, i: Int, traced: Boolean): OpSample = {
    val gc0 = StageStats.gcMs()
    val t0 = Clock.now()
    val (labels, note) =
      try (if (traced) tracedClusters(ctx) else plainClusters(ctx), "")
      catch { case e: Exception => (Array.empty[Row], s"error: $e") }
    val t1 = Clock.now()
    org.apache.spark.sql.graft.Bridge.drainListeners(ctx.spark.sparkContext, 10000)
    val stage = StageStats.of(ctx.listener, t0, t1, ctx.cores, StageStats.gcMs() - gc0)
    if (traced) Report.placeJobs(ctx, t0, t1)
    val (ok, why) = if (note.nonEmpty) (false, note) else check(labels)
    OpSample(t1 - t0, Rows, ok, traced, stage, why)
  }

  private def plainClusters(ctx: Ctx): Array[Row] = {
    val cache = new CacheHandle()
    try DedupPipeline.clusters(corpus(ctx), cfg, cache).select("image_id", "cluster").collect()
    finally { cache.release(); ctx.spark.catalog.clearCache() }
  }

  /** The same operation split at the operator calls `clusters` makes, each
    * one materialized inside its span so its time lands there. */
  private def tracedClusters(ctx: Ctx): Array[Row] = {
    val tr = ctx.tracer
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { persisted += df.persist(); df }
    try tr.span("operators.clusters") {
      val tagged = tr.span("operators.sketch") {
        val t = keep(DedupPipeline.exactDedupWindowed(DedupPipeline.sketches(corpus(ctx), cfg)))
        tr.count("rows", t.count().toDouble)
        t
      }
      val skReps = tagged.where(col("image_id") === col("rep"))
      val exactEdges = tagged.where(col("image_id") =!= col("rep"))
        .select(col("vid").as("src"), xxhash64(col("rep")).as("dst"))
      val cands = tr.span("operators.lsh") {
        val c = keep(DedupPipeline.candidates(skReps, cfg))
        tr.count("cand_pairs", c.count().toDouble)
        c
      }
      tr.span("operators.bucket_stats") {
        val (kept, dropped, maxB) = Lsh.bucketStats(DedupPipeline.bandedAll(skReps, cfg), cfg.maxBucket)
        tr.count("buckets_kept", kept.toDouble)
        tr.count("buckets_dropped", dropped.toDouble)
        tr.count("max_bucket", maxB.toDouble)
      }
      val near = tr.span("operators.confirm") {
        val e = keep(DedupPipeline.confirm(cands, skReps, cfg))
        tr.count("edges", e.count().toDouble)
        e
      }
      lastTraced = Traced(cands, skReps)
      tr.span("operators.cc") {
        DedupPipeline.clustersFromEdges(tagged.select(col("image_id"), col("vid")),
          exactEdges.union(near.select(col("a").as("src"), col("b").as("dst"))), cfg.ccMaxIter)
          .select("image_id", "cluster").collect()
      }
    } finally {
      persisted.foreach(_.unpersist(false))
      ctx.spark.catalog.clearCache()
    }
  }

  /** One label per input row; ground-truth links inside one cluster (an
    * operation below 0.99 fails); rows sharing a cluster with another
    * family's row. */
  private def check(rows: Array[Row]): (Boolean, String) = {
    val n = truth.family.length
    val cluster = new Array[String](n)
    var dupLabels = 0
    for (r <- rows) {
      val i = r.getString(0).stripPrefix("img_").toInt
      if (cluster(i) != null) dupLabels += 1
      cluster(i) = r.getString(1)
    }
    val unlabeled = cluster.count(_ == null)
    val recall = truth.links.count { case (a, b) => cluster(a) != null && cluster(a) == cluster(b) }
      .toDouble / math.max(1, truth.links.length)
    val clusters = (0 until n).filter(cluster(_) != null).groupBy(cluster(_)).values
    val mixedRows = clusters.filter(m => m.map(truth.family(_)).distinct.size > 1).map(_.size).sum
    counts("pair_recall") = recall
    counts("false_merge_rows") = mixedRows.toDouble
    counts("clusters") = clusters.size.toDouble
    val ok = rows.length == n && dupLabels == 0 && unlabeled == 0 && recall >= 0.99
    (ok, f"rows=${rows.length} unlabeled=$unlabeled dup_labels=$dupLabels recall=$recall%.4f " +
      s"false_merge_rows=$mixedRows")
  }

  def endToEnd(ops: Seq[OpSample]): Seq[(String, Double, String)] = Seq(
    ("op_p50_ms", Main.median(ops.map(_.wallNs / 1e6)), "ms"),
    ("recall", counts("pair_recall"), "ratio"),
    ("precision", 1.0 - counts("false_merge_rows") / Rows, "ratio"))

  def perLayer(ctx: Ctx, ops: Seq[OpSample]): Seq[(String, Double, String)] =
    Layers.dedupOperators(ctx) ++ Layers.kernels(ctx, corpusSample(ctx), lcsPairs(ctx), null) ++
      Layers.functions(ctx, corpus(ctx), jaccardPairs(ctx), cfg.imgSketch)

  /** Every k-th row, so dup kinds and chain depths keep their shares. */
  private def corpusSample(ctx: Ctx): Array[ImageRow] = {
    val spark = ctx.spark
    import spark.implicits._
    val all = corpus(ctx).as[ImageRow].collect().sortBy(_.image_id)
    all.indices.by(all.length / Layers.SampleRows).map(all(_)).toArray
  }

  /** Caption pairs of the last traced operation's candidate pairs. */
  private def lcsPairs(ctx: Ctx): Array[(String, String)] = {
    val t = lastTraced
    val a = t.skReps.select(col("vid").as("a"), col("cap_norm").as("ca"))
    val b = t.skReps.select(col("vid").as("b"), col("cap_norm").as("cb"))
    t.cands.join(a, "a").join(b, "b").select("ca", "cb").limit(Layers.SampleRows).collect()
      .map(r => (r.getString(0), r.getString(1)))
  }

  /** Image-sketch pairs of the last traced operation's candidate pairs. */
  private def jaccardPairs(ctx: Ctx): DataFrame = {
    val t = lastTraced
    val a = t.skReps.select(col("vid").as("a"), col("img_mins").as("x"))
    val b = t.skReps.select(col("vid").as("b"), col("img_mins").as("y"))
    t.cands.join(a, "a").join(b, "b").select("x", "y")
  }

  override def facts: Seq[(String, String)] = Seq(
    "rows" -> Rows.toString, "input_digest" -> digest.toString, "setup_parts" -> setupParts,
    "truth_links" -> truth.links.length.toString) ++
    counts.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }
}
