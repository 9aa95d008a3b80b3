package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{MinHash, Shingles, SketchConfig, SuffixArrays}
import graft.functions.GraftFunctions
import graft.operators.DedupConfig
import graft.sources.{ImageCodec, ImageRow}

/**
 * Per-layer figures of a traced run. Kernel calls (`graft.sources`,
 * `graft.core`) are timed on the driver in JIT-warmed passes over a sample
 * of the workload's own rows; each `graft.functions` expression runs alone
 * over the workload's cached table; operator figures come from the spans
 * of the traced operations. A workload that makes no call of a kind
 * reports 0 for its operator counts and times.
 */
object Layers {
  val SampleRows = 2000
  private val PassBudgetNs = 150000000L
  private val dedup = DedupConfig()

  /** ns per item of `body` over `n` items: two warm passes, then passes
    * until the budget is spent (at least three); median pass. */
  private def perItem(ctx: Ctx, span: String, n: Int)(body: => Unit): Double = {
    body; body
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    while (times.size < 3 || System.nanoTime() - start < PassBudgetNs) {
      val (ns, _) = Main.timeNs(ctx.tracer.span(span) { body; ctx.tracer.count("items", n) })
      times += ns.toDouble / n
    }
    Main.median(times.toSeq)
  }

  private var sink = 0L

  /** `rows`, `capPairs` and `sketchPairs` default to seed-generated samples
    * when the workload has none of that kind. */
  def kernels(ctx: Ctx, rows0: Array[ImageRow], capPairs0: Array[(String, String)],
      sketchPairs0: Array[(Array[Long], Array[Long])]): Seq[(String, Double, String)] = {
    val rows = if (rows0 != null) rows0
      else Array.tabulate(SampleRows)(i => Gen.row5(ctx.seed, SampleRows, i))
    val capPairs = if (capPairs0 != null && capPairs0.nonEmpty) capPairs0
      else Gen.truth5(ctx.seed, SampleRows).links.map { case (a, b) =>
        (Shingles.normalizeText(rows(a).caption), Shingles.normalizeText(rows(b).caption)) }
    val sketchPairs = if (sketchPairs0 != null) sketchPairs0
      else Array.tabulate(SampleRows)(i =>
        (Gen.dbSketch(ctx.seed, i)._2, Gen.dbSketch(ctx.seed, i + 1)._2))
    val img = dedup.imgSketch
    val decoded = rows.map(r => ImageCodec.decode(r.bytes, r.fmt).map(d =>
      ImageCodec.normalizeForSketch(d.rgb)).getOrElse(r.bytes))
    val shingles = decoded.map(Shingles.byteShingleHashes(_, img.ksize, dedup.imgStride, img.seed))
    val n = rows.length
    Seq(
      ("sources.decode_ns_per_row", perItem(ctx, "sources.decode", n) {
        rows.foreach(r => sink += ImageCodec.decode(r.bytes, r.fmt).map(_.w).getOrElse(0)) }, "ns"),
      ("core.byte_shingle_ns_per_row", perItem(ctx, "core.byte_shingle", n) {
        decoded.foreach(d => sink += Shingles.byteShingleHashes(d, img.ksize, dedup.imgStride, img.seed).length)
      }, "ns"),
      ("core.char_shingle_ns_per_row", perItem(ctx, "core.char_shingle", n) {
        rows.foreach(r => sink += Shingles.charShingleHashes(r.caption, dedup.capSketch.ksize,
          dedup.capSketch.seed).length) }, "ns"),
      ("core.sketch_ns_per_row", perItem(ctx, "core.sketch", n) {
        shingles.foreach(s => sink += MinHash.sketchHashes(s, img).length) }, "ns"),
      ("core.lcs_ns_per_pair", perItem(ctx, "core.lcs", capPairs.length) {
        capPairs.foreach { case (a, b) => sink += SuffixArrays.lcsLen(a, b, dedup.lcsMaxChars) } }, "ns"),
      ("core.compare_ns_per_pair", perItem(ctx, "core.compare", sketchPairs.length) {
        sketchPairs.foreach { case (a, b) =>
          sink += (MinHash.compare(a, b, Gen.SigCfg) * 1000).toLong } }, "ns"),
      ("core.count_common_ns_per_pair", perItem(ctx, "core.count_common", sketchPairs.length) {
        sketchPairs.foreach { case (a, b) => sink += MinHash.countCommon(a, b) } }, "ns"))
  }

  /** Rows per second of one expression over a cached table (median of three). */
  private def rate(ctx: Ctx, span: String, t: DataFrame, rows: Long)(c: org.apache.spark.sql.Column): Double = {
    val runs = (0 until 3).map { _ =>
      val t0 = Clock.now()
      val (ns, _) = Main.timeNs(ctx.tracer.span(span) {
        t.select(c).write.format("noop").mode("overwrite").save()
        ctx.tracer.count("rows", rows.toDouble)
      })
      org.apache.spark.sql.graft.Bridge.drainListeners(ctx.spark.sparkContext, 10000)
      Report.placeJobs(ctx, t0, Clock.now())
      rows * 1e9 / ns
    }
    Main.median(runs)
  }

  /** `table` is the workload's corpus (null: a seed-generated one); `pairs`
    * holds two sketch columns `x`, `y` of the workload's own pairs, made
    * with `pairCfg`. */
  def functions(ctx: Ctx, table0: DataFrame, pairs0: DataFrame,
      pairCfg: SketchConfig): Seq[(String, Double, String)] = {
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.seed
    val table = (if (table0 != null) table0
      else spark.range(0, SampleRows * 2, 1, 4).map(i => Gen.row5(seed, SampleRows * 2, i)).toDF()).persist()
    val pairs = pairs0.persist()
    try {
      val n = table.count()
      val np = pairs.count()
      Seq(
        ("functions.image_minhash_rows_per_s", rate(ctx, "functions.image_minhash", table, n)(
          GraftFunctions.imageMinhash(col("bytes"), col("fmt"), dedup.imgSketch, dedup.imgStride)), "1/s"),
        ("functions.caption_minhash_rows_per_s", rate(ctx, "functions.caption_minhash", table, n)(
          GraftFunctions.captionMinhash(col("caption"), dedup.capSketch)), "1/s"),
        ("functions.caption_simhash_rows_per_s", rate(ctx, "functions.caption_simhash", table, n)(
          GraftFunctions.captionSimhash(col("caption"), dedup.capSketch.ksize, dedup.capSketch.seed)), "1/s"),
        ("functions.minhash_bands_rows_per_s", rate(ctx, "functions.minhash_bands", pairs, np)(
          GraftFunctions.minhashBands(col("x"), dedup.imgBands, dedup.imgRowsPerBand, pairCfg.seed)), "1/s"),
        ("functions.jaccard_pairs_per_s", rate(ctx, "functions.jaccard", pairs, np)(
          GraftFunctions.jaccard(col("x"), col("y"), pairCfg)), "1/s"))
    } finally { table.unpersist(false); pairs.unpersist(false) }
  }

  private def med(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else Main.median(xs.toSeq)

  /** Operator times (and self times), counts and ratios of the traced
    * dedup operations; medians over those operations. */
  def dedupOperators(ctx: Ctx): Seq[(String, Double, String)] = {
    val ops = ctx.tracer.spans.filter(_.op > 0).groupBy(_.op).values.toSeq
    def one(name: String): Seq[Span] = ops.flatMap(_.find(_.name == s"operators.$name"))
    def countOf(name: String, key: String): Double = med(one(name).map(_.counts.getOrElse(key, 0.0)))
    val all = ctx.tracer.spans
    val times = Seq("sketch", "lsh", "confirm", "cc").flatMap { s =>
      Seq((s"operators.${s}_s", med(one(s).map(_.durNs / 1e9)), "s"),
        (s"operators.${s}_self_s", med(one(s).map(sp => Report.selfNs(sp, all) / 1e9)), "s"))
    }
    val cand = countOf("lsh", "cand_pairs")
    val edges = countOf("confirm", "edges")
    times ++ Seq(
      ("operators.cand_pairs", cand, "count"),
      ("operators.edges", edges, "count"),
      ("operators.confirm_yield", if (cand > 0) edges / cand else 0.0, "ratio"),
      ("operators.buckets_kept", countOf("bucket_stats", "buckets_kept"), "count"),
      ("operators.buckets_dropped", countOf("bucket_stats", "buckets_dropped"), "count"),
      ("operators.max_bucket", countOf("bucket_stats", "max_bucket"), "count"),
      ("operators.cc_jobs", med(one("cc").map(sp => all.count(c => c.parent == sp.id && c.layer == "stage").toDouble)),
        "count")) ++ searchZeros
  }

  private val dedupNames = Seq("sketch", "lsh", "confirm", "cc").flatMap(s =>
    Seq(s"operators.${s}_s", s"operators.${s}_self_s")) ++ Seq("operators.cand_pairs",
    "operators.edges", "operators.confirm_yield", "operators.buckets_kept",
    "operators.buckets_dropped", "operators.max_bucket", "operators.cc_jobs")
  private def unitOf(name: String): String =
    if (name.endsWith("_s")) "s" else if (name.endsWith("_ms")) "ms" else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("yield")) "ratio" else "count"
  private def searchZeros: Seq[(String, Double, String)] = searchNames.map(n => (n, 0.0, unitOf(n)))

  private val searchNames = Seq("operators.index_build_s", "operators.index_rows", "operators.index_mb",
    "operators.indexed_cand_sigs", "operators.indexed_yield", "operators.jobs_per_query",
    "operators.indexed_p50_ms")

  /** Index and query figures of the search operations. */
  def searchOperators(ctx: Ctx, buildS: Double, indexedP50Ms: Double, indexRows: Long,
      indexBytes: Long): Seq[(String, Double, String)] = {
    val all = ctx.tracer.spans
    val probes = all.filter(_.name == "operators.index_probe")
    val cands = probes.map(_.counts.getOrElse("cand_sigs", 0.0)).sum
    val hits = probes.map(_.counts.getOrElse("matches", 0.0)).sum
    val indexed = all.filter(s => s.name == "operators.indexed" && s.op > 0)
    dedupNames.map(n => (n, 0.0, unitOf(n))) ++ Seq(
      ("operators.index_build_s", buildS, "s"),
      ("operators.index_rows", indexRows.toDouble, "count"),
      ("operators.index_mb", indexBytes / 1048576.0, "MB"),
      ("operators.indexed_cand_sigs", med(probes.map(_.counts.getOrElse("cand_sigs", 0.0))), "count"),
      ("operators.indexed_yield", if (cands > 0) hits / cands else 0.0, "ratio"),
      ("operators.jobs_per_query", med(indexed.map(sp =>
        all.count(c => c.parent == sp.id && c.layer == "stage").toDouble)), "count"),
      ("operators.indexed_p50_ms", indexedP50Ms, "ms"))
  }
}
