package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.GraftFunctions
import graft.operators.{DedupPipeline, Lsh}
import graft.sources.{AudioFingerprint, ImageCodec, SyntheticCorpus, SyntheticMedia, VideoContainer, WavCodec}
import graft.queries.QuerySupport._

/** `mNN` multimodal corpus: image, video and audio decode, near-dup and
  * decontamination queries over the synthetic media corpus. */
object Multimodal {

  /** Row count for the video/audio corpora — 5× smaller than the image
    * corpus (rows are ~20-30 KB vs ~3 KB). */
  def mediaRows(dir: String): Long = math.max(200L, corpusRows(dir) / 5)

  /** (image_id, cluster, cluster_size) — the flagship pipeline's cluster
    * labels, dumped once per (sfDir, JVM): m01 returns the table verbatim
    * and m11 keys its keep rule off it (the docClusterLabels sharing
    * pattern — the edge build + CC loop run once, not per consumer). The
    * edge set + id map are ALSO dumped so the oracle can replicate the
    * clustering tail (connected components + representative relabel)
    * independently via a recursive transitive closure. */
  private def m01Clusters(s: SparkSession, d: String): DataFrame =
    dumpDerived(s, d, "m01_clusters") {
      val corpus = SyntheticCorpus.corpus(s, corpusRows(d)).toDF()
      val cache = new graft.operators.CacheHandle()
      val (idmap0, edges0) = DedupPipeline.edges(corpus, cache = cache)
      val idmap = dumpDerived(s, d, "m01_idmap")(idmap0)
      val edges = dumpDerived(s, d, "m01_edges")(edges0)
      cache.release()
      DedupPipeline.clustersFromEdges(idmap, edges)
    }

  /** Shared m07/m10 confirm tail: a per-row fingerprint table (several
    * rows per id — frame or offset slots) → guaranteed-radius banding →
    * the shared Lsh heat cap (NO pre-distinct: candidatePairsCapped's
    * bucket scan keeps one member per id in its ONE shuffle of the band
    * table; the cap therefore counts slot multiplicity — harsher
    * on hot buckets, the protective direction) → slot×slot min-Hamming
    * confirm ≤ maxHam. `bands` must guarantee candidacy at radius ≥
    * maxHam (pigeonhole), so recall is structural, not probabilistic. */
  private def bandMinHamPairs(fp: DataFrame, idCol: String, fpCol: String,
      bands: Column => Column, sourceTag: Int, maxHam: Int): DataFrame = {
    Lsh.candidatePairsCapped(Lsh.bands(fp, col(idCol), (sourceTag, bands(col(fpCol)), 64)))
      .join(fp.select(col(idCol).as("a"), col(fpCol).as("fa")), "a")
      .join(fp.select(col(idCol).as("b"), col(fpCol).as("fb")), "b")
      .groupBy(col("a"), col("b"))
      .agg(min(GraftFunctions.hamming64(col("fa"), col("fb"))).as("min_hamming"))
      .where(col("min_hamming") <= maxHam)
  }

  /** m09/st07 shared sides, each dumped once per (sfDir, JVM): the tagged
    * phash table (nw = the arriving delta slice) and the PERSISTED corpus
    * band index the delta probes — at production scale the index is the
    * artifact an ingest pipeline maintains; here the dump makes the batch
    * probe and its streaming twin read the identical static side. */
  private[queries] def m09Parts(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ph = dumpDerived(s, d, "m09_phashes")(
      SyntheticCorpus.corpus(s, corpusRows(d)).toDF()
        .select(col("image_id"), col("phash"),
          (pmod(xxhash64(col("image_id")), lit(7)) === 0).as("nw")))
    val corpusBands = dumpDerived(s, d, "m09_corpus_bands")(
      ph.where(!col("nw"))
        .select(col("image_id").as("old_id"), col("phash").as("old_phash"),
          explode(GraftFunctions.fingerprintBandsHamming2(col("phash"))).as("bk"))
        .select(col("bk"), col("old_id"), col("old_phash")))
    (ph, corpusBands)
  }

  /** One delta slice of images probed against the persisted corpus band
    * index: band → candidate join on the key → Hamming confirm → per-new-
    * image rollup. Batching-independent by construction (each decision
    * reads only the static index), which is what makes the st07 streaming
    * union provably equal m09's one-shot answer. */
  private[queries] def probeImageBands(newImgs: DataFrame, corpusBands: DataFrame): DataFrame =
    newImgs.select(col("image_id"), col("phash"),
        explode(GraftFunctions.fingerprintBandsHamming2(col("phash"))).as("bk"))
      .join(corpusBands, "bk")
      .withColumn("ham", GraftFunctions.hamming64(col("phash"), col("old_phash")))
      .where(col("ham") <= 2)
      .select(col("image_id"), col("old_id"), col("ham")).distinct()
      .groupBy(col("image_id"))
      .agg(count(lit(1)).as("n_matches"), min(col("ham")).as("min_ham"),
        min(col("old_id")).as("first_dup_id"))

  /**
   * Regression-frozen oracle constants for the fixed synthetic corpus
   * (seed 42). These are DERIVED values, not hand-authored:
   * `OracleDerivationSpec` re-derives both tables from
   * `SyntheticCorpus`+`DedupConfig` on every test run and fails with the
   * freshly derived literals when the corpus or config changes — update
   * them from that failure message. The oracle SQL below is GENERATED
   * from these constants, so test and oracle share one source of truth.
   */
  // m02 @ n=5000: (fmt, n, min_mean_px, max_mean_px, n_phash)
  val m02Expected: Seq[(String, Long, Long, Long, Long)] = Seq(
    ("jpg", 32L, 100L, 150L, 32L),
    ("png", 30L, 104L, 152L, 30L),
    ("ppm", 4865L, 87L, 169L, 4749L),
    ("ppmq", 73L, 97L, 160L, 73L))

  // m04 @ n=5000: (fmt, n, min_mean_luma, max_mean_luma, min_luma,
  // max_luma, n_grids) — same regression-frozen derivation rule as m02
  val m04Expected: Seq[(String, Long, Long, Long, Long, Long, Long)] = Seq(
    ("jpg", 32L, 96L, 165L, 30L, 227L, 32L),
    ("png", 30L, 101L, 164L, 22L, 243L, 30L),
    ("ppm", 4865L, 71L, 177L, 4L, 251L, 4774L),
    ("ppmq", 73L, 88L, 163L, 21L, 229L, 73L))

  // m05 @ n=1000 clips: (fps, n, min_mean_luma, max_mean_luma, n_clip_fp)
  // — same regression-frozen derivation rule as m02/m04
  val m05Expected: Seq[(Int, Long, Long, Long, Long)] = Seq(
    (10, 329L, 69L, 188L, 326L),
    (24, 307L, 59L, 179L, 302L),
    (30, 364L, 67L, 188L, 352L))

  // m06 @ n=1000 rows: (sample_rate, n, min_rms, max_rms, max_peak,
  // sum_zero_cross) — same regression-frozen derivation rule
  val m06Expected: Seq[(Int, Long, Long, Long, Long, Long)] = Seq(
    (8000, 340L, 4543L, 9343L, 18081L, 342753L),
    (16000, 325L, 4537L, 9307L, 18035L, 181442L),
    (44100, 335L, 4742L, 9310L, 17889L, 77722L))

  // m03 @ n=2000: (stage, rows_out)
  // candidates = 1108 under the radius-2 Manku fingerprint keys at
  // joint cap 4 (round 5; the old 16-bit block keys produced 9722 — the
  // 44-bit joints admit ~9x fewer coincidence pairs while FIXING the
  // recall the block keys silently lost at scale; near_edges unchanged)
  val m03Expected: Seq[(String, Long)] = Seq(
    ("sketches", 2000L), ("exact_tagged", 2000L), ("exact_edges", 11L),
    ("candidates", 1108L), ("near_edges", 90L), ("clusters", 2000L))

  /** Shared closure-replica CTE prefix for every oracle that re-derives
    * the flagship clustering tail from the m01 edge/idmap dumps (m01,
    * m11, m12): recursive transitive closure over the edge set, min-id
    * component labels, singletons via coalesce-to-vid, min-image_id
    * relabel + component sizes. ONE copy — a future closure-rule change
    * cannot drift between its three consumers. Use right after `WITH
    * RECURSIVE` and follow with the consumer's own CTEs/SELECT over
    * `lbl` (image_id, component) and `named` (component, cluster,
    * cluster_size). */
  private def m01ClosureCtes: String =
    s"""ed AS (SELECT src, dst FROM read_parquet(${oraclePath("m01_edges")}) WHERE src <> dst),
       |und AS (SELECT src AS u, dst AS v FROM ed UNION SELECT dst, src FROM ed),
       |reach(u, v) AS (
       |  SELECT u, v FROM und
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
       |comp AS (SELECT u AS id, least(u, min(v)) AS component FROM reach GROUP BY u),
       |nodes AS (SELECT image_id, vid FROM read_parquet(${oraclePath("m01_idmap")})),
       |lbl AS (
       |  SELECT n.image_id, coalesce(c.component, n.vid) AS component
       |  FROM nodes n LEFT JOIN comp c ON c.id = n.vid),
       |named AS (
       |  SELECT component, min(image_id) AS cluster, count(*) AS cluster_size
       |  FROM lbl GROUP BY component)""".stripMargin

  // brute-force new×corpus Hamming replica from the dumped phashes —
  // banded-output equality re-proves the radius-2 key recall guarantee
  private[queries] val incrementalImageNeardupOracle: String =
    s"""WITH p AS (SELECT image_id, phash, nw
       |  FROM read_parquet(${oraclePath("m09_phashes")})),
       |pairs AS (
       |  SELECT n.image_id, c.image_id AS old_id,
       |    bit_count(xor(n.phash, c.phash)) AS ham
       |  FROM p n JOIN p c ON n.nw AND NOT c.nw)
       |SELECT image_id, count(*) AS n_matches, min(ham) AS min_ham,
       |  min(old_id) AS first_dup_id
       |FROM pairs WHERE ham <= 2 GROUP BY image_id""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    // the flagship pipeline as a registered operator (north_rule; body
    // shared with m11 via [[m01Clusters]]).
    QueryDef("m01_corpus_dedup_clusters", { (s, d) => m01Clusters(s, d) },
      // clustering tail replicated as a recursive transitive closure over
      // the dumped edge set, then min-image_id relabel + component sizes
      s"""WITH RECURSIVE
         |$m01ClosureCtes
         |SELECT l.image_id, nm.cluster, nm.cluster_size
         |FROM lbl l JOIN named nm USING (component)""".stripMargin),
    // per-cluster CANONICAL KEEP on the image modality — d11's rule moved
    // onto the flagship's clusters, with the criterion an image tier
    // actually applies: keep the least-degraded copy (raw ppm, then
    // lossless png, then re-quantized ppmq, then lossy jpg), break ties
    // by the larger payload, then lowest image_id (total order — the
    // window pick is deterministic). Scale shape: the image BYTES never
    // move — the keep rule reads a 3-column metadata dump (id, fmt,
    // payload length) joined to the label table, then ONE window over
    // the cluster key; the canonical-drop itself is then an id-list
    // semi-join against the source table, never a byte shuffle.
    QueryDef("m11_image_canonical_keep", { (s, d) =>
      val meta = dumpDerived(s, d, "m11_meta")(
        SyntheticCorpus.corpus(s, corpusRows(d)).toDF()
          .select(col("image_id"), col("fmt"),
            length(col("bytes")).cast("long").as("n_bytes")))
      val fmtRank = when(col("fmt") === "ppm", 0)
        .when(col("fmt") === "png", 1)
        .when(col("fmt") === "ppmq", 2)
        .otherwise(3)
      val pick = Window.partitionBy(col("cluster"))
        .orderBy(col("fmt_rank"), col("n_bytes").desc, col("image_id"))
      m01Clusters(s, d).join(meta, "image_id")
        .withColumn("fmt_rank", fmtRank)
        .withColumn("rk", row_number().over(pick))
        .where(col("rk") === 1)
        .select(col("cluster"), col("image_id").as("keep_id"),
          col("cluster_size").as("n_members"),
          col("fmt").as("keep_fmt"), col("n_bytes").as("keep_bytes"))
    },
      // the m01 closure extended with the least-degraded keep rule: fmt
      // preference CASE, payload-length tie-break, window argmin — the
      // oracle re-derives closure AND pick, so a wrong fmt rank or an
      // unstable tie-break fails the hash gate
      s"""WITH RECURSIVE
         |$m01ClosureCtes,
         |meta AS (SELECT image_id, fmt, n_bytes FROM read_parquet(${oraclePath("m11_meta")})),
         |ranked AS (
         |  SELECT nm.cluster, l.image_id, nm.cluster_size, m.fmt, m.n_bytes,
         |    row_number() OVER (PARTITION BY nm.cluster ORDER BY
         |      CASE m.fmt WHEN 'ppm' THEN 0 WHEN 'png' THEN 1
         |                 WHEN 'ppmq' THEN 2 ELSE 3 END,
         |      m.n_bytes DESC, l.image_id) AS rk
         |  FROM lbl l JOIN named nm USING (component)
         |  JOIN meta m USING (image_id))
         |SELECT cluster, image_id AS keep_id, cluster_size AS n_members,
         |  fmt AS keep_fmt, n_bytes AS keep_bytes
         |FROM ranked WHERE rk = 1""".stripMargin),
    // CROSS-MODAL CONSISTENCY PROFILE — the label-noise report a
    // captioning/CLIP tier reads after dedup: per multi-member near-dup
    // cluster, how many DISTINCT captions and perceptual hashes its
    // members carry. n_captions = 1 means the cluster's caption is safe
    // to keep verbatim on the canonical copy; n_captions > 1 flags
    // caption drift inside visually-duplicate content (the caption/
    // capsub/capedit dup kinds by construction here; alt-text rewrites
    // in the wild) where a tier must PICK a canonical caption rather
    // than trust any one row. min/max caption length localizes the
    // truncation signature (capsub) vs the rewrite signature (capedit).
    // Scale shape: the labels are filtered to multi-member clusters
    // (duplicate-mass-sized, ~5% here) BEFORE the metadata join, so the
    // join and both aggregations run on dup-mass data; the metadata dump
    // carries (id, caption, phash) only — image bytes never shuffle
    // (the m11 discipline).
    QueryDef("m12_caption_consistency", { (s, d) =>
      val caps = dumpDerived(s, d, "m12_caps")(
        SyntheticCorpus.corpus(s, corpusRows(d)).toDF()
          .select(col("image_id"), col("caption"), col("phash")))
      m01Clusters(s, d).where(col("cluster_size") >= 2)
        .join(caps, "image_id")
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"),
          countDistinct(col("caption")).as("n_captions"),
          countDistinct(col("phash")).as("n_phashes"),
          min(length(col("caption"))).as("min_cap_len"),
          max(length(col("caption"))).as("max_cap_len"))
        .withColumn("cap_consistent", col("n_captions") === 1)
    },
      // the m01 closure re-derived from the edge dump, joined to the
      // (id, caption, phash) metadata dump: distinct-caption / distinct-
      // phash counts per multi-member cluster — a wrong closure, a lost
      // member, or a miscounted variant all fail the hash gate
      s"""WITH RECURSIVE
         |$m01ClosureCtes,
         |caps AS (SELECT image_id, caption, phash
         |  FROM read_parquet(${oraclePath("m12_caps")}))
         |SELECT nm.cluster, count(*) AS n_members,
         |  count(DISTINCT cp.caption) AS n_captions,
         |  count(DISTINCT cp.phash) AS n_phashes,
         |  min(length(cp.caption)) AS min_cap_len,
         |  max(length(cp.caption)) AS max_cap_len,
         |  count(DISTINCT cp.caption) = 1 AS cap_consistent
         |FROM lbl l JOIN named nm USING (component)
         |JOIN caps cp USING (image_id)
         |WHERE nm.cluster_size >= 2
         |GROUP BY nm.cluster""".stripMargin),
    // binary-column decode + feature extraction (multimodal plumbing;
    // decode for non-PPM formats is the clearly-marked stub fallback)
    QueryDef("m02_image_decode_stats", { (s, d) =>
      val stats = udf((bytes: Array[Byte], fmt: String) =>
        ImageCodec.decode(bytes, fmt) match {
          case Some(dec) =>
            var sum = 0L
            var i = 0
            while (i < dec.rgb.length) { sum += (dec.rgb(i) & 0xff); i += 1 }
            (dec.w, dec.h, sum / dec.rgb.length)
          case None => (-1, -1, -1L) // stub path: undecodable format
        })
      SyntheticCorpus.corpus(s, corpusRows(d)).toDF()
        .withColumn("st", stats(col("bytes"), col("fmt")))
        .groupBy(col("fmt"))
        .agg(count(lit(1)).as("n"),
          min(col("st._3")).as("min_mean_px"),
          max(col("st._3")).as("max_mean_px"),
          countDistinct(col("phash")).as("n_phash"))
    },
      // deterministic decode statistics of the fixed synthetic corpus
      // (n=5000, seed 42): one row per container format incl. the real
      // PNG/JPEG decode paths — constants derived per m02Expected above
      ("SELECT * FROM (VALUES\n" +
        m02Expected.map { case (f, n, mn, mx, np) =>
          s"  ('$f', $n, $mn, $mx, $np)" }.mkString(",\n") +
        "\n) AS t(fmt, n, min_mean_px, max_mean_px, n_phash)")),
    // multimodal RESIZE: decode → nearest-neighbor 8×8 grayscale
    // thumbnail (ImageCodec.thumbnail — integer BT.601 luma, platform-
    // deterministic) → per-format stats over the grids. The thumbnail is
    // the standard pre-embedding normalization step; like m02, the
    // per-row work is inherently JVM decode+resample (a UDF by nature),
    // and the oracle is the regression-frozen constant table
    // OracleDerivationSpec re-derives on every test run.
    QueryDef("m04_thumbnail_stats", { (s, d) =>
      val thumb = udf((bytes: Array[Byte], fmt: String) =>
        ImageCodec.decode(bytes, fmt) match {
          case Some(dec) =>
            val g = ImageCodec.thumbnail(dec, 8)
            (g.sum.toLong / g.length, g.min.toLong, g.max.toLong,
              g.mkString(","))
          case None => (-1L, -1L, -1L, "") // stub path: undecodable format
        })
      SyntheticCorpus.corpus(s, corpusRows(d)).toDF()
        .withColumn("th", thumb(col("bytes"), col("fmt")))
        .groupBy(col("fmt"))
        .agg(count(lit(1)).as("n"),
          min(col("th._1")).as("min_mean_luma"),
          max(col("th._1")).as("max_mean_luma"),
          min(col("th._2")).as("min_luma"),
          max(col("th._3")).as("max_luma"),
          countDistinct(col("th._4")).as("n_grids"))
    },
      ("SELECT * FROM (VALUES\n" +
        m04Expected.map { case (f, n, mnm, mxm, mn, mx, ng) =>
          s"  ('$f', $n, $mnm, $mxm, $mn, $mx, $ng)" }.mkString(",\n") +
        "\n) AS t(fmt, n, min_mean_luma, max_mean_luma, min_luma, max_luma, n_grids)")),
    // multimodal FRAME-SAMPLE: k=4 uniform frames per clip via header
    // arithmetic on the seekable GVI1 container — per-row cost is
    // O(k·frameBytes) regardless of clip length (VideoContainer scaladoc
    // has the 100-TB byte-range argument). Per-clip work is inherently
    // JVM decode (a UDF by nature, like m02/m04); everything around it is
    // a narrow map + one partial-aggregated groupBy on a 3-value key.
    // Oracle: regression-frozen constants, re-derived by
    // OracleDerivationSpec on every test run.
    QueryDef("m05_frame_sample", { (s, d) =>
      val k = 4
      val stats = udf((bytes: Array[Byte]) =>
        VideoContainer.header(bytes) match {
          case Some(hd) =>
            val means = VideoContainer.sampleIndices(hd.nframes, k).map { i =>
              val fr = VideoContainer.frame(bytes, hd, i)
              var sum = 0L; var j = 0
              while (j < fr.length) { sum += (fr(j) & 0xff); j += 1 }
              sum / fr.length
            }
            // clip fingerprint over the sampled trajectory: frame count +
            // the k means — the cheap pre-embedding dedup key for video
            val fp = graft.core.Murmur3.hash64(
              means.mkString(","), hd.nframes.toLong)
            (means.sum / means.length, means.min, means.max, fp)
          case None => (-1L, -1L, -1L, 0L) // undecodable container
        })
      SyntheticMedia.videos(s, mediaRows(d)).toDF()
        .withColumn("st", stats(col("bytes")))
        .groupBy(col("fps"))
        .agg(count(lit(1)).as("n"),
          min(col("st._1")).as("min_mean_luma"),
          max(col("st._1")).as("max_mean_luma"),
          countDistinct(col("st._4")).as("n_clip_fp"))
    },
      ("SELECT * FROM (VALUES\n" +
        m05Expected.map { case (f, n, mn, mx, nf) =>
          s"  ($f, $n, $mn, $mx, $nf)" }.mkString(",\n") +
        "\n) AS t(fps, n, min_mean_luma, max_mean_luma, n_clip_fp)")),
    // multimodal AUDIO decode + feature extraction: real RIFF/WAVE chunk
    // walk (WavCodec — handles foreign chunks, returns None per-row on
    // non-PCM16 input so a corpus scan never fails per-job), then
    // RMS/peak/zero-crossing stats grouped by sample rate. Same frozen-
    // constant oracle discipline as m02/m04/m05.
    QueryDef("m06_audio_stats", { (s, d) =>
      val stats = udf((bytes: Array[Byte]) =>
        WavCodec.decode(bytes) match {
          case Some(w) =>
            var sumSq = 0.0; var peak = 0L; var zc = 0L
            var i = 0
            var prevNeg = false
            while (i < w.samples.length) {
              val v = w.samples(i).toLong
              sumSq += v.toDouble * v
              if (math.abs(v) > peak) peak = math.abs(v)
              val neg = v < 0
              if (i > 0 && neg != prevNeg) zc += 1
              prevNeg = neg
              i += 1
            }
            (math.sqrt(sumSq / w.samples.length).toLong, peak, zc)
          case None => (-1L, -1L, -1L) // undecodable/non-PCM16 input
        })
      SyntheticMedia.audios(s, mediaRows(d)).toDF()
        .withColumn("st", stats(col("bytes")))
        .groupBy(col("sample_rate"))
        .agg(count(lit(1)).as("n"),
          min(col("st._1")).as("min_rms"),
          max(col("st._1")).as("max_rms"),
          max(col("st._2")).as("max_peak"),
          sum(col("st._3")).as("sum_zero_cross"))
    },
      ("SELECT * FROM (VALUES\n" +
        m06Expected.map { case (r, n, mn, mx, pk, zc) =>
          s"  ($r, $n, $mn, $mx, $pk, $zc)" }.mkString(",\n") +
        "\n) AS t(sample_rate, n, min_rms, max_rms, max_peak, sum_zero_cross)")),
    // VIDEO near-dup pairs: the frame-sample primitive composed into a
    // dedup tier. Per clip: k=4 sampled-frame phashes (header arithmetic,
    // O(k) per row — the ONLY per-row kernel work) → the flagship's
    // radius-2 Manku joint keys (C(6,4)=15 ~44-bit keys: any frame pair
    // within Hamming 2 shares ≥ 1 key by pigeonhole — GUARANTEED
    // candidacy) over ONE bucket shuffle with the Lsh hot-bucket cap →
    // k×k min-Hamming confirm ≤ 2. Catches the injected trim/renoise/
    // refps republications (measured: dup pairs sit at Hamming ≤ 1; the
    // random background floor is 8 — QueriesSpec asserts recall 1.0 vs
    // ground truth AT TWO SCALES). Why joint keys and not single 8-bit
    // blocks: structured frame phashes cluster, so single-block buckets
    // blow the heat cap as the corpus grows — measured at 4000 clips,
    // 444 of 739 single-block buckets were hot and 197 of 400 true dup
    // pairs lost ALL candidacy (recall 0.51); the 44-bit joints read 0
    // hot buckets / max 12 / recall 1.0 at the same scale. Scale shape:
    // never all-pairs; candidates are bucket-local; the confirm joins a
    // k-row-per-clip table, not clip payloads. The oracle brute-forces
    // ALL clip-pair min-Hammings from the phash dump — equality
    // re-proves the banding recall guarantee on data (the m08/m09
    // oracle discipline).
    QueryDef("m07_clip_neardup_pairs", { (s, d) =>
      val k = 4
      val phashes = udf((bytes: Array[Byte]) =>
        VideoContainer.header(bytes) match {
          case Some(hd) =>
            VideoContainer.sampleIndices(hd.nframes, k).zipWithIndex.map {
              case (fi, slot) =>
                val g = VideoContainer.frame(bytes, hd, fi)
                // gray → rgb triplicate: BT.601 luma of (g,g,g) is g, so
                // phash64's weighting is exact on grayscale frames
                val rgb = new Array[Byte](g.length * 3)
                var j = 0
                while (j < g.length) {
                  rgb(3 * j) = g(j); rgb(3 * j + 1) = g(j); rgb(3 * j + 2) = g(j)
                  j += 1
                }
                (slot, ImageCodec.phash64(rgb, hd.w, hd.h))
            }.toSeq
          case None => Seq.empty[(Int, Long)]
        })
      val ph = dumpDerived(s, d, "m07_frame_phash")(
        graft.sources.SyntheticMedia.videos(s, mediaRows(d)).toDF()
          .select(col("video_id"), explode(phashes(col("bytes"))).as("fp"))
          .select(col("video_id"), col("fp._1").as("slot"), col("fp._2").as("phash")))
      bandMinHamPairs(ph, "video_id", "phash",
        GraftFunctions.fingerprintBandsHamming2, sourceTag = 13, maxHam = 2)
    },
      // brute-force ALL clip-pair min-Hammings from the dumped per-(clip,
      // slot) frame phashes — equality with the banded path re-proves the
      // radius-2 Manku key recall guarantee on data (a banded miss OR a
      // heat-cap loss on a true pair would show up as a missing row here)
      s"""WITH ph AS (SELECT video_id, phash
         |  FROM read_parquet(${oraclePath("m07_frame_phash")})),
         |ham AS (
         |  SELECT pa.video_id AS a, pb.video_id AS b,
         |    min(bit_count(xor(pa.phash, pb.phash))) AS min_hamming
         |  FROM ph pa JOIN ph pb ON pa.video_id < pb.video_id
         |  GROUP BY 1, 2)
         |SELECT a, b, min_hamming FROM ham WHERE min_hamming <= 2""".stripMargin),
    // resumable pipeline: checkpoint/lineage table (north_rule); returns
    // the per-stage lineage metrics of a checkpointed flagship run
    QueryDef("m03_checkpointed_lineage", { (s, d) =>
      val root = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
      val n = math.min(corpusRows(d), 2000L)
      val corpus = SyntheticCorpus.corpus(s, n).toDF()
      val fp = graft.operators.Lineage.fingerprint("synthetic", n.toString, "42")
      graft.operators.Lineage.checkpointedClusters(
        s, corpus, graft.operators.DedupConfig(), root, fp).count()
      // stage names + row counts are deterministic for the fixed corpus;
      // n_partitions depends on the session's parallelism — excluded
      new graft.operators.Lineage(s, root).lineage()
        .select(col("stage"), col("rows_out"))
    },
      // stage rows derived per m03Expected (see the scaladoc there):
      // deterministic for the fixed synthetic corpus (n=2000, seed 42)
      ("SELECT * FROM (VALUES\n" +
        m03Expected.map { case (st, n) => s"  ('$st', $n)" }.mkString(",\n") +
        "\n) AS t(stage, rows_out)")),
    // IMAGE-side decontamination — d16's twin for the image modality:
    // flag training images whose phash sits within Hamming ≤ 2 of any
    // image in a held-out eval slice (~2%, deterministic id-hash split).
    // Never all-pairs: both sides key on the flagship's radius-2 Manku
    // joints (C(6,4)=15 four-block ~44-bit keys — ANY ham ≤ 2 pair
    // shares ≥ 1 key by pigeonhole, so candidate recall is GUARANTEED,
    // not probabilistic), the eval key table broadcasts (15 keys × the
    // eval slice), and the Hamming confirm runs before the pair-dedup
    // shuffle so only true matches pay an exchange. The oracle
    // brute-forces ALL eval×train Hamming pairs from the dumped phashes
    // in SQL — i.e. it independently re-proves the pigeonhole recall
    // guarantee on real data, not just the banded path's own output.
    QueryDef("m08_image_decontaminate", { (s, d) =>
      val ph = dumpDerived(s, d, "m08_phashes")(
        SyntheticCorpus.corpus(s, corpusRows(d)).toDF()
          .select(col("image_id"), col("phash"),
            (pmod(xxhash64(col("image_id")), lit(43)) === 0).as("ev")))
      val keyed = ph.select(col("image_id"), col("phash"), col("ev"),
        explode(GraftFunctions.fingerprintBandsHamming2(col("phash"))).as("bk"))
      val evalKeys = keyed.where(col("ev"))
        .select(col("bk"), col("image_id").as("eval_id"), col("phash").as("eval_phash"))
      keyed.where(!col("ev"))
        .join(broadcast(evalKeys), "bk")
        .withColumn("ham", GraftFunctions.hamming64(col("phash"), col("eval_phash")))
        .where(col("ham") <= 2)
        .select(col("image_id"), col("eval_id"), col("ham"))
        .distinct()
        .groupBy(col("image_id"))
        .agg(count(lit(1)).as("n_eval_matches"),
          min(col("ham")).as("min_ham"),
          min(col("eval_id")).as("first_eval_id"))
    },
      // image decontamination brute-forced: EVERY eval×train phash pair's
      // Hamming distance from the dump — independently re-proving the
      // radius-2 Manku keys' pigeonhole recall guarantee (a banded miss
      // would show up as a missing row here)
      s"""WITH p AS (SELECT image_id, phash, ev
         |  FROM read_parquet(${oraclePath("m08_phashes")})),
         |pairs AS (
         |  SELECT t.image_id, e.image_id AS eval_id,
         |    bit_count(xor(t.phash, e.phash)) AS ham
         |  FROM p t JOIN p e ON e.ev AND NOT t.ev)
         |SELECT image_id, count(*) AS n_eval_matches, min(ham) AS min_ham,
         |  min(eval_id) AS first_eval_id
         |FROM pairs WHERE ham <= 2 GROUP BY image_id""".stripMargin),
    // INCREMENTAL image near-dup probe — the d12/st05 delta-vs-index
    // relationship replayed on the IMAGE modality: newly ingested images
    // (a deterministic ~1/7 hash split standing in for the arriving
    // slice) probe the PERSISTED corpus band index; the corpus itself is
    // never re-banded or re-shuffled per delta. Candidacy uses the same
    // radius-2 Manku joint keys as m08 (ham ≤ 2 recall GUARANTEED by
    // pigeonhole), confirm is the codegen'd 64-bit Hamming kernel. The
    // oracle brute-forces ALL new×corpus pairs from the dumped phashes —
    // equality re-proves the banding recall guarantee on data, exactly
    // as m08's does.
    QueryDef("m09_incremental_image_neardup", { (s, d) =>
      val (ph, corpusBands) = m09Parts(s, d)
      probeImageBands(ph.where(col("nw"))
        .select(col("image_id"), col("phash")), corpusBands)
    },
      incrementalImageNeardupOracle),
    // AUDIO near-dup pairs — the last modality of the dedup matrix
    // (text d03-d05, image m01, video m07, audio here). Per row: the
    // RIFF/WAVE decode feeds the Haitsma-Kalker-style energy-delta
    // fingerprint at 2 window offsets (slot 2 pairs with the corpus's
    // 2-block `atrim` head cut EXACTLY, the m07 k-frame idiom for
    // alignment) → joint 3-of-8 band keys (C(8,3)=56 24-bit keys: any
    // pair within Hamming 5 shares ≥ 1 key by pigeonhole — GUARANTEED
    // candidacy) over ONE bucket shuffle with the shared Lsh hot-bucket
    // cap → slot×slot min-Hamming confirm ≤ 5. Measured separation on
    // ground truth (AudioFingerprintSpec): dups ≤ 2 (atrim/regain
    // exactly 0 — the fingerprint is gain-invariant by construction),
    // random floor min 17 / median 28; at 4000 rows the joints read 0
    // hot buckets (max 4) and 570 coincidence candidates — single 8-bit
    // blocks at the same scale had 294 hot buckets losing 6 of 400 true
    // pairs. Scale shape identical to m07: never all-pairs, candidates
    // bucket-local, confirm joins a 2-row-per-audio fingerprint table,
    // never audio payloads. The oracle brute-forces ALL audio-pair
    // min-Hammings from the fp dump — equality re-proves the banding
    // recall guarantee on data (the m08/m09 oracle discipline).
    QueryDef("m10_audio_neardup_pairs", { (s, d) =>
      val hop = SyntheticMedia.ENV_HOP
      val fps = udf((bytes: Array[Byte]) =>
        WavCodec.decode(bytes) match {
          case Some(w) => Seq(0, 2).map(o =>
            (o, AudioFingerprint.energyDelta64(w.samples, hop, o)))
          case None => Seq.empty[(Int, Long)] // undecodable input
        })
      val fp = dumpDerived(s, d, "m10_audio_fp")(
        SyntheticMedia.audiosDedup(s, mediaRows(d)).toDF()
          .select(col("audio_id"), explode(fps(col("bytes"))).as("f"))
          .select(col("audio_id"), col("f._1").as("slot"), col("f._2").as("fp")))
      bandMinHamPairs(fp, "audio_id", "fp",
        GraftFunctions.fingerprintJointBands(_, 3), sourceTag = 14, maxHam = 5)
    },
      // brute-force ALL audio-pair min-Hammings from the dumped per-
      // (audio, slot) energy-delta fingerprints — equality with the banded
      // path re-proves the 3-of-8 joint-key recall guarantee on data
      s"""WITH fp AS (SELECT audio_id, fp
         |  FROM read_parquet(${oraclePath("m10_audio_fp")})),
         |ham AS (
         |  SELECT fa.audio_id AS a, fb.audio_id AS b,
         |    min(bit_count(xor(fa.fp, fb.fp))) AS min_hamming
         |  FROM fp fa JOIN fp fb ON fa.audio_id < fb.audio_id
         |  GROUP BY 1, 2)
         |SELECT a, b, min_hamming FROM ham WHERE min_hamming <= 5""".stripMargin))
}
