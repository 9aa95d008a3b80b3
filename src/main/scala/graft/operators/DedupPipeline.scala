package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.functions._
import graft.core.SketchConfig
import graft.functions.GraftFunctions._

/**
 * The flagship pipeline's tuning: constants, not options. Each comment's
 * guarantee holds only at its value. Band/row counts give the s-curve
 * P(detect | jaccard=0.8) ≈ 1 − (1−0.8⁴)³² ≈ 1 − 5·10⁻⁸. The type exists
 * because perfbench and the specs name it and its members and pass `cfg`
 * positionally; the `cfg` parameters can go only in a change that also
 * edits perfbench. `toString` renders every value as the Lineage
 * fingerprint input, so a changed constant invalidates old checkpoints.
 */
final case class DedupConfig() {
  val imgSketch: SketchConfig = SketchConfig(num = 128, ksize = 16)
  val imgStride: Int = 4
  val capSketch: SketchConfig = SketchConfig(num = 128, ksize = 4)
  // image content is near-orthogonal across rows -> lenient s-curve (32x4).
  // captions carry heavy template/boilerplate background similarity ->
  // steep s-curve (16x8) so background jaccard ~0.5 stays out of buckets
  val imgBands: Int = 32
  val imgRowsPerBand: Int = 4
  // 8×16 after the round-1 flood diagnosis: 16×8 let 61% of jaccard-0.7
  // template background collide (2.09M of 2.4M candidate pairs at 300k
  // were caption-source); 8×16 passes 2.6% at 0.7 and 91% at the 0.92
  // caption-only edge threshold (image-backed dups are unaffected)
  val capBands: Int = 8
  val capRowsPerBand: Int = 16
  val tauImg: Double = 0.35
  // caption-only evidence must be near-identity to merge clusters: at
  // web scale, templated/boilerplate captions chain moderate-similarity
  // pairs into mega-clusters of genuinely different images. Moderate
  // caption similarity is still REPORTED by the pair queries (d04/d05) —
  // it just does not glue image clusters on its own.
  val tauCap: Double = 0.92
  val tauCapCorroborated: Double = 0.8
  // confirm-side fingerprint radii; the candidate keys (Manku
  // multi-piece, 6 blocks, 4-block joints) guarantee recall to radius
  // 2, see GraftFunctions.fingerprintBandsHamming2
  val phashMaxHamming: Int = 3
  val simhashMaxHamming: Int = 3
  val maxBucket: Int = 64
  // tight heat cap for the fingerprint JOINT buckets: on dense
  // correlated content the joint-bucket size distribution is heavy-
  // tailed (measured at 600k rows: ~650k candidate pairs PER size
  // tier 2 / 3-4 / 5-8 / 9-16), so Σ C(size,2) is what this cap
  // bounds. Table redundancy, not bucket depth, carries recall
  // through it: a ham-1 pair shares C(5,4)=5 of the 15 combo tables,
  // ham-0 all 15 (same-image transforms measure ham ≤ 2; the n=100k
  // e2e gate pins recall 1.0 under this cap).
  val fpJointMaxBucket: Int = 4
  val substringMinLen: Int = 20
  // head-rewrite (splice) floor for the suffix-array pass. It bounds
  // the caption-side false-positive MASS (measured on the synthetic
  // template corpus: 9% of unrelated caption pairs share a >= 30-char
  // chunk, max 58 — tiny-vocabulary templates are chunk-heavy); the
  // conjunction with ph_ham <= phashMaxHamming carries precision, so a
  // false merge needs BOTH a boilerplate chunk AND a near-identical
  // perceptual hash between unrelated images (~1e-8/pair measured via
  // the corpus' phash collision rate). The e2e spec asserts the
  // resulting cluster partition EQUALS ground truth.
  val spliceMinLen: Int = 30
  // operational cap on the per-pair suffix-array input (chars): bounds
  // confirm-stage work and memory on pathological captions; any real
  // splice/containment decision resolves well within it
  val lcsMaxChars: Int = 4096
  val ccMaxIter: Int = ConnectedComponents.MaxIter
  override def toString: String = Seq(imgSketch, imgStride, capSketch, imgBands,
    imgRowsPerBand, capBands, capRowsPerBand, tauImg, tauCap, tauCapCorroborated,
    phashMaxHamming, simhashMaxHamming, maxBucket, fpJointMaxBucket,
    substringMinLen, spliceMinLen, lcsMaxChars, ccMaxIter).mkString("DedupConfig(", ",", ")")
}

/** Tracks the local checkpoints taken while building a pipeline so
  * callers can free their executor blocks once the result is
  * materialized (a long-lived session running many pipelines would
  * otherwise leak them). [[release]] unpersists each checkpoint's RDD;
  * a frame still planned over it cannot run after that. */
final class CacheHandle {
  private var rdds: List[org.apache.spark.rdd.RDD[_]] = Nil
  /** `df` checkpointed eagerly (one job, now) and tracked. */
  private[operators] def checkpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(true)
    rdds :::= CacheHandle.rddsOf(cp)
    cp
  }
  /** Ids of the tracked checkpoint RDDs, for the specs. */
  private[operators] def rddIds: Seq[Int] = rdds.map(_.id)
  def release(): Unit = { rdds.foreach(_.unpersist(false)); rdds = Nil }
}

object CacheHandle {
  /** The checkpointed RDDs a checkpoint frame `cp` reads. */
  private[operators] def rddsOf(cp: DataFrame): List[org.apache.spark.rdd.RDD[_]] =
    cp.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.toList

  /** Unpersist the checkpoint `cp` reads; a frame still planned over it
    * cannot run after that. */
  private[operators] def free(cp: DataFrame): Unit = rddsOf(cp).foreach(_.unpersist(false))
}

/**
 * The flagship operator: near-duplicate detection + clustering over the
 * `(image_id, bytes, w, h, fmt, caption, phash)` table.
 *
 * Stage graph (shuffle boundaries marked ⇄, the checkpoint ■):
 *
 *   scan → sketch (narrow; bytes projected away immediately after)
 *        ⇄ exact-dedup window (partitionBy exact_key — removes
 *          exact-dup mass BEFORE LSH: the worst bucket skew becomes a
 *          pre-aggregation, SURVEY.md §7)
 *        ■ local checkpoint — ONE eager job inside [[edges]]; every
 *          scan below (band table, confirm sides, exact edges, idmap)
 *          reads its rows
 *        → band explode (narrow)
 *        ⇄ bucket shuffle by bandKey → sort by (bandKey, id) → one scan
 *          per bucket: cap count + in-bucket pairs (Lsh.candidatePairsCapped)
 *        ⇄ pair dedup
 *        ⇄ staged confirm join (slim image/fingerprint side, the
 *          corroboration reject, then the caption side for survivors)
 *        → edge filter (narrow)
 *        ⇄ connected components (one collect + union-find on the driver
 *          up to ConnectedComponents.DriverEdgeGate edges; above it
 *          large-star/small-star, O(log n) rounds)
 *        ⇄ representative relabel
 *
 * Five candidate sources feed one band table, mirroring the reference's
 * multi-sketch records (`Signature.signatures`, one per ksize×moltype —
 * here one per modality): image MinHash bands, caption MinHash bands,
 * phash bit-blocks, caption SimHash bit-blocks, and exact-phash groups.
 * One projection with one generator emits every source's tagged keys
 * ([[bandedAll]]), so the band side reads the exact-dedup table once.
 */
object DedupPipeline {

  /** Per-row sketching; `bytes` is projected away here and never shuffled.
    * `vid` (xxhash64 of the id) keys every internal shuffle: 8-byte keys
    * instead of strings through banding, confirm, and CC. */
  def sketches(df: DataFrame, cfg: DedupConfig): DataFrame = {
    df.select(
      col("image_id"),
      xxhash64(col("image_id")).as("vid"),
      captionMinhash(col("caption"), cfg.capSketch).as("cap_mins"),
      imageMinhash(col("bytes"), col("fmt"), cfg.imgSketch, cfg.imgStride).as("img_mins"),
      captionSimhash(col("caption"), cfg.capSketch.ksize, cfg.capSketch.seed).as("cap_simhash"),
      col("phash"),
      regexp_replace(lower(trim(col("caption"))), "\\s+", " ").as("cap_norm"),
      // null-safe: concat propagates null, which would glue every
      // null-caption/null-bytes row into one giant "exact dup" group —
      // coalesce each field to a distinct sentinel instead
      md5(concat_ws(":",
        coalesce(md5(col("bytes")), lit("nb")),
        coalesce(md5(encode(col("caption"), "UTF-8")), lit("nc")))).as("exact_key"))
  }

  /** Single-shuffle exact dedup: one window pass over `exact_key` tags
    * every row with its group representative — replaces groupBy +
    * broadcast-back + semi-join (3 shuffles → 1). */
  def exactDedupWindowed(sk: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("exact_key"))
    sk.withColumn("rep", min(col("image_id")).over(w))
  }

  /** Candidate pairs from all five LSH sources, over representatives only. */
  def candidates(skReps: DataFrame, cfg: DedupConfig): DataFrame =
    Lsh.candidatePairsCapped(bandedAll(skReps, cfg))

  /** The (id, bandKey, cap) band table feeding the shared bucket shuffle:
    * all five candidate sources, read from `skReps` in one [[Lsh.bands]]
    * projection. Split out of [[candidates]] so bucket accounting
    * ([[Lsh.bucketStats]]) reads the same table the pair generation does.
    * MinHash bands and exact-phash groups take the standard heat cap,
    * fingerprint joints the tighter one (see fpJointMaxBucket — redundant
    * combo tables carry their recall, and a joint bucket past the cap is
    * coincidence mass whose ham-0 fraction the exact-phash source
    * recovers). */
  def bandedAll(skReps: DataFrame, cfg: DedupConfig): DataFrame =
    Lsh.bands(skReps, col("vid"),
      (1, minhashBands(col("cap_mins"), cfg.capBands, cfg.capRowsPerBand, cfg.capSketch.seed),
        cfg.maxBucket),
      (2, minhashBands(col("img_mins"), cfg.imgBands, cfg.imgRowsPerBand, cfg.imgSketch.seed),
        cfg.maxBucket),
      // fingerprint sources use the Manku multi-piece scheme at radius 2
      // (6 blocks, C(6,4)=15 four-block ~44-bit joint keys): ham <= 2
      // candidate recall is guaranteed by pigeonhole — the radius all true
      // same-image transforms measure — and key selectivity is what holds
      // at scale. The two rejected designs are instructive: single 16-bit
      // pigeonhole blocks saturate (at 10^5 rows, 92% of block mass sat
      // past the heat cap and the phash path was silently dead — 59 lost
      // capedit pairs), and 3-block 33-bit joints (radius-3 guarantee)
      // stayed cold per-bucket but admitted 12.7M coincidence pairs at
      // 600k rows on correlated phashes, a 50x confirm blowup. See
      // GraftFunctions.fingerprintBandsHamming2.
      (3, fingerprintBandsHamming2(col("phash")), cfg.fpJointMaxBucket),
      (4, fingerprintBandsHamming2(col("cap_simhash")), cfg.fpJointMaxBucket),
      // full-phash equality as its own source: a ham-0 pair riding inside a
      // genuine near-identical MASS sees every 3-block joint bucket heat
      // past the cap (the joints of a near-identical mass are shared by the
      // whole mass). The exact-64-bit group is the tightest key available,
      // so it is the last bucket to cross the cap — it recovers the ham-0
      // fraction of exactly those masses.
      (5, array(col("phash")), cfg.maxBucket))

  /**
   * Per-rule edge predicates over a [[scores]] frame or the specs'
   * ungated reference scoring — split out so the spec layer can
   * attribute each caught pair to the rule that caught it.
   *
   * SCALE PRINCIPLE (round-5 redesign): no single weak modality may merge
   * on its own. At 10⁵ reps the complete candidate set (post-Manku keys)
   * surfaced 2,808 cross-cluster pairs where caption evidence + a phash
   * within ham 3 agreed BY COINCIDENCE — structured 64-bit perceptual
   * hashes collide orders of magnitude more often than uniform bits, and
   * template captions hand out ≥30-char chunks and jaccard ≥0.3 freely.
   * (They passed unnoticed before only because the saturated 16-bit
   * block buckets starved those pairs out of candidacy.) Every caption/
   * fingerprint rule therefore now demands pixel-level corroboration:
   * `img_sim > 0` = at least one shared pixel shingle, the weakest
   * image agreement the 128-min sketch can express — measured on the
   * 100k corpus it holds for every true pair of every kind (quantized
   * re-encodes bottom out at exactly 1/128) while 99% of coincidence
   * pairs have exactly none. Where a true kind can plausibly lose even
   * that (re-encode at harsher quantization), a near-exact phash
   * (`ph_ham <= phashMaxHamming`, guaranteed ≤2 for same-image
   * transforms here) is accepted as the alternate corroborator — the
   * compound coincidence (caption-identical AND phash-colliding) is what
   * the measured 1-in-10⁵-rows residual consists of. Result at n=100k:
   * 2,808 → 1 false edge with per-kind recall still 100%.
   */
  def edgeRules(cfg: DedupConfig): Seq[(String, Column)] = {
    val imgAny = col("img_sim") > 0.0 // >= 1 shared pixel shingle of 128
    val phNear = col("ph_ham") <= cfg.phashMaxHamming
    val corrob = corroborated(col("img_sim"), col("ph_ham"), cfg) // imgAny || phNear
    Seq(
      "img_minhash" -> (col("img_sim") >= cfg.tauImg),
      "cap_minhash" -> (col("cap_sim") >= cfg.tauCap && corrob),
      "phash_corrob" -> (phNear && col("cap_sim") >= 0.3 && imgAny),
      "simhash_corrob" -> (col("sh_ham") <= cfg.simhashMaxHamming &&
        col("cap_sim") >= cfg.tauCapCorroborated && corrob),
      // the suffix-array pass has two shapes with DIFFERENT floors:
      //  - containment (capsub): lcs >= substringMinLen is only evidence
      //    together with near-total sketch containment + image support —
      //    template boilerplate alone clears a 20-char floor on captioned
      //    corpora (truncation collisions even clear containment 1.0), so
      //    image agreement is the required corroborator here;
      //  - head-rewrite (splice): the shared chunk itself is the signal,
      //    its floor (spliceMinLen) above the boilerplate-chunk mode,
      //    corroborated by BOTH a near-identical perceptual hash and
      //    pixel-shingle agreement (sketch jaccard and simhash are cold
      //    in this shape by construction)
      "suffix_lcs" ->
        ((col("cap_lcs") >= cfg.substringMinLen && col("cap_contain") >= 0.9 &&
          col("img_sim") >= 0.15) ||
         (col("cap_lcs") >= cfg.spliceMinLen && phNear && imgAny)))
  }

  /** OR of all [[edgeRules]] — the confirm filter. */
  def edgeRule(cfg: DedupConfig): Column =
    edgeRules(cfg).map(_._2).reduce(_ || _)

  /**
   * Candidate scoring, the pipeline's confirm shape: reference-semantics
   * similarity/containment plus fingerprint distances and the gated
   * suffix-array substring pass, one row per candidate pair that passes
   * [[corroborated]]. [[confirm]] = scores.where(edgeRule).
   *
   * STAGED: stage 1 joins the candidates against a slim
   * `(img_mins, phash, cap_simhash)` projection (~40% of the full payload
   * bytes) and computes the image/fingerprint scores; the coincidence-
   * reject gate runs right there — [[corroborated]] is the floor EVERY
   * [[edgeRules]] entry requires, so pairs failing it are dropped before
   * the caption sketches and the normalized caption STRING ever join.
   * Stage 2 attaches the caption payload to the survivors only and
   * computes the caption scores + the gated LCS.
   *
   * Why staged: fingerprint joint keys admit pairwise-coincidence
   * candidates in bulk (1.53M of 1.56M candidates at 600k rows), and a
   * candidate side that large is past any broadcast budget — a
   * monolithic confirm join sort-merges the full ~2.5 KB sketch payload
   * per junk pair. Staging sorts the slim half for everyone and the
   * caption half for the near-edge-density survivors, which is also
   * exactly the shape that survives 10¹² rows (nothing wide ever
   * shuffles for a pair no rule could confirm).
   *
   * Join strategy is left to AQE's RUNTIME statistics, not hinted:
   * [[edges]] runs the pipeline in a child session with the STATIC
   * broadcast planner off (UDF-derived size estimates are garbage; see
   * [[pipelineSession]]), so at validation scale AQE broadcasts the
   * small candidate side from true stage sizes, and at scale it keeps
   * the spill-safe sort-merge join. A merge hint would PIN sort-merge
   * (AQE honors hints) even when the candidate side is a few MB.
   *
   * The suffix-array kernel is gated twice, and `cap_lcs` carries a
   * sentinel where it was skipped: -1 = a CHEAP rule (sketch jaccard /
   * fingerprint hamming — vectorized per-pair O(num) work) already
   * confirms the pair, so it is an edge whatever `cap_lcs` says; -2 =
   * [[lcsRelevance]] fails, so no `cap_lcs` value could make it an edge.
   * Only the remaining pairs pay the O(len·log len) per-pair suffix sort.
   * The emitted EDGE SET equals the specs' ungated reference scoring's
   * (`PipelineOracles.scoresAllRules`, spec-asserted).
   */
  def scores(cands: DataFrame, sk: DataFrame, cfg: DedupConfig): DataFrame = {
    val sa = sk.select(col("vid").as("a"), col("img_mins").as("img_a"),
      col("phash").as("ph_a"), col("cap_simhash").as("sh_a"))
    val sb = sk.select(col("vid").as("b"), col("img_mins").as("img_b"),
      col("phash").as("ph_b"), col("cap_simhash").as("sh_b"))
    val slim = cands.join(sa, "a").join(sb, "b")
      .withColumn("img_sim", jaccard(col("img_a"), col("img_b"), cfg.imgSketch))
      .withColumn("ph_ham", hamming64(col("ph_a"), col("ph_b")))
      .withColumn("sh_ham", hamming64(col("sh_a"), col("sh_b")))
      .where(corroborated(col("img_sim"), col("ph_ham"), cfg))
      .select(col("a"), col("b"), col("img_sim"), col("ph_ham"), col("sh_ham"))
    val ca = sk.select(col("vid").as("a"), col("cap_mins").as("cap_a"),
      col("cap_norm").as("cn_a"))
    val cb = sk.select(col("vid").as("b"), col("cap_mins").as("cap_b"),
      col("cap_norm").as("cn_b"))
    val scored = slim.join(ca, "a").join(cb, "b")
      .withColumn("cap_sim", jaccard(col("cap_a"), col("cap_b"), cfg.capSketch))
      .withColumn("cap_contain",
        greatest(containment(col("cap_a"), col("cap_b")),
          containment(col("cap_b"), col("cap_a"))))
    // suffix_lcs is the only rule that reads cap_lcs: the OR of the
    // others is the cheap-confirm gate
    val cheapConfirmed = edgeRules(cfg)
      .collect { case (name, c) if name != "suffix_lcs" => c }
      .reduce(_ || _)
    scored
      .withColumn("cap_lcs",
        when(cheapConfirmed, lit(-1))
          .when(!lcsRelevance(cfg), lit(-2))
          .otherwise(capLcs(cfg)))
      .withColumn("substr_hit", col("cap_lcs") >= cfg.substringMinLen)
  }

  /** Exact-substring pass (north rule): generalized-suffix-array longest
    * common substring of the normalized captions. Containment of the
    * shorter caption is the special case lcs == min(len); unlike
    * contains(), this also catches head/tail caption rewrites that keep a
    * long shared chunk. Inputs are capped at lcsMaxChars (pathological
    * megabyte captions must not blow the per-pair suffix sort; decisions
    * resolve far below the cap). */
  private[operators] def capLcs(cfg: DedupConfig): Column =
    captionLcs(
      substring(col("cn_a"), 1, cfg.lcsMaxChars),
      substring(col("cn_b"), 1, cfg.lcsMaxChars))

  /**
   * The weakest corroboration EVERY [[edgeRules]] entry requires:
   * `img_sim > 0 OR ph_ham <= phashMaxHamming` (check each rule:
   * img_minhash implies img_sim ≥ τ > 0; cap_minhash, simhash_corrob and
   * suffix_lcs's splice branch carry the disjunction explicitly;
   * phash_corrob and suffix_lcs's containment branch each require one
   * side of it). A pair failing it is provably not an edge, so
   * [[scores]] drops it from `(img_mins, phash)` alone.
   * Edit together with [[edgeRules]].
   */
  private def corroborated(imgSim: Column, phHam: Column, cfg: DedupConfig): Column =
    imgSim > 0.0 || phHam <= cfg.phashMaxHamming

  /** The suffix_lcs rule's NON-lcs corroborations (both branches, lcs
    * terms removed): when false, no cap_lcs value can make the pair an
    * edge, so [[scores]] may skip the suffix-array kernel. MUST stay the
    * lcs-free weakening of the "suffix_lcs" entry in [[edgeRules]]. */
  def lcsRelevance(cfg: DedupConfig): Column =
    (col("cap_contain") >= 0.9 && col("img_sim") >= 0.15) ||
    (col("ph_ham") <= cfg.phashMaxHamming && col("img_sim") > 0.0)

  /**
   * The session the pipeline runs in: a child of `s` (Bridge.scoped) with
   * the STATIC broadcast planner off — enforced by the operator itself,
   * not left to entrypoint session factories: the confirm joins' sketch
   * side is UDF-derived, and Catalyst's static size estimate of a
   * UDF-derived plan is garbage (it once planned a GB-scale broadcast →
   * driver maxResultSize crash). AQE's RUNTIME threshold — true stage
   * sizes — keeps the budget `s` resolves to, so the genuinely small
   * candidate side still broadcasts at validation scale while the wide
   * sketch side never can. `s` itself is left untouched.
   */
  private[operators] def pipelineSession(s: SparkSession): SparkSession = {
    val adaptiveKey = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    // the unset adaptive threshold falls back to the static one, so the
    // child pins the RESOLVED value explicitly: a consumer who set
    // adaptive=-1 keeps runtime broadcasts off, a default session keeps
    // its 10 MB budget, our entrypoints keep the 32 MB they set
    val budget = s.conf.getOption(adaptiveKey)
      .filter(v => v != null && v.nonEmpty)
      .getOrElse(s.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    Bridge.scoped(s, "spark.sql.autoBroadcastJoinThreshold" -> "-1", adaptiveKey -> budget)
  }

  /** Confirm candidates with the staged [[scores]]; emit edges. */
  def confirm(cands: DataFrame, sk: DataFrame, cfg: DedupConfig): DataFrame =
    scores(cands, sk, cfg).where(edgeRule(cfg))
      .select(col("a"), col("b"), col("img_sim"), col("cap_sim"),
        col("ph_ham"), col("sh_ham"))

  /**
   * Full pipeline: corpus → (image_id, cluster, cluster_size).
   * `cluster` = lexicographic-min image_id of the component (deterministic
   * across partitionings and parallelism levels).
   *
   * Node ids for the CC loop come from `xxhash64(image_id)` — deterministic
   * and collision-free at validation scale; a 10¹²-row deployment swaps in
   * an assigned-id dimension table here (64-bit birthday collisions become
   * material around 10¹⁰ ids).
   */
  def clusters(corpus: DataFrame, cfg: DedupConfig = DedupConfig(),
      cache: CacheHandle = new CacheHandle()): DataFrame = {
    val (idmap, e) = edges(corpus, cfg, cache)
    clustersFromEdges(idmap, e, cfg.ccMaxIter)
  }

  /**
   * Sketch → exact dedup → LSH → confirm, stopping before clustering.
   * Returns (idmap, edges): `idmap` = (image_id, vid) for every corpus row,
   * `edges` = (src, dst) dup edges in vid space (exact + confirmed near).
   * Exposed so callers can persist/inspect the edge set (e.g. for an
   * independent connected-components oracle) before clustering. Both
   * frames (and [[clusters]]' result) belong to a child session of the
   * corpus' (see [[pipelineSession]]), so they execute under its conf.
   *
   * NOT lazy: this runs ONE job before it returns — sketching and the
   * exact-dedup window, local-checkpointed through `cache`
   * ([[CacheHandle.checkpoint]]). Everything downstream (the band table,
   * the four confirm sides, the exact edges, `idmap`) then plans against
   * the checkpointed rows instead of re-planning the sketch subtree once
   * per scan, and no downstream job waits on another's cache fill. The
   * trade-off: the checkpoint is a materialization barrier the optimizer
   * cannot see through, and on a cluster it becomes a checkpoint-table
   * write (like the connected-components checkpoint) whose blocks live
   * until `cache.release()`; a lost executor loses them.
   */
  def edges(corpus: DataFrame, cfg: DedupConfig = DedupConfig(),
      cache: CacheHandle = new CacheHandle()): (DataFrame, DataFrame) = {
    val sk = sketches(Bridge.rebind(pipelineSession(corpus.sparkSession), corpus), cfg)
    // one window shuffle tags each row with its exact-group rep; the band
    // table, the four confirm sides, exactEdges and idmap all read it, so
    // it is checkpointed here, eagerly — see the scaladoc.
    // Tracked in `cache` — callers release() after materialization.
    val tagged = cache.checkpoint(exactDedupWindowed(sk))
    val skReps = reps(tagged)
    val near = nearEdges(confirm(candidates(skReps, cfg), skReps, cfg))
    (idmap(tagged), exactEdges(tagged).union(near))
  }

  // the glue between an exactDedupWindowed table, confirm and the CC tail:
  // group representatives (the only rows banding and confirm see), an edge
  // from every other row to its representative, confirmed pairs as edges,
  // and the (image_id, vid) map clustersFromEdges labels
  private[operators] def reps(tagged: DataFrame): DataFrame =
    tagged.where(col("image_id") === col("rep"))
  private[operators] def exactEdges(tagged: DataFrame): DataFrame =
    tagged.where(col("image_id") =!= col("rep"))
      .select(col("vid").as("src"), xxhash64(col("rep")).as("dst"))
  private[operators] def nearEdges(confirmed: DataFrame): DataFrame =
    confirmed.select(col("a").as("src"), col("b").as("dst"))
  private[operators] def idmap(tagged: DataFrame): DataFrame =
    tagged.select(col("image_id"), col("vid"))

  /** Clustering tail: CC over the edge set + representative relabel.
    * The relabel is ONE window pass over `component` (min image_id +
    * count in the same partitioning) instead of groupBy + join-back —
    * one shuffle instead of two plus a join. The label join broadcasts
    * the labels (they cover edge endpoints only): below the CC driver
    * gate they are a broadcast-hinted local relation of exact size,
    * above it AQE broadcasts the loop's star from runtime statistics. */
  def clustersFromEdges(idmap: DataFrame, edges: DataFrame,
      ccMaxIter: Int = ConnectedComponents.MaxIter): DataFrame = {
    // raw CC labels cover edge endpoints only (≪ corpus); rows without a
    // label are singleton clusters — ONE broadcastable left join labels
    // the whole corpus (labelAll would join the full node set twice)
    // (the rename happens on the idmap side, so the label side stays a
    // bare relation and the optimizer copies no driver-built rows)
    val labels = ConnectedComponents.run(edges, ccMaxIter)
    val membered = idmap.select(col("image_id"), col("vid").as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("image_id"),
        coalesce(col("component"), col("id")).as("component"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("component"))
    membered
      .withColumn("cluster", min(col("image_id")).over(w))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .select(col("image_id"), col("cluster"), col("cluster_size"))
  }
}
