package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import graft.core._
import graft.functions.expressions.SketchExpressions

/**
 * Column-level functions of the engine — the Spark surface of the
 * reference's FFI verbs (`/root/reference/src/ffi.rs`: add_sequence /
 * compare / containment / merge re-expressed as columns).
 *
 * Scalar kernels are static calls into `SketchKernels`, built as
 * Catalyst expressions by [[graft.functions.expressions.SketchExpressions]]
 * (the SQL functions build through the same place) and calling tight
 * `while`-loop kernels from `graft.core` — no UDF encoder round-trips in
 * any hot path. Their UDF formulations live in the test tree
 * (`graft.functions.Oracles`),
 * where ExpressionsSpec asserts bit-equality. Pure-relational pieces
 * (Hamming distance) use built-in codegen'd `functions._` only.
 */
object GraftFunctions {

  private val emptyMins: Column = typedlit(Array.emptyLongArray)

  /** Caption MinHash sketch: normalized char-k-shingles → bottom-num mins.
    * Native codegen'd expression (null caption → empty sketch). */
  def captionMinhash(caption: Column, cfg: SketchConfig): Column =
    coalesce(Bridge.column(SketchExpressions.captionMinhash(
      Bridge.expression(caption), cfg.ksize, cfg.num, cfg.maxHash, cfg.seed)), emptyMins)

  /** Abundance-TRACKING caption sketch: the same shingle stream as
    * [[captionMinhash]] fed through the reference's `add_hash` with
    * `track_abundance` ([[SketchBuilder]],
    * `/root/reference/src/lib.rs:202-241`: repeated shingles increment the
    * parallel multiplicity vector, eviction drops mins and abunds
    * together). Returns a struct `(_1 = mins, _2 = abunds)`. UDF-only
    * deliberately: the abundance surface is the K6 quirk family (d10),
    * not a 100-TB hot path — the mins-only codegen twin covers that. */
  def captionMinhashAbund(caption: Column, cfg: SketchConfig): Column = {
    val k = cfg.ksize; val seed = cfg.seed
    val localCfg = cfg.copy(trackAbundance = true)
    val f = udf((s: String) => {
      val b = new SketchBuilder(localCfg)
      if (s != null) b.addMany(Shingles.charShingleHashes(s, k, seed))
      (b.result(), b.abundances())
    })
    f(caption)
  }

  /** Sketch downsampling to a coarser scaled cutoff
    * ([[MinHash.downsample]] — the `search --scaled` re-truncation the
    * reference promises and drops, `/root/reference/src/sourmash.yml:71-76`).
    * Native codegen'd prefix cut; mins-only column form (abundance-
    * carrying callers use the kernel). */
  def downsampleMins(mins: Column, newMaxHash: Long): Column =
    Bridge.column(SketchExpressions.downsample(Bridge.expression(mins), newMaxHash))

  /** Caption SimHash64 fingerprint over the same shingle stream — native
    * codegen'd expression (null caption → 0L). */
  def captionSimhash(caption: Column, ksize: Int, seed: Long = 42L): Column =
    coalesce(Bridge.column(SketchExpressions.captionSimhash(
      Bridge.expression(caption), ksize, seed)), lit(0L))

  /** Longest-common-substring length of two strings via a generalized
    * suffix array — the north rule's exact-substring caption pass
    * (containment is the special case `lcs == min(length)`). Native
    * codegen'd expression; null on null input. */
  def captionLcs(a: Column, b: Column): Column =
    Bridge.column(SketchExpressions.captionLcs(Bridge.expression(a), Bridge.expression(b)))

  /**
   * Image MinHash sketch: decode → coarse-normalize pixels → byte-shingle
   * → bottom-num mins. Unknown formats fall back to raw-byte shingles (the
   * multimodal stub path — real deployments plug a decoder there).
   * Native codegen'd expression. Null bytes → empty sketch; null fmt is
   * treated as an unknown format (raw-byte fallback sketch), not empty.
   */
  def imageMinhash(bytes: Column, fmt: Column, cfg: SketchConfig, stride: Int = 4): Column =
    // fmt null-coalesced BEFORE the expression: the kernel call
    // null-short-circuits on ANY input, which would turn (bytes,
    // null fmt) into an empty sketch — the kernel treats an
    // unknown/missing fmt as the raw-byte fallback instead
    coalesce(Bridge.column(SketchExpressions.imageMinhash(
      Bridge.expression(bytes), Bridge.expression(coalesce(fmt, lit(""))),
      cfg.ksize, cfg.num, cfg.maxHash, cfg.seed, stride)), emptyMins)

  /** Reference-semantics Jaccard estimate (combined-denominator,
    * `/root/reference/src/lib.rs:501-508`) — native codegen'd Catalyst
    * expression ([[SketchExpressions.jaccard]]). */
  def jaccard(a: Column, b: Column, cfg: SketchConfig): Column =
    Bridge.column(SketchExpressions.jaccard(
      Bridge.expression(a), Bridge.expression(b), cfg.num))

  /** Abundance-weighted (angular/cosine) similarity over two sketches'
    * (mins, abunds) pairs — native codegen'd kernel call
    * ([[SketchExpressions.angular]]); Column twin of
    * `MinHash.angularSimilarity` (sm07, the "abundance" search mode). */
  def angularSimilarity(minsA: Column, abundsA: Column,
      minsB: Column, abundsB: Column): Column =
    Bridge.column(SketchExpressions.angular(
      Bridge.expression(minsA), Bridge.expression(abundsA),
      Bridge.expression(minsB), Bridge.expression(abundsB)))

  /** Asymmetric containment (`/root/reference/src/index.rs:146-160`) —
    * native codegen'd expression. */
  def containment(a: Column, b: Column): Column =
    Bridge.column(SketchExpressions.containment(
      Bridge.expression(a), Bridge.expression(b)))

  /** Hamming distance between two 64-bit fingerprints — pure built-ins
    * (whole-stage codegen, no UDF). */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /**
   * LSH band keys for a MinHash sketch: split mins into `bands` slices of
   * `rowsPerBand`, hash each slice → array of band-bucket keys. Sketches
   * shorter than a full band still emit their partial trailing band (a
   * partial band matches only an identical partial band — no skew blowup).
   */
  def minhashBands(mins: Column, bands: Int, rowsPerBand: Int, seed: Long = 42L): Column =
    Bridge.column(SketchExpressions.bandKeys(
      Bridge.expression(mins), bands, rowsPerBand, seed))

  /**
   * Hamming-radius candidate keys for a 64-bit fingerprint — the
   * multi-piece scheme of Manku/Jain/Sarma (WWW'07, "Detecting
   * Near-Duplicates for Web Crawling"): split the 64 bits into 6 blocks
   * (widths 11,11,11,11,10,10) and key on every C(6,4) = 15 combination
   * of 4 blocks (~44-bit joints). Any pair within Hamming distance 2
   * flips bits in at most 2 blocks, leaving ≥ 4 clean blocks and ≥ 1
   * matching 4-combo key — candidate recall for ham ≤ 2 is GUARANTEED
   * (ham-1 pairs share 5 tables, ham-0 all 15 — redundancy that carries
   * recall through tight heat caps). Joint keys instead of single 16-bit
   * pigeonhole blocks are the scale story: on structured fingerprints
   * (saturated regions, common gradients) single blocks collide
   * catastrophically — at 10⁵ synthetic rows, 92% of all block mass sat
   * in buckets past the heat cap, silently killing the fingerprint
   * candidate path (caught by the second-scale e2e gate).
   *
   * Why radius 2 and not 3 (C(6,3) = 20 three-block ~33-bit joints,
   * [[SketchExpressions.jointBandKeys]] with `pick = 3`): key
   * SELECTIVITY is the scale dial. Fingerprints of correlated content
   * (structured image phashes) are far from uniform — measured on the
   * 600k synthetic corpus, 33-bit 3-block joints produced 12.7M
   * coincidence candidate pairs (buckets ≤ 16) from 596k rows, exploding
   * the confirm stage ~50×, while the 44-bit 4-block joints cut that mass
   * by ~2^11. True same-image transforms measure ham ≤ 2 here, so radius
   * 2 is the guaranteed tier; ham-3 pairs still surface through the
   * MinHash band sources and score with `ph_ham <= 3` corroboration at
   * confirm.
   *
   * Key layout: comboTag in the high bits, then the block values in
   * 11-bit slots, exact in a long. One codegen'd kernel call
   * ([[SketchExpressions.jointBandKeys]] scheme 1), no UDF.
   */
  def fingerprintBandsHamming2(fp: Column): Column =
    Bridge.column(SketchExpressions.jointBandKeys(Bridge.expression(fp), scheme = 1, pick = 4))

  /**
   * Joint `pick`-of-8 band keys for a 64-bit fingerprint: all C(8,pick)
   * combinations of its eight 8-bit blocks. Pigeonhole: Hamming ≤
   * (8 − pick) errors touch at most 8 − pick blocks, leaving ≥ pick
   * untouched, so two fingerprints within Hamming (8 − pick) share at
   * least one joint key — GUARANTEED radius 8 − pick. The point vs
   * naive single-block banding (one key per 8-bit block — the deleted
   * first design): key SELECTIVITY is the scale
   * dial (same argument as [[fingerprintBandsHamming2]]). Single 8-bit
   * blocks have 256 values, so bucket mass grows linearly with the
   * corpus and saturates the heat cap — measured at 4000 media rows:
   * 294 of 1,922 single-block buckets past the cap, costing 6 of 400
   * true dup pairs their candidacy. pick=3 keys carry 24 value bits
   * (16.7M values; 0 hot buckets, max 4, and 26× fewer coincidence
   * candidates than pick=2 at the same scale). Tag (< 2⁶) + 8·pick
   * value bits — exact in a long for pick ≤ 7; one codegen'd kernel
   * call ([[SketchExpressions.jointBandKeys]] scheme 0).
   */
  def fingerprintJointBands(fp: Column, pick: Int): Column =
    Bridge.column(SketchExpressions.jointBandKeys(Bridge.expression(fp), scheme = 0, pick = pick))

}
