package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import graft.core._
import graft.sources.ImageCodec

/**
 * Column-level functions of the engine — the Spark surface of the
 * reference's FFI verbs (`/root/reference/src/ffi.rs`: add_sequence /
 * compare / containment / merge re-expressed as columns).
 *
 * Scalar kernels are native codegen'd Catalyst expressions
 * ([[graft.functions.expressions]]) calling tight `while`-loop kernels
 * from `graft.core` — no UDF encoder round-trips in any hot path; every
 * expression keeps a `*Udf` twin here as its differential-test oracle
 * (ExpressionsSpec asserts bit-equality). Pure-relational pieces (Hamming
 * distance, fingerprint blocks) use built-in codegen'd `functions._` only.
 */
object GraftFunctions {

  private val emptyMins: Column = typedlit(Array.emptyLongArray)

  /** Caption MinHash sketch: normalized char-k-shingles → bottom-num mins.
    * Native codegen'd expression (null caption → empty sketch, matching
    * the UDF twin's contract). */
  def captionMinhash(caption: Column, cfg: SketchConfig): Column =
    coalesce(Bridge.column(expressions.CaptionMinhash(
      Bridge.expression(caption), cfg.ksize, cfg.num, cfg.maxHash, cfg.seed)), emptyMins)

  /** UDF formulation of [[captionMinhash]] — differential-test oracle. */
  def captionMinhashUdf(caption: Column, cfg: SketchConfig): Column = {
    val k = cfg.ksize; val seed = cfg.seed; val localCfg = cfg
    val f = udf((s: String) =>
      if (s == null) Array.emptyLongArray
      else MinHash.sketchHashes(Shingles.charShingleHashes(s, k, seed), localCfg))
    f(caption)
  }

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
    Bridge.column(expressions.DownsampleMinhash(Bridge.expression(mins), newMaxHash))

  /** UDF formulation of [[downsampleMins]] — differential-test oracle. */
  def downsampleMinsUdf(mins: Column, newMaxHash: Long): Column = {
    val f = udf((m: Seq[Long]) =>
      if (m == null) null else MinHash.downsample(m.toArray, null, newMaxHash)._1)
    f(mins)
  }

  /** Caption SimHash64 fingerprint over the same shingle stream — native
    * codegen'd expression (null caption → 0L, matching the UDF twin). */
  def captionSimhash(caption: Column, ksize: Int, seed: Long = 42L): Column =
    coalesce(Bridge.column(expressions.CaptionSimhash(
      Bridge.expression(caption), ksize, seed)), lit(0L))

  /** UDF formulation of [[captionSimhash]] — differential-test oracle. */
  def captionSimhashUdf(caption: Column, ksize: Int, seed: Long = 42L): Column = {
    val f = udf((s: String) =>
      if (s == null) 0L else Shingles.simhash64(Shingles.charShingleHashes(s, ksize, seed)))
    f(caption)
  }

  /** Longest-common-substring length of two strings via a generalized
    * suffix array — the north rule's exact-substring caption pass
    * (containment is the special case `lcs == min(length)`). Native
    * codegen'd expression; null on null input. */
  def captionLcs(a: Column, b: Column): Column =
    Bridge.column(expressions.CaptionLcs(Bridge.expression(a), Bridge.expression(b)))

  /** UDF formulation of [[captionLcs]] — differential-test oracle. */
  def captionLcsUdf(a: Column, b: Column): Column = {
    val f = udf((x: String, y: String) =>
      if (x == null || y == null) null
      else java.lang.Integer.valueOf(SuffixArrays.lcsLen(x, y)))
    f(a, b)
  }

  /**
   * Image MinHash sketch: decode → coarse-normalize pixels → byte-shingle
   * → bottom-num mins. Unknown formats fall back to raw-byte shingles (the
   * multimodal stub path — real deployments plug a decoder there).
   * Native codegen'd expression. Null bytes → empty sketch; null fmt is
   * treated as an unknown format (raw-byte fallback sketch), not empty.
   */
  def imageMinhash(bytes: Column, fmt: Column, cfg: SketchConfig, stride: Int = 4): Column =
    // fmt null-coalesced BEFORE the expression: BinaryExpression
    // null-short-circuits on EITHER input, which would turn (bytes,
    // null fmt) into an empty sketch — the kernel (and the UDF twin)
    // treat an unknown/missing fmt as the raw-byte fallback instead
    coalesce(Bridge.column(expressions.ImageMinhash(
      Bridge.expression(bytes), Bridge.expression(coalesce(fmt, lit(""))),
      cfg.ksize, cfg.num, cfg.maxHash, cfg.seed, stride)), emptyMins)

  /** UDF formulation of [[imageMinhash]] — differential-test oracle. */
  def imageMinhashUdf(bytes: Column, fmt: Column, cfg: SketchConfig, stride: Int = 4): Column = {
    val k = cfg.ksize; val seed = cfg.seed; val localCfg = cfg; val s = stride
    val f = udf((b: Array[Byte], f0: String) =>
      if (b == null) Array.emptyLongArray
      else {
        val payload = ImageCodec.decode(b, f0) match {
          case Some(d) => ImageCodec.normalizeForSketch(d.rgb)
          case None => b
        }
        MinHash.sketchHashes(Shingles.byteShingleHashes(payload, k, s, seed), localCfg)
      })
    f(bytes, fmt)
  }

  /** Reference-semantics Jaccard estimate (combined-denominator,
    * `/root/reference/src/lib.rs:501-508`) — native codegen'd Catalyst
    * expression ([[graft.functions.expressions.JaccardMinhash]]). */
  def jaccard(a: Column, b: Column, cfg: SketchConfig): Column =
    Bridge.column(expressions.JaccardMinhash(
      Bridge.expression(a), Bridge.expression(b), cfg.num))

  /** UDF formulation of [[jaccard]] — differential-test oracle. */
  def jaccardUdf(a: Column, b: Column, cfg: SketchConfig): Column = {
    val localCfg = cfg
    // null-FAITHFUL (null in -> null out), matching the native
    // expression's null semantics — the twins must be bit-equal even on
    // outer-join nulls
    val f = udf((x: Array[Long], y: Array[Long]) =>
      if (x == null || y == null) null.asInstanceOf[java.lang.Double]
      else java.lang.Double.valueOf(MinHash.compare(x, y, localCfg)))
    f(a, b)
  }

  /** Abundance-weighted (angular/cosine) similarity over two sketches'
    * (mins, abunds) pairs — native codegen'd expression
    * ([[graft.functions.expressions.AngularMinhash]]); Column twin of
    * `MinHash.angularSimilarity` (sm07, the "abundance" search mode). */
  def angularSimilarity(minsA: Column, abundsA: Column,
      minsB: Column, abundsB: Column): Column =
    Bridge.column(expressions.AngularMinhash(
      Bridge.expression(minsA), Bridge.expression(abundsA),
      Bridge.expression(minsB), Bridge.expression(abundsB)))

  /** Asymmetric containment (`/root/reference/src/index.rs:146-160`) —
    * native codegen'd expression. */
  def containment(a: Column, b: Column): Column =
    Bridge.column(expressions.ContainmentMinhash(
      Bridge.expression(a), Bridge.expression(b)))

  /** UDF formulation of [[containment]] — differential-test oracle. */
  def containmentUdf(a: Column, b: Column): Column = {
    // null-faithful like jaccardUdf — see there
    val f = udf((x: Array[Long], y: Array[Long]) =>
      if (x == null || y == null) null.asInstanceOf[java.lang.Double]
      else java.lang.Double.valueOf(MinHash.containment(x, y)))
    f(a, b)
  }

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
    Bridge.column(expressions.MinhashBandKeys(
      Bridge.expression(mins), bands, rowsPerBand, seed))

  /** UDF formulation of [[minhashBands]] — differential-test oracle. */
  def minhashBandsUdf(mins: Column, bands: Int, rowsPerBand: Int, seed: Long = 42L): Column = {
    val nb = bands; val r = rowsPerBand; val s = seed
    val f = udf((m: Array[Long]) => {
      if (m == null || m.isEmpty) Array.emptyLongArray
      else {
        val n = math.min(nb, (m.length + r - 1) / r)
        val out = new Array[Long](n)
        var i = 0
        while (i < n) {
          val from = i * r
          val until = math.min(from + r, m.length)
          val bb = java.nio.ByteBuffer.allocate((until - from) * 8)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          var j = from
          while (j < until) { bb.putLong(m(j)); j += 1 }
          // mix the band index into the key so band i and band j never share buckets
          out(i) = Murmur3.hash64(bb.array(), s + i)
          i += 1
        }
        out
      }
    })
    f(mins)
  }

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
   * [[expressions.FingerprintJointKeys]] with `pick = 3`): key
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
   * 11-bit slots, exact in a long. Codegen'd built-ins only
   * (shifts/masks), no UDF.
   */
  def fingerprintBandsHamming2(fp: Column): Column =
    Bridge.column(expressions.FingerprintJointKeys(Bridge.expression(fp), scheme = 1, pick = 4))

  /** The fold-of-Columns form of the Manku combos — kept as the
    * differential-test oracle for [[expressions.FingerprintJointKeys]]
    * scheme 1 (ExpressionsSpec asserts bit-equality; the kernel exists
    * because inlining C(n,pick) fold trees into the bands stage blew
    * Janino's 64 KB method limit and dropped the stage out of
    * whole-stage codegen). */
  private[graft] def fingerprintCombosFoldForm(fp: Column, pick: Int): Column =
    fingerprintCombos(fp, pick)

  private def fingerprintCombos(fp: Column, pick: Int): Column = {
    val widths = Seq(11, 11, 11, 11, 10, 10)
    val offsets = widths.scanLeft(0)(_ + _).init // 0,11,22,33,44,54
    def block(i: Int): Column =
      shiftrightunsigned(fp, offsets(i)).bitwiseAND(lit((1L << widths(i)) - 1L))
    val combos = (0 until 6).combinations(pick).toSeq
    // tag + `pick` 11-bit value slots: pick=4 → 5 + 44 bits, exact in a long
    array(combos.zipWithIndex.map { case (c, tag) =>
      c.foldLeft(lit(tag.toLong): Column)((acc, i) => acc * lit(2048L) + block(i))
    }: _*)
  }

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
   * value bits — exact in a long for pick ≤ 7; pure built-ins
   * (codegen).
   */
  def fingerprintJointBands(fp: Column, pick: Int): Column = {
    require(pick >= 1 && pick <= 7, "pick must be in [1, 7]")
    Bridge.column(expressions.FingerprintJointKeys(Bridge.expression(fp), scheme = 0, pick = pick))
  }

  /** Fold-of-Columns differential oracle for scheme 0 (see
    * [[fingerprintCombosFoldForm]]). */
  private[graft] def fingerprintJointBandsFoldForm(fp: Column, pick: Int): Column = {
    def block(i: Int): Column =
      shiftrightunsigned(fp, i * 8).bitwiseAND(lit(0xffL))
    val combos = (0 until 8).combinations(pick).toSeq
    array(combos.zipWithIndex.map { case (c, tag) =>
      c.foldLeft(lit(tag.toLong): Column)((acc, i) => acc * lit(256L) + block(i))
    }: _*)
  }

}
