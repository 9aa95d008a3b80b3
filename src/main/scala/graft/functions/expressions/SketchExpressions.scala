package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * Static kernels for the sketch-comparison hot path (SURVEY.md §7
 * stage 5). [[SketchExpressions]] turns each into a Catalyst expression
 * that codegens as a single static call, so the surrounding plan stays
 * inside whole-stage codegen, with no UDF encoder round-trip.
 *
 * A sketch verb has exactly one loop, in `graft.core.MinHash`: the
 * jaccard, containment, downsample and angular kernels copy their
 * `ArrayData` inputs out with `toLongArray()` (a bulk copy for
 * `UnsafeArrayData`) and call it, so the expressions and the kernel-layer
 * benchmark run the same code. The UDF formulations they replaced live in
 * the test tree (`graft.functions.Oracles`), where ExpressionsSpec asserts
 * bit-equality; KernelSourceSpec keeps unsigned walks out of this file.
 */
object SketchKernels {

  /** Combined-denominator Jaccard (`intersection_size` + `compare`,
    * `/root/reference/src/lib.rs:464-508`) — [[graft.core.MinHash.compare]]. */
  def jaccard(a: ArrayData, b: ArrayData, num: Int): Double =
    graft.core.MinHash.compare(a.toLongArray(), b.toLongArray(), num)

  /** `count_common / |a|` (`/root/reference/src/index.rs:146-160`) —
    * [[graft.core.MinHash.containment]]. */
  def containment(a: ArrayData, b: ArrayData): Double =
    graft.core.MinHash.containment(a.toLongArray(), b.toLongArray())

  /** Downsample prefix cut: keep mins <= maxHash (unsigned) —
    * [[graft.core.MinHash.downsample]], mins only. */
  def downsample(m: ArrayData, maxHash: Long): ArrayData =
    new GenericArrayData(graft.core.MinHash.downsample(m.toLongArray(), null, maxHash)._1)

  /** Dot product of two ARRAY<DOUBLE> columns, left-to-right accumulation. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  private final val C1 = 0x87c37b91114253d5L
  private final val C2 = 0x4cf5ad432745937fL

  @inline private def fmix64(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33; k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33; k *= 0xc4ceb9fe1a85ec53L
    k ^= k >>> 33; k
  }

  /**
   * murmur3_x64_128 low-64 of the little-endian serialization of
   * `m[from, until)` — equal to `Murmur3.hash64(bytes)` of the same longs
   * written LE (a long read back from its LE bytes is itself, so blocks
   * are consumed directly; kernel-parity test in ExpressionsSpec).
   */
  def hash64LongsLE(m: ArrayData, from: Int, until: Int, seed: Long): Long = {
    var h1 = seed
    var h2 = seed
    val count = until - from
    val len = count * 8
    var i = from
    while (i + 1 < until) {
      var k1 = m.getLong(i)
      var k2 = m.getLong(i + 1)
      k1 *= C1; k1 = java.lang.Long.rotateLeft(k1, 31); k1 *= C2; h1 ^= k1
      h1 = java.lang.Long.rotateLeft(h1, 27); h1 += h2; h1 = h1 * 5 + 0x52dce729L
      k2 *= C2; k2 = java.lang.Long.rotateLeft(k2, 33); k2 *= C1; h2 ^= k2
      h2 = java.lang.Long.rotateLeft(h2, 31); h2 += h1; h2 = h2 * 5 + 0x38495ab5L
      i += 2
    }
    if (i < until) { // 8-byte tail
      var k1 = m.getLong(i)
      k1 *= C1; k1 = java.lang.Long.rotateLeft(k1, 31); k1 *= C2; h1 ^= k1
    }
    h1 ^= len.toLong; h2 ^= len.toLong
    h1 += h2; h2 += h1
    h1 = fmix64(h1); h2 = fmix64(h2)
    h1 + h2
  }

  /** Caption MinHash sketch: normalized char-k-shingles → bottom-num (or
    * scaled-cutoff) mins — the string-side sketcher of the flagship
    * pipeline, as a static kernel for codegen. */
  def captionMinhash(s: org.apache.spark.unsafe.types.UTF8String,
      ksize: Int, num: Int, maxHash: Long, seed: Long): ArrayData =
    new GenericArrayData(graft.core.MinHash.sketchHashes(
      graft.core.Shingles.charShingleHashes(s.toString, ksize, seed),
      graft.core.SketchConfig(num = num, ksize = ksize, seed = seed, maxHash = maxHash)))

  /** Caption SimHash64 fingerprint over the same shingle stream. */
  def captionSimhash(s: org.apache.spark.unsafe.types.UTF8String,
      ksize: Int, seed: Long): Long =
    graft.core.Shingles.simhash64(
      graft.core.Shingles.charShingleHashes(s.toString, ksize, seed))

  /** Image MinHash sketch: decode → coarse-normalize → byte-shingle →
    * bottom-num mins; unknown formats fall back to raw-byte shingles (the
    * multimodal stub path). */
  def imageMinhash(bytes: Array[Byte], fmt: org.apache.spark.unsafe.types.UTF8String,
      ksize: Int, num: Int, maxHash: Long, seed: Long, stride: Int): ArrayData = {
    val payload = graft.sources.ImageCodec.decode(bytes, if (fmt == null) null else fmt.toString) match {
      case Some(d) => graft.sources.ImageCodec.normalizeForSketch(d.rgb)
      case None => bytes
    }
    new GenericArrayData(graft.core.MinHash.sketchHashes(
      graft.core.Shingles.byteShingleHashes(payload, ksize, stride, seed),
      graft.core.SketchConfig(num = num, ksize = ksize, seed = seed, maxHash = maxHash)))
  }

  /** LSH band keys over a mins array: murmur of each band slice (band
    * index mixed into the seed), partial trailing band kept. */
  def bandKeys(m: ArrayData, bands: Int, rowsPerBand: Int, seed: Long): ArrayData = {
    val n = m.numElements()
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    val nOut = math.min(bands, (n + rowsPerBand - 1) / rowsPerBand)
    val out = new Array[Long](nOut)
    var i = 0
    while (i < nOut) {
      val from = i * rowsPerBand
      val until = math.min(from + rowsPerBand, n)
      out(i) = hash64LongsLE(m, from, until, seed + i)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Abundance-weighted angular similarity (1 - 2*acos(cos)/pi) over two sketches'
    * (mins, abunds) pairs — [[graft.core.MinHash.angularSimilarity]]. */
  def angular(ma: ArrayData, aa: ArrayData, mb: ArrayData, ab: ArrayData): Double =
    graft.core.MinHash.angularSimilarity(
      ma.toLongArray(), aa.toLongArray(), mb.toLongArray(), ab.toLongArray())

  /** Longest common substring of two UTF8 strings via a generalized
    * suffix array — the north rule's exact-substring caption pass. */
  def captionLcs(a: org.apache.spark.unsafe.types.UTF8String,
      b: org.apache.spark.unsafe.types.UTF8String): Int =
    graft.core.SuffixArrays.lcsLen(a.toString, b.toString)

  /** ±1 hyperplane components, derived from murmur3 and cached per
    * config (tiny: nTables×nPlanes×dim doubles, deterministic). */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int, Long), Array[Array[Array[Double]]]]()

  private def planesFor(dim: Int, nPlanes: Int, nTables: Int, seed: Long): Array[Array[Array[Double]]] =
    planeCache.computeIfAbsent((dim, nPlanes, nTables, seed), _ =>
      Array.tabulate(nTables, nPlanes, dim) { (t, p, i) =>
        if ((graft.core.Murmur3.hash64(s"$t:$p:$i", seed) & 1L) == 0L) 1.0 else -1.0
      })

  /** Product-quantization encode: per subspace `j` (subvector
    * `v[j·subDim, (j+1)·subDim)`), the code of the L2-nearest centroid in
    * the flat codebook (`cb[j·ks + c]`, ties to the LOWEST code — strict
    * `<` on a left-to-right squared-distance accumulation, so the argmin
    * is bit-deterministic and cross-engine replicable). */
  def pqEncode(v: ArrayData, cb: ArrayData, m: Int, ks: Int, subDim: Int): ArrayData = {
    if (v.numElements() < m * subDim)
      throw new IllegalArgumentException(
        s"pq_encode: vector has ${v.numElements()} elements, need ${m * subDim}")
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ks) {
        val cent = cb.getArray(j * ks + c)
        var s = 0.0
        var i = 0
        while (i < subDim) {
          val x = v.getDouble(j * subDim + i) - cent.getDouble(i)
          s += x * x
          i += 1
        }
        if (s < bestD) { bestD = s; best = c }
        c += 1
      }
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Asymmetric PQ distance (ADC): Σ_j ‖q_j − C[j][codes_j]‖² — the exact
    * query subvector against the candidate's QUANTIZED subvectors, in
    * fixed (j asc, i asc) accumulation order. The candidate side is the
    * m-byte code array, never the vector — the PQ memory story. */
  def pqAdc(v: ArrayData, codes: ArrayData, cb: ArrayData,
      m: Int, ks: Int, subDim: Int): Double = {
    if (v.numElements() < m * subDim)
      throw new IllegalArgumentException(
        s"pq_adc: query vector has ${v.numElements()} elements, need ${m * subDim}")
    if (codes.numElements() < m)
      throw new IllegalArgumentException(
        s"pq_adc: code array has ${codes.numElements()} entries, need $m")
    var total = 0.0
    var j = 0
    while (j < m) {
      val code = codes.getInt(j)
      if (code < 0 || code >= ks)
        // fail fast: in the flat j*ks+code layout an out-of-range code
        // would silently read ANOTHER subspace's centroid (a geometry
        // mismatch between the encoded dump and the scorer)
        throw new IllegalArgumentException(
          s"pq_adc: code $code out of range [0, $ks) in subspace $j")
      val cent = cb.getArray(j * ks + code)
      var s = 0.0
      var i = 0
      while (i < subDim) {
        val x = v.getDouble(j * subDim + i) - cent.getDouble(i)
        s += x * x
        i += 1
      }
      total += s
      j += 1
    }
    total
  }

  /** Sign-bit hyperplane LSH keys over an ARRAY<FLOAT> embedding — the
    * kernel of [[graft.operators.Similarity.hyperplaneKeys]] (ExpressionsSpec
    * checks it against the test tree's UDF formulation: same plane
    * derivation, accumulation order and probe-key layout). */
  def hyperplaneKeys(v: ArrayData, dim: Int, nPlanes: Int, nTables: Int,
      seed: Long, probe: Boolean): ArrayData = {
    val planes = planesFor(dim, nPlanes, nTables, seed)
    val perTable = if (probe) nPlanes + 1 else 1
    val out = new Array[Long](nTables * perTable)
    val nv = v.numElements()
    var t = 0
    while (t < nTables) {
      var key = 0L
      var p = 0
      while (p < nPlanes) {
        val comp = planes(t)(p)
        var dot = 0.0
        var i = 0
        val n = math.min(nv, comp.length)
        while (i < n) { dot += comp(i) * v.getFloat(i); i += 1 }
        if (dot > 0) key |= (1L << p)
        p += 1
      }
      out(t * perTable) = key * nTables + t
      var q = 1
      while (q < perTable) {
        out(t * perTable + q) = (key ^ (1L << (q - 1))) * nTables + t
        q += 1
      }
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Block-combination schemes for [[jointBandKeys]]: block bit-offsets,
    * per-block masks, and the per-slot multiplier. Scheme 0 = eight 8-bit
    * blocks (SimHash joint keys, base 256); scheme 1 = the Manku six-block
    * 11/11/11/11/10/10 split (phash/audio keys, base 2048). */
  private final val jointSchemes: Array[(Array[Int], Array[Long], Long)] = Array(
    ((0 until 8).map(_ * 8).toArray, Array.fill(8)(0xffL), 256L),
    (Array(0, 11, 22, 33, 44, 54),
      Array(2047L, 2047L, 2047L, 2047L, 1023L, 1023L), 2048L))

  /** combos(scheme)(pick) = all C(nBlocks, pick) index combinations, in
    * `Seq.combinations` order (the order is part of the key tag, so it is
    * pinned here and differentially tested against the fold-built
    * Column form in the test tree's `graft.functions.Oracles`). */
  private final val jointCombos: Array[Array[Array[Array[Int]]]] =
    jointSchemes.map { case (offs, _, _) =>
      (0 to offs.length).map { pick =>
        offs.indices.combinations(pick).map(_.toArray).toArray
      }.toArray
    }

  /**
   * All C(nBlocks, pick) joint band keys of a 64-bit fingerprint in one
   * static call: key = comboTag folded with the selected block values
   * (`acc * base + block`), identical to the fold-of-Columns form (a
   * test oracle now) — which built C(8,5) = 56 inlined expression trees,
   * DUPLICATED into the bands stage's filter and project, overflowing
   * Janino's 64 KB method limit and dropping the whole stage out of
   * codegen (observed on d05/m07/m10's sketch stage).
   * This kernel codegens as one call site.
   */
  def jointBandKeys(fp: Long, scheme: Int, pick: Int): ArrayData = {
    val (offs, masks, base) = jointSchemes(scheme)
    val combos = jointCombos(scheme)(pick)
    val out = new Array[Long](combos.length)
    var t = 0
    while (t < combos.length) {
      val c = combos(t)
      var acc = t.toLong
      var j = 0
      while (j < c.length) {
        val i = c(j)
        acc = acc * base + ((fp >>> offs(i)) & masks(i))
        j += 1
      }
      out(t) = acc
      t += 1
    }
    new GenericArrayData(out)
  }
}


/**
 * The Catalyst form of each [[SketchKernels]] method: a Spark
 * `StaticInvoke` of the method of the same name, which codegens as the
 * single call `graft.functions.expressions.SketchKernels.<name>(…)` and
 * evaluates it reflectively off the codegen path. The Column API
 * (`GraftFunctions`, `Similarity`) and the SQL functions
 * (`GraftExtensions`) both build through here, so each kernel's input
 * types and argument check exist once. Scalar parameters are `Literal`
 * arguments (constants in the generated code). A null input gives a
 * null result; the kernels themselves never return null.
 */
object SketchExpressions {

  /** `inputTypes` declares the column arguments (analysis-time implicit
    * casts instead of a runtime ClassCastException or misread array
    * slots); the trailing scalar literals carry their own types. */
  private def kernel(name: String, dataType: DataType, inputTypes: Seq[DataType],
      args: Expression*): Expression =
    StaticInvoke(SketchKernels.getClass, dataType, name, args,
      inputTypes ++ args.drop(inputTypes.length).map(_.dataType),
      propagateNull = true, returnNullable = false)

  private val longs = ArrayType(LongType)
  private val doubles = ArrayType(DoubleType)
  private val keys = ArrayType(LongType, containsNull = false)

  /** Dot product over ARRAY<DOUBLE> — no intermediate array (the
    * `aggregate(zip_with(...))` formulation allocates one per row). */
  def dot(a: Expression, b: Expression): Expression =
    kernel("dot", DoubleType, Seq(doubles, doubles), a, b)

  /** Reference-semantics Jaccard estimate. */
  def jaccard(a: Expression, b: Expression, num: Int): Expression =
    kernel("jaccard", DoubleType, Seq(longs, longs), a, b, Literal(num))

  /** Asymmetric containment. */
  def containment(a: Expression, b: Expression): Expression =
    kernel("containment", DoubleType, Seq(longs, longs), a, b)

  /** Sketch re-truncation to a coarser scaled cutoff (the `search
    * --scaled` operation the reference promises and drops,
    * sourmash.yml:71-76); `maxHash` is already converted from `scaled`. */
  def downsample(mins: Expression, maxHash: Long): Expression =
    kernel("downsample", keys, Seq(longs), mins, Literal(maxHash))

  /** LSH band keys over a mins array. */
  def bandKeys(mins: Expression, bands: Int, rowsPerBand: Int, seed: Long): Expression = {
    require(bands > 0 && rowsPerBand > 0,
      s"minhash_band_keys: bands=$bands rowsPerBand=$rowsPerBand must be positive")
    kernel("bandKeys", keys, Seq(longs), mins, Literal(bands), Literal(rowsPerBand), Literal(seed))
  }

  /** Caption string sketcher — the flagship hot path. */
  def captionMinhash(caption: Expression, ksize: Int, num: Int, maxHash: Long,
      seed: Long): Expression =
    kernel("captionMinhash", keys, Seq(StringType), caption,
      Literal(ksize), Literal(num), Literal(maxHash), Literal(seed))

  /** 64-bit SimHash fingerprint of a caption. */
  def captionSimhash(caption: Expression, ksize: Int, seed: Long): Expression =
    kernel("captionSimhash", LongType, Seq(StringType), caption, Literal(ksize), Literal(seed))

  /** Image sketcher: decode → normalize → sketch. */
  def imageMinhash(bytes: Expression, fmt: Expression, ksize: Int, num: Int,
      maxHash: Long, seed: Long, stride: Int): Expression =
    kernel("imageMinhash", keys, Seq(BinaryType, StringType), bytes, fmt,
      Literal(ksize), Literal(num), Literal(maxHash), Literal(seed), Literal(stride))

  /** Sign-bit LSH keys for the embedding ANN path (the e03 banding hot
    * path). ARRAY<FLOAT> is declared so an ARRAY<DOUBLE> embedding gets
    * an analysis-time cast: without it, `getFloat()` read 4-byte strides
    * of 8-byte slots and produced silently-garbage keys. */
  def hyperplaneKeys(vec: Expression, dim: Int, nPlanes: Int, nTables: Int,
      seed: Long, probe: Boolean): Expression = {
    require(dim > 0 && nPlanes > 0 && nPlanes <= 62 && nTables > 0,
      s"hyperplane_keys: dim=$dim nPlanes=$nPlanes nTables=$nTables out of range")
    kernel("hyperplaneKeys", keys, Seq(ArrayType(FloatType)), vec,
      Literal(dim), Literal(nPlanes), Literal(nTables), Literal(seed), Literal(probe))
  }

  /** Abundance-weighted angular similarity (published sourmash:
    * 1 − 2·acos(ρ)/π over sparse hash→abundance vectors; sm07, the
    * `"abundance"` search mode). Strict nulls: a sketch without stored
    * abundances passes `array_repeat(1L, size(mins))` explicitly. */
  def angular(minsA: Expression, abundsA: Expression, minsB: Expression,
      abundsB: Expression): Expression =
    kernel("angular", DoubleType, Seq(longs, longs, longs, longs), minsA, abundsA, minsB, abundsB)

  private def requirePq(what: String, m: Int, ks: Int, subDim: Int): Unit =
    require(m > 0 && ks > 0 && subDim > 0, s"$what: m=$m ks=$ks subDim=$subDim")

  /** Product-quantization codes (ARRAY<INT>, one per subspace). The
    * codebook is a nested-array LITERAL (flat `j·ks + c` layout,
    * m·ks·subDim doubles ≈ KBs — model output, like the broadcast IVF
    * codebook), so executors need no side channel and the call stays one
    * static call. */
  def pqEncode(vec: Expression, codebook: Expression, m: Int, ks: Int, subDim: Int): Expression = {
    requirePq("pq_encode", m, ks, subDim)
    kernel("pqEncode", ArrayType(IntegerType, containsNull = false),
      Seq(doubles, ArrayType(doubles)), vec, codebook, Literal(m), Literal(ks), Literal(subDim))
  }

  /** Asymmetric PQ distance (the e08 rerank hot path: exact query side,
    * m-byte candidate side); the codebook literal as in [[pqEncode]]. */
  def pqAdc(vec: Expression, codes: Expression, codebook: Expression,
      m: Int, ks: Int, subDim: Int): Expression = {
    requirePq("pq_adc", m, ks, subDim)
    kernel("pqAdc", DoubleType, Seq(doubles, ArrayType(IntegerType), ArrayType(doubles)),
      vec, codes, codebook, Literal(m), Literal(ks), Literal(subDim))
  }

  /** All C(nBlocks, pick) joint Hamming band keys of a fingerprint (see
    * [[SketchKernels.jointBandKeys]] for why this is one kernel call).
    * `scheme` 0 = eight 8-bit blocks, `pick` ≤ 7 so the tag and 8·pick
    * value bits fit a long; 1 = Manku 11/11/11/11/10/10, `pick` ≤ 6. */
  def jointBandKeys(fp: Expression, scheme: Int, pick: Int): Expression = {
    require(scheme == 0 || scheme == 1, s"joint_band_keys: unknown scheme $scheme")
    require(pick >= 1 && pick <= (if (scheme == 0) 7 else 6),
      s"joint_band_keys: pick=$pick out of range for scheme $scheme")
    kernel("jointBandKeys", keys, Seq(LongType), fp, Literal(scheme), Literal(pick))
  }

  /** Longest-common-substring length (the confirm-stage substring pass). */
  def captionLcs(a: Expression, b: Expression): Expression =
    kernel("captionLcs", IntegerType, Seq(StringType, StringType), a, b)
}
