package graft.core

import scala.collection.mutable.ArrayBuffer

/**
 * Sketch configuration — the compatibility key of the engine.
 *
 * Mirrors the reference's `KmerMinHash` parameters
 * (`/root/reference/src/lib.rs:38-46`): `num` (bottom-k size; 0 = scaled
 * mode), `ksize` (shingle length), `isProtein` (token alphabet), `seed`
 * (murmur seed, default 42, `/root/reference/src/lib.rs:53`), `maxHash`
 * (scaled-mode unsigned cutoff; 0 = bottom-k mode).
 *
 * Two sketches may only be compared when ksize, moltype, maxHash and seed
 * all agree (`check_compatible`, `/root/reference/src/lib.rs:176-190`). In
 * the Spark engine this is validated once per pipeline, not per row.
 */
final case class SketchConfig(
    num: Int = 1000,
    ksize: Int = 21,
    isProtein: Boolean = false,
    seed: Long = 42L,
    maxHash: Long = 0L,
    trackAbundance: Boolean = false) {

  require(num >= 0, "num must be >= 0")

  def compatible(other: SketchConfig): Boolean =
    ksize == other.ksize && isProtein == other.isProtein &&
      maxHash == other.maxHash && seed == other.seed

  /** Reference deserialize rule: scaled mode wins over bottom-k
    * (`/root/reference/src/lib.rs:123`). */
  def normalized: SketchConfig = if (maxHash != 0L) copy(num = 0) else this
}

object SketchConfig {

  /**
   * `--scaled` → `max_hash` conversion: `max_hash = round(2^64 / scaled)`
   * as an unsigned 64-bit value — published sourmash semantics (Python
   * `int(round(2**64 / scaled))`; e.g. scaled=1000 → 18446744073709552,
   * not the ⌊⌋ 18446744073709551). The REFERENCE parses `--scaled` but
   * never applies it — the parameter is threaded into
   * `load_query_signature` and dropped (`/root/reference/src/lib.rs:593-601`,
   * `src/main.rs:181-185`); this helper completes the conversion the
   * reference left unimplemented.
   *
   * Computed through the SAME f64 path upstream uses (`2**64 / scaled` is
   * float division in Python), NOT exact rationals: above 2^53 the f64
   * quotient's ulp exceeds 1, so the two disagree — e.g. scaled=100 is
   * 184467440737095516.16 exactly but 184467440737095520 as f64 — and
   * `check_compatible` requires max_hash EQUALITY, so bit-parity with
   * imported sourmash scaled signatures demands replicating the float
   * rounding, quantization and all (KernelSpec pins scaled=100).
   * scaled = 0 means "not scaled" (max_hash 0, bottom-k mode);
   * scaled = 1 keeps every hash (max_hash = u64::MAX).
   */
  def scaledToMaxHash(scaled: Long): Long = {
    require(scaled >= 0, "scaled must be >= 0")
    if (scaled == 0L) 0L
    else if (scaled == 1L) -1L // u64::MAX
    else {
      // 2^64 is exactly representable; the division rounds to nearest-even
      // exactly as CPython's float division does. rint (half-even) matches
      // Python 3 round(); quotients above 2^53 are already integral.
      val q = math.rint(18446744073709551616.0 / scaled.toDouble)
      // f64 → u64 bit-faithful wrap (scaled=2 → 2^63 → Long.MinValue):
      // Double.toLong saturates at Long.MaxValue, so fold the high half
      if (q >= 9.223372036854775808e18) (q - 18446744073709551616.0).toLong
      else q.toLong
    }
  }

  /** Inverse rendering for reporting: scaled = round(2^64 / max_hash)
    * (same rounding as the forward direction, so the round-trip is exact
    * for practical scaled values). */
  def maxHashToScaled(maxHash: Long): Long = {
    if (maxHash == 0L) 0L
    else if (maxHash == -1L) 1L
    else {
      val mh = BigInt(maxHash) & BigInt("ffffffffffffffff", 16)
      ((BigInt(2).pow(65) + mh) / (BigInt(2) * mh)).toLong
    }
  }
}

/**
 * Mutable MinHash sketch builder with the reference's exact `add_hash`
 * semantics (`/root/reference/src/lib.rs:192-245`), including the bottom-k
 * eviction rule and the scaled-mode cutoff, under UNSIGNED 64-bit order.
 *
 * Used for reference-parity tests and the signature compatibility layer.
 * The distributed hot path uses [[MinHash.sketchHashes]] (a batch
 * formulation proven equivalent by property tests).
 */
final class SketchBuilder(val cfg: SketchConfig) {
  val mins: ArrayBuffer[Long] = new ArrayBuffer[Long](math.max(cfg.num, 16))
  val abunds: ArrayBuffer[Long] =
    if (cfg.trackAbundance) new ArrayBuffer[Long](math.max(cfg.num, 16)) else null

  def size: Int = mins.length

  /** Verbatim port of `add_hash` (`/root/reference/src/lib.rs:192-245`). */
  def addHash(hash: Long): Unit = {
    val currentMax = if (mins.isEmpty) -1L /* u64::MAX */ else mins.last

    if (U64.le(hash, cfg.maxHash) || cfg.maxHash == 0L) {
      if (mins.isEmpty) {
        mins += hash
        if (abunds != null) abunds += 1L
      } else if (U64.le(hash, cfg.maxHash) || U64.gt(currentMax, hash) ||
          mins.length < cfg.num) {
        var pos = lowerBound(hash)
        if (pos == mins.length) {
          mins += hash
          if (abunds != null) abunds += 1L
        } else if (mins(pos) != hash) {
          mins.insert(pos, hash)
          if (abunds != null) abunds.insert(pos, 1L)
          if (cfg.num != 0 && mins.length > cfg.num) {
            mins.remove(mins.length - 1)
            if (abunds != null) abunds.remove(abunds.length - 1)
          }
        } else if (abunds != null) {
          abunds(pos) += 1L
        }
      }
    }
  }

  /** First index whose value is >= hash (unsigned), i.e. Rust
    * `binary_search` Ok(p)|Err(p). */
  private def lowerBound(hash: Long): Int = {
    var lo = 0
    var hi = mins.length
    val k = hash ^ Long.MinValue
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if ((mins(mid) ^ Long.MinValue) < k) lo = mid + 1 else hi = mid
    }
    lo
  }

  def addWord(word: Array[Byte]): Unit = addHash(Murmur3.hash64(word, cfg.seed))

  def addMany(hashes: Iterable[Long]): Unit = hashes.foreach(addHash)

  /** Batch form of `count` repeated [[addHash]] calls with one hash —
    * the reference's `add_many_with_abund` inner loop
    * (`/root/reference/src/lib.rs:419-426` literally calls `add_hash`
    * `count` times). After the first call either the hash is present
    * (every further call lands in the `abunds(pos) += 1` branch) or it
    * was rejected/evicted (every further call is the same no-op), so the
    * loop collapses to one `+= count - 1`. KernelSpec asserts the
    * equivalence differentially. */
  def addHashWithCount(hash: Long, count: Long): Unit = {
    if (count <= 0L) return // the reference loops zero times
    addHash(hash)
    if (abunds != null && count > 1L) {
      val pos = lowerBound(hash)
      // replicate addHash's outer guard for the repeat calls: when the
      // hash IS the largest min of a full bottom-k sketch (and out of
      // scaled range), add_hash skips the whole branch and the abundance
      // does NOT grow — reference quirk, lib.rs:203-207
      if (pos < mins.length && mins(pos) == hash &&
          (U64.le(hash, cfg.maxHash) || U64.gt(mins.last, hash) ||
            mins.length < cfg.num))
        abunds(pos) += count - 1L
    }
  }

  def result(): Array[Long] = mins.toArray

  def abundances(): Array[Long] = if (abunds == null) null else abunds.toArray
}

/**
 * Immutable sketch algebra over unsigned-sorted `Array[Long]` mins — the
 * engine's comparison kernel. Each function documents the reference
 * operator it re-expresses.
 */
object MinHash {

  /**
   * Batch sketch of a hash stream — the distributed hot path.
   *
   * Equivalent to feeding every hash through `add_hash`
   * (`/root/reference/src/lib.rs:192-245`) and reading `mins`:
   * scaled mode (`maxHash > 0`) keeps every distinct hash `<= maxHash`
   * (unsigned); bottom-k mode keeps the `num` smallest distinct hashes.
   * Property-tested equivalent to [[SketchBuilder]].
   */
  def sketchHashes(hashes: Array[Long], cfg: SketchConfig): Array[Long] = {
    if (cfg.maxHash != 0L) {
      var n = 0
      val kept = new Array[Long](hashes.length)
      var i = 0
      while (i < hashes.length) {
        if (U64.le(hashes(i), cfg.maxHash)) { kept(n) = hashes(i); n += 1 }
        i += 1
      }
      val cut = U64.sortedDistinct(java.util.Arrays.copyOf(kept, n))
      // non-normalized config with BOTH maxHash and num set: add_hash
      // evicts past num even in scaled mode (lib.rs "is it too big now?"),
      // so the batch path must cap too — otherwise the two
      // property-tested-equivalent paths diverge for any caller that
      // skipped SketchConfig.normalized (the deserialize rule num→0 when
      // max_hash != 0 makes this a no-op for normalized configs)
      if (cfg.num > 0 && cut.length > cfg.num) java.util.Arrays.copyOf(cut, cfg.num)
      else cut
    } else {
      val sd = U64.sortedDistinct(hashes)
      if (cfg.num > 0 && sd.length > cfg.num) java.util.Arrays.copyOf(sd, cfg.num)
      else sd
    }
  }

  /** Merge-union of two sketches re-truncated to `num` in bottom-k mode —
    * `merge` (`/root/reference/src/lib.rs:307-403`), mins only (the
    * dedup pipeline does not track abundances). For the full
    * abundance-carrying semantics see [[mergeWithAbundance]]. */
  def merge(a: Array[Long], b: Array[Long], cfg: SketchConfig): Array[Long] = {
    val u = U64.mergeUnion(a, b)
    if (cfg.num > 0 && u.length >= cfg.num) java.util.Arrays.copyOf(u, cfg.num)
    else u
  }

  /**
   * Faithful port of `merge` INCLUDING the abundance handling
   * (`/root/reference/src/lib.rs:307-403`): abundances are summed on
   * common hashes and carried through on one-sided ones, in unsigned min
   * order. The reference's observable quirks are replicated exactly:
   *
   *  - in bottom-k mode the MINS are truncated to `num` but the ABUNDS
   *    are not (`lib.rs:400`, marked "TODO: reduce this one too");
   *  - the result always carries an abundance vector, even when neither
   *    input tracked abundances (then it is empty, `lib.rs:392-400`);
   *  - with mixed tracking, the abundance iterators advance exactly as in
   *    the reference's nested `if let` chain — e.g. when only `a` tracks
   *    abundances, common hashes do NOT consume a's abundance entry
   *    (`lib.rs:358-367`), lagging the stream.
   *
   * @param aAbunds abundances parallel to `a` or null when untracked
   * @return (mergedMins, mergedAbunds)
   */
  def mergeWithAbundance(
      a: Array[Long], aAbunds: Array[Long],
      b: Array[Long], bAbunds: Array[Long],
      cfg: SketchConfig): (Array[Long], Array[Long]) = {
    val mins = new ArrayBuffer[Long](a.length + b.length)
    val abunds = new ArrayBuffer[Long](a.length + b.length)
    var si = 0 // index into a (the reference's `self`)
    var oi = 0 // index into b (`other`)
    var sa = 0 // abundance cursor for a (lags per the reference quirks)
    var oa = 0
    var selfDone = a.isEmpty
    var broke = false
    while (!selfDone && !broke) {
      val value = a(si)
      if (oi >= b.length) { // other exhausted: flush self incl. current value
        mins += value
        var i = si + 1
        while (i < a.length) { mins += a(i); i += 1 }
        if (aAbunds != null) {
          var j = sa
          while (j < aAbunds.length) { abunds += aAbunds(j); j += 1 }
        }
        broke = true
      } else {
        val x = b(oi)
        val c = java.lang.Long.compareUnsigned(x, value)
        if (c < 0) { // other smaller
          mins += x
          oi += 1
          if (bAbunds != null && oa < bAbunds.length) { abunds += bAbunds(oa); oa += 1 }
        } else if (c == 0) { // common hash: sum, with the reference's nesting
          mins += x
          oi += 1
          si += 1
          if (bAbunds != null && oa < bAbunds.length) {
            val v = bAbunds(oa); oa += 1
            if (aAbunds != null && sa < aAbunds.length) {
              val s = aAbunds(sa); sa += 1
              abunds += v + s
            }
          }
          if (si >= a.length) selfDone = true
        } else { // self smaller
          mins += value
          si += 1
          if (aAbunds != null && sa < aAbunds.length) { abunds += aAbunds(sa); sa += 1 }
          if (si >= a.length) selfDone = true
        }
      }
    }
    if (!broke) { // self exhausted: flush the rest of other
      var i = oi
      while (i < b.length) { mins += b(i); i += 1 }
      if (bAbunds != null) {
        var j = oa
        while (j < bAbunds.length) { abunds += bAbunds(j); j += 1 }
      }
    }
    val m = mins.toArray
    val outMins =
      if (cfg.num > 0 && m.length >= cfg.num) java.util.Arrays.copyOf(m, cfg.num)
      else m
    (outMins, abunds.toArray) // abunds deliberately NOT truncated (lib.rs:400)
  }

  /**
   * Downsample an existing sketch to a coarser scaled factor — the
   * operation `search --scaled` promises ("downsample query to this
   * scaled factor", `/root/reference/src/sourmash.yml:71-76`) and the
   * reference drops (the parameter is threaded into
   * `load_query_signature` and never applied,
   * `/root/reference/src/lib.rs:593-601`). [[SketchConfig.scaledToMaxHash]]
   * completes the factor conversion; this completes the re-truncation:
   * keep exactly the mins `<= newMaxHash` (UNSIGNED — the sorted-ascending
   * invariant makes this a prefix cut), carry the parallel abundances,
   * and the resulting sketch is scaled-mode (`num = 0`, per the
   * deserialize rule `lib.rs:123` that scaled wins over bottom-k).
   *
   * Downsampling is only defined toward a coarser sketch: a caller
   * raising `maxHash` would fabricate hashes that were never kept.
   *
   * @param abunds parallel abundances or null when untracked
   * @return (downsampledMins, downsampledAbunds or null)
   */
  def downsample(mins: Array[Long], abunds: Array[Long],
      newMaxHash: Long): (Array[Long], Array[Long]) = {
    if (newMaxHash == 0L) // 0 = "not scaled": nothing to cut
      return (mins, abunds)
    // mins sorted ascending unsigned → binary search the cut point
    var lo = 0
    var hi = mins.length
    val k = newMaxHash ^ Long.MinValue
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if ((mins(mid) ^ Long.MinValue) <= k) lo = mid + 1 else hi = mid
    }
    (java.util.Arrays.copyOf(mins, lo),
      if (abunds == null) null else java.util.Arrays.copyOf(abunds, lo))
  }

  /** `count_common` (`/root/reference/src/lib.rs:428-436`). */
  def countCommon(a: Array[Long], b: Array[Long]): Long =
    U64.intersectSize(a, b).toLong

  /**
   * `intersection_size` (`/root/reference/src/lib.rs:464-499`) — the KEY
   * semantic: the denominator is the re-truncated combined sketch, not the
   * plain union. Returns (|A ∩ B ∩ combined|, |combined|). In scaled mode
   * this degenerates to (|A∩B|, |A∪B|).
   */
  def intersectionSize(a: Array[Long], b: Array[Long], cfg: SketchConfig): (Long, Long) =
    intersectionSize(a, b, cfg.num)

  /**
   * [[intersectionSize]] for a bottom-k size `num` (0 = no truncation) —
   * the one loop behind every Jaccard in the engine, codegen'd
   * expressions included. One merge pass, no copies: walk the union of
   * the two unsigned-sorted arrays in ascending order, stopping after
   * `num` elements (the [[merge]] re-truncation); `common` counts the
   * elements of A∩B inside that prefix. Once one side is exhausted no
   * common element remains, so the rest of the union is counted, not
   * walked.
   */
  private def intersectionSize(a: Array[Long], b: Array[Long], num: Int): (Long, Long) = {
    val limit = if (num > 0) num.toLong else Long.MaxValue
    var i = 0
    var j = 0
    var union = 0L
    var common = 0L
    while (i < a.length && j < b.length && union < limit) {
      val c = java.lang.Long.compareUnsigned(a(i), b(j))
      if (c == 0) { common += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
      union += 1
    }
    (common, math.min(limit, union + (a.length - i) + (b.length - j)))
  }

  /** Jaccard similarity estimate — `compare`
    * (`/root/reference/src/lib.rs:501-508`): `common / max(1, denom)`. */
  def compare(a: Array[Long], b: Array[Long], cfg: SketchConfig): Double =
    compare(a, b, cfg.num)

  /** [[compare]] for a bottom-k size `num` (0 = no truncation) — the
    * form the codegen'd `SketchKernels.jaccard` calls. */
  def compare(a: Array[Long], b: Array[Long], num: Int): Double = {
    val cd = intersectionSize(a, b, num)
    cd._1.toDouble / math.max(1L, cd._2).toDouble
  }

  /** Asymmetric containment — `Comparable::containment`
    * (`/root/reference/src/index.rs:146-160`): `count_common / |A|`. */
  def containment(a: Array[Long], b: Array[Long]): Double =
    if (a.isEmpty) 0.0 else countCommon(a, b).toDouble / a.length.toDouble

  /**
   * Abundance-weighted similarity — published sourmash's
   * `similarity(ignore_abundance=False)` / `angular_similarity`:
   * `1 − 2·acos(ρ)/π` where ρ is the cosine of the two abundance vectors
   * over the hash universe (each sketch is a sparse vector
   * hash → abundance; missing hashes are 0, so the dot product runs over
   * COMMON hashes only while each norm covers the sketch's full
   * abundance vector). The acos transform is part of the published
   * semantics — raw cosine would over-score moderate overlaps (cos 0.9
   * reads 0.9; sourmash reports ≈ 0.713). The reference tracks
   * abundances (`/root/reference/src/lib.rs:52-58`, K6's merge quirks)
   * but stops short of an abund-weighted compare — this completes that
   * surface the same way scaledToMaxHash completes `--scaled`.
   *
   * Inputs: `mins` sorted by unsigned value with parallel `abunds`
   * (the invariant every sketch source maintains). 0.0 when either side
   * is empty or has all-zero abundances (disjoint sketches also land on
   * exactly 0.0: acos(0) = π/2). Self-similarity is exactly 1.0 (ρ is
   * clamped to [−1, 1] before acos — fp round-up must not yield NaN).
   */
  def angularSimilarity(minsA: Array[Long], abundsA: Array[Long],
      minsB: Array[Long], abundsB: Array[Long]): Double = {
    require(minsA.length == abundsA.length && minsB.length == abundsB.length,
      "mins/abunds length mismatch")
    var dot = 0.0
    var i = 0; var j = 0
    while (i < minsA.length && j < minsB.length) {
      val c = java.lang.Long.compareUnsigned(minsA(i), minsB(j))
      if (c == 0) { dot += abundsA(i).toDouble * abundsB(j).toDouble; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    var n2a = 0.0
    i = 0
    while (i < abundsA.length) { n2a += abundsA(i).toDouble * abundsA(i); i += 1 }
    var n2b = 0.0
    j = 0
    while (j < abundsB.length) { n2b += abundsB(j).toDouble * abundsB(j); j += 1 }
    if (n2a == 0.0 || n2b == 0.0) 0.0
    else {
      val cos = math.min(1.0, math.max(-1.0, dot / math.sqrt(n2a * n2b)))
      1.0 - 2.0 * math.acos(cos) / math.Pi
    }
  }
}
