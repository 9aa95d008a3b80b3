package graft.core

import java.nio.charset.StandardCharsets

/**
 * Tokenizers. Two families:
 *
 *  1. Reference-parity tokenizers — DNA canonical k-mers and 6-frame
 *     protein translation, re-expressing `add_sequence`
 *     (`/root/reference/src/lib.rs:252-302`). Used by the signature
 *     compatibility layer and parity tests.
 *  2. Grafted-domain tokenizers — byte n-grams over image bytes and
 *     char/word shingles over captions/documents (SURVEY.md §2.6): the
 *     reference demonstrates multiple tokenizers per record (DNA+protein);
 *     we mirror with image-shingle + caption-shingle dual sketches.
 *
 * All emit murmur3_x64_128 low-64 hashes with the sketch seed, matching
 * `add_word` (`/root/reference/src/lib.rs:247-250`).
 */
object Shingles {

  final case class InvalidDnaException(kmer: String)
      extends RuntimeException(s"invalid DNA character in k-mer: $kmer")

  /** Reverse complement (`/root/reference/src/lib.rs:678-689`); unknown
    * characters pass through unchanged, as in the reference. */
  def revcomp(seq: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](seq.length)
    var i = 0
    while (i < seq.length) {
      out(seq.length - 1 - i) = (seq(i): @unchecked) match {
        case 'A' | 'a' => 'T'
        case 'T' | 't' => 'A'
        case 'C' | 'c' => 'G'
        case 'G' | 'g' => 'C'
        case x         => x
      }
      i += 1
    }
    out
  }

  /** `_checkdna` (`/root/reference/src/lib.rs:796-804`). */
  def checkDna(seq: Array[Byte], from: Int, until: Int): Boolean = {
    var i = from
    while (i < until) {
      (seq(i): @unchecked) match {
        case 'A' | 'a' | 'C' | 'c' | 'G' | 'g' | 'T' | 't' => ()
        case _ => return false
      }
      i += 1
    }
    true
  }

  /** Standard codon table (`/root/reference/src/lib.rs:691-777`), indexed by
    * 6-bit packed codon; -1 = not a valid codon. */
  private val codonTable: Array[Byte] = {
    val t = Array.fill[Byte](64)(-1)
    def base(b: Char): Int = b match { case 'T' => 0; case 'C' => 1; case 'A' => 2; case 'G' => 3 }
    def put(codon: String, aa: Char): Unit =
      t(base(codon(0)) * 16 + base(codon(1)) * 4 + base(codon(2))) = aa.toByte
    val rows = Seq(
      "TTT F", "TTC F", "TTA L", "TTG L", "TCT S", "TCC S", "TCA S", "TCG S",
      "TAT Y", "TAC Y", "TAA *", "TAG *", "TGT C", "TGC C", "TGA *", "TGG W",
      "CTT L", "CTC L", "CTA L", "CTG L", "CCT P", "CCC P", "CCA P", "CCG P",
      "CAT H", "CAC H", "CAA Q", "CAG Q", "CGT R", "CGC R", "CGA R", "CGG R",
      "ATT I", "ATC I", "ATA I", "ATG M", "ACT T", "ACC T", "ACA T", "ACG T",
      "AAT N", "AAC N", "AAA K", "AAG K", "AGT S", "AGC S", "AGA R", "AGG R",
      "GTT V", "GTC V", "GTA V", "GTG V", "GCT A", "GCC A", "GCA A", "GCG A",
      "GAT D", "GAC D", "GAA E", "GAG E", "GGT G", "GGC G", "GGA G", "GGG G")
    rows.foreach { r => put(r.substring(0, 3), r.charAt(4)) }
    t
  }

  /** `to_aa` (`/root/reference/src/lib.rs:780-794`): translate complete
    * codons; invalid codons are skipped (reference: HashMap miss → skip). */
  def toAa(seq: Array[Byte]): Array[Byte] = {
    def baseIdx(b: Byte): Int = (b: @unchecked) match {
      case 'T' => 0; case 'C' => 1; case 'A' => 2; case 'G' => 3; case _ => -1
    }
    val out = new Array[Byte](seq.length / 3)
    var n = 0
    var i = 0
    while (i + 3 <= seq.length) {
      val b0 = baseIdx(seq(i)); val b1 = baseIdx(seq(i + 1)); val b2 = baseIdx(seq(i + 2))
      if (b0 >= 0 && b1 >= 0 && b2 >= 0) {
        val aa = codonTable(b0 * 16 + b1 * 4 + b2)
        if (aa >= 0) { out(n) = aa; n += 1 }
      }
      i += 3
    }
    java.util.Arrays.copyOf(out, n)
  }

  /**
   * DNA canonical k-mer hashes — `add_sequence` DNA branch
   * (`/root/reference/src/lib.rs:252-274`): uppercase, slide `ksize`
   * window, canonical = lexicographic min(kmer, revcomp), murmur hash.
   * `force=false` raises on invalid characters; `force=true` skips them.
   */
  def dnaKmerHashes(seq0: Array[Byte], ksize: Int, seed: Long, force: Boolean): Array[Long] = {
    val seq = new Array[Byte](seq0.length)
    var i = 0
    while (i < seq0.length) {
      val c = seq0(i)
      seq(i) = if (c >= 'a' && c <= 'z') (c - 32).toByte else c
      i += 1
    }
    if (seq.length < ksize) return Array.emptyLongArray
    val out = new Array[Long](seq.length - ksize + 1)
    var n = 0
    i = 0
    while (i + ksize <= seq.length) {
      if (checkDna(seq, i, i + ksize)) {
        val kmer = java.util.Arrays.copyOfRange(seq, i, i + ksize)
        val rc = revcomp(kmer)
        val canonical = if (byteArrayLt(kmer, rc)) kmer else rc
        out(n) = Murmur3.hash64(canonical, seed)
        n += 1
      } else if (!force) {
        throw InvalidDnaException(new String(seq, i, ksize, StandardCharsets.UTF_8))
      }
      i += 1
    }
    java.util.Arrays.copyOf(out, n)
  }

  /** Rust `&[u8] < &[u8]` lexicographic compare (unsigned bytes). */
  private def byteArrayLt(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    a.length < b.length
  }

  /**
   * 6-frame protein k-mer hashes — `add_sequence` protein branch
   * (`/root/reference/src/lib.rs:275-302`): 3 frame offsets × {forward,
   * revcomp-of-whole-sequence}, translate, window by `ksize/3`.
   */
  def proteinKmerHashes(seq0: Array[Byte], ksize: Int, seed: Long): Array[Long] = {
    val seq = seq0.map(c => if (c >= 'a' && c <= 'z') (c - 32).toByte else c)
    if (seq.length < ksize) return Array.emptyLongArray
    val rc = revcomp(seq)
    val aaK = ksize / 3
    val buf = new scala.collection.mutable.ArrayBuffer[Long]()
    var frame = 0
    while (frame < 3) {
      for (src <- Seq(seq, rc)) {
        val sub = java.util.Arrays.copyOfRange(src, frame, src.length)
        val aa = toAa(sub)
        var i = 0
        while (i + aaK <= aa.length) {
          buf += Murmur3.hash64(aa, i, aaK, seed)
          i += 1
        }
      }
      frame += 1
    }
    buf.toArray
  }

  // ---------------------------------------------------------------- grafted

  /** Byte n-gram shingle hashes with stride — the image-bytes analog of DNA
    * k-mers (canonicalization has no image analog → identity; SURVEY.md K4).
    * Stride > 1 subsamples windows, keeping cost linear in |bytes|/stride. */
  def byteShingleHashes(bytes: Array[Byte], ksize: Int, stride: Int, seed: Long): Array[Long] = {
    if (bytes.length < ksize) {
      if (bytes.length == 0) return Array.emptyLongArray
      return Array(Murmur3.hash64(bytes, seed))
    }
    val n = (bytes.length - ksize) / stride + 1
    val out = new Array[Long](n)
    var w = 0
    while (w < n) {
      out(w) = Murmur3.hash64(bytes, w * stride, ksize, seed)
      w += 1
    }
    out
  }

  /** Character n-gram shingle hashes over normalized text (lowercase,
    * whitespace collapsed to single spaces) — the caption/document analog. */
  def charShingleHashes(text: String, ksize: Int, seed: Long): Array[Long] = {
    val norm = normalizeText(text)
    val b = norm.getBytes(StandardCharsets.UTF_8)
    if (b.length < ksize) {
      if (b.length == 0) return Array.emptyLongArray
      return Array(Murmur3.hash64(b, 0, b.length, seed))
    }
    val out = new Array[Long](b.length - ksize + 1)
    var i = 0
    while (i + ksize <= b.length) {
      out(i) = Murmur3.hash64(b, i, ksize, seed)
      i += 1
    }
    out
  }

  /** Lowercase + collapse runs of whitespace to single spaces + trim. */
  def normalizeText(text: String): String = {
    val sb = new java.lang.StringBuilder(text.length)
    var pendingSpace = false
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (Character.isWhitespace(c)) {
        if (sb.length() > 0) pendingSpace = true
      } else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(Character.toLowerCase(c))
      }
      i += 1
    }
    sb.toString
  }

  /** Whitespace tokenization of normalized text. */
  def tokenize(text: String): Array[String] = {
    val n = normalizeText(text)
    if (n.isEmpty) Array.empty else n.split(' ')
  }

  /**
   * Winnowing fingerprint selection (Schleimer et al., MOSS): slide a
   * window of `w` consecutive k-gram hashes, keep the minimum of each
   * window (rightmost minimum on ties), deduplicate consecutive picks.
   * Guarantees a shared fingerprint for any match of length ≥ w + k − 1.
   * Unsigned comparison, consistent with the engine's u64 universe.
   */
  def winnow(hashes: Array[Long], w: Int): Array[Long] = {
    if (hashes.isEmpty) return Array.emptyLongArray
    if (hashes.length <= w) {
      var m = hashes(0)
      var i = 1
      while (i < hashes.length) { if (U64.le(hashes(i), m)) m = hashes(i); i += 1 }
      return Array(m)
    }
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    var lastPick = -1
    var start = 0
    while (start + w <= hashes.length) {
      var minIdx = start
      var i = start + 1
      while (i < start + w) { if (U64.le(hashes(i), hashes(minIdx))) minIdx = i; i += 1 }
      if (minIdx != lastPick) { out += hashes(minIdx); lastPick = minIdx }
      start += 1
    }
    out.toArray
  }

  /**
   * SimHash64 over token hashes: per-bit majority vote (+1 if bit set, -1
   * if clear), bit set in the fingerprint when the vote is positive.
   * Standard Charikar construction; near-dup ⟺ small Hamming distance.
   */
  def simhash64(hashes: Array[Long]): Long = {
    if (hashes.isEmpty) return 0L
    val votes = new Array[Int](64)
    var i = 0
    while (i < hashes.length) {
      val h = hashes(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}
