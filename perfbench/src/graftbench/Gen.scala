package graftbench

import graft.core.{MinHash, SketchConfig}
import graft.sources.{ImageCodec, ImageRow, SyntheticCorpus}

/**
 * Seeded workload inputs. `SyntheticCorpus` takes no seed, so every row
 * here is built from its public generators applied to ids with the seed
 * mixed in: the same seed gives byte-identical rows, another seed gives
 * different ones. Every value is a pure function of (seed, row index), so
 * Spark tasks can generate rows in any order and the driver can derive the
 * ground truth without the pixels.
 */
object Gen {
  val W: Int = SyntheticCorpus.W
  val H: Int = SyntheticCorpus.H

  def splitmix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The id handed to `SyntheticCorpus`'s generators for row `i`. */
  def mixed(seed: Long, i: Long): Long = splitmix(splitmix(seed) ^ i)

  def prg(seed: Long, i: Long, tag: String) = new SyntheticCorpus.Prg(mixed(seed, i), tag)

  def imageId(i: Long): String = f"img_$i%08d"

  private val words = Array("fluffy", "rusty", "gleaming", "ancient", "tiny", "massive",
    "colorful", "quiet", "crowded", "misty", "sunlit", "frozen", "weathered", "ornate")
  private val nouns = Array("cat", "harbor", "bridge", "forest", "train", "canyon",
    "library", "temple", "meadow", "garden")
  private val places = Array("the old town", "a rocky coast", "the valley floor",
    "a busy street", "the river bend", "an open plaza")

  private def row(i: Long, rgb: Array[Byte], fmt: String, caption: String): ImageRow = {
    val bytes = fmt match {
      case "png" => ImageCodec.encodePng(rgb, W, H)
      case "jpg" => ImageCodec.encodeJpeg(rgb, W, H)
      case _ => ImageCodec.encodePpm(rgb, W, H)
    }
    // a lossy container's phash is that of the pixels its bytes decode to
    val ph = if (fmt == "jpg") ImageCodec.phash64(ImageCodec.decode(bytes, fmt).get.rgb, W, H)
      else ImageCodec.phash64(rgb, W, H)
    ImageRow(imageId(i), bytes, W, H, fmt, caption, ph)
  }

  private def noise(rgb0: Array[Byte], r: SyntheticCorpus.Prg): Array[Byte] = {
    val rgb = rgb0.clone()
    var k = 0
    while (k < math.max(1, (rgb.length * 0.005).toInt)) {
      val p = r.nextInt(rgb.length)
      rgb(p) = math.max(0, math.min(255, (rgb(p) & 0xff) + r.nextInt(33) - 16)).toByte
      k += 1
    }
    rgb
  }

  private def wordEdit(cap: String, r: SyntheticCorpus.Prg): String = {
    val ws = cap.split(' ')
    ws(r.nextInt(ws.length)) = words(r.nextInt(words.length))
    ws.mkString(" ")
  }

  // ---------------------------------------------------------------- dedup_5pct

  val DupKinds: Array[String] =
    Array("exact", "noise", "reencode", "caption", "capsub", "pngenc", "jpgenc", "capedit")

  def nBase5(n: Long): Long = math.max(1L, (n * (1.0 - SyntheticCorpus.DUP_FRACTION)).toLong)

  /** (source row, kind) of a dup row `i >= nBase5(n)`. */
  def dupPlan(seed: Long, n: Long, i: Long): (Long, String) = {
    val r = prg(seed, i, "dup")
    (java.lang.Long.remainderUnsigned(r.nextLong(), nBase5(n)), DupKinds(r.nextInt(DupKinds.length)))
  }

  /** Row `i` of the 5%-near-dup corpus: base rows, then dups of the eight kinds. */
  def row5(seed: Long, n: Long, i: Long): ImageRow =
    if (i < nBase5(n)) {
      row(i, SyntheticCorpus.genPixels(mixed(seed, i)), "ppm",
        SyntheticCorpus.genCaption(mixed(seed, i)))
    } else {
      val (src, kind) = dupPlan(seed, n, i)
      val rgb0 = SyntheticCorpus.genPixels(mixed(seed, src))
      val cap0 = SyntheticCorpus.genCaption(mixed(seed, src))
      val r = prg(seed, i, "perturb")
      kind match {
        case "exact" => row(i, rgb0, "ppm", cap0)
        case "noise" => row(i, noise(rgb0, r), "ppm", cap0)
        case "reencode" => row(i, ImageCodec.quantize(rgb0, 4), "ppmq", cap0)
        case "caption" => row(i, rgb0, "ppm", wordEdit(cap0, r))
        case "capsub" =>
          val ws = cap0.split(' ')
          row(i, rgb0, "ppm", ws.take(math.max(5, ws.length - 1 - r.nextInt(3))).mkString(" "))
        case "pngenc" => row(i, rgb0, "png", cap0)
        case "jpgenc" => row(i, rgb0, "jpg", cap0)
        case "capedit" =>
          // fresh head, the trailing "in <place> ... day N" clause survives:
          // only the suffix-array pass corroborated by phash links it
          val tail = cap0.substring(cap0.indexOf(" in ") + 1)
          val head = new StringBuilder(s"a ${words(r.nextInt(words.length))} ${nouns(r.nextInt(nouns.length))}")
          while (head.length < tail.length * 3)
            head.append(s" and a ${words(r.nextInt(words.length))} ${nouns(r.nextInt(nouns.length))}" +
              s" toward ${places(r.nextInt(places.length))}")
          row(i, ImageCodec.quantize(rgb0, 4), "ppmq", s"$head $tail")
      }
    }

  // -------------------------------------------------------------- dedup_chains

  val MinChain = 4
  val MaxChain = 12

  /** First row of every family, plus `n` as the end sentinel. Family sizes
    * are drawn in [MinChain, MaxChain]; the last family is cut at `n`. */
  def chainStarts(seed: Long, n: Long): Array[Long] = {
    val b = Array.newBuilder[Long]
    var at = 0L
    var f = 0L
    while (at < n) {
      b += at
      at += MinChain + prg(seed, f, "fam").nextInt(MaxChain - MinChain + 1)
      f += 1
    }
    b += n
    b.result()
  }

  def familyOf(starts: Array[Long], i: Long): Int = {
    val k = java.util.Arrays.binarySearch(starts, i)
    if (k >= 0) k else -k - 2
  }

  /** Row `i` of the chain corpus: member 0 of a family is a base row, and
    * member j is member j-1 after one step — pixel noise, a caption word
    * edit, or a re-quantize. */
  def rowChain(seed: Long, starts: Array[Long], i: Long): ImageRow = {
    val f = familyOf(starts, i)
    val first = starts(f)
    var rgb = SyntheticCorpus.genPixels(mixed(seed, first))
    var cap = SyntheticCorpus.genCaption(mixed(seed, first))
    var fmt = "ppm"
    var m = first + 1
    while (m <= i) {
      val r = prg(seed, m, "step")
      r.nextInt(3) match {
        case 0 => rgb = noise(rgb, r); fmt = "ppm"
        case 1 => cap = wordEdit(cap, r)
        case _ => rgb = ImageCodec.quantize(rgb, 4); fmt = "ppmq"
      }
      m += 1
    }
    row(i, rgb, fmt, cap)
  }

  /** Ground truth: a family id per row and the dup links to recover. */
  final case class Truth(family: Array[Int], links: Array[(Int, Int)])

  def truth5(seed: Long, n: Int): Truth = {
    val base = nBase5(n)
    val fam = Array.tabulate(n)(i => if (i < base) i else dupPlan(seed, n, i)._1.toInt)
    Truth(fam, (base.toInt until n).map(i => (i, fam(i))).toArray)
  }

  def truthChain(seed: Long, n: Int): Truth = {
    val starts = chainStarts(seed, n)
    val fam = Array.tabulate(n)(i => familyOf(starts, i))
    Truth(fam, (1 until n).filter(i => fam(i) == fam(i - 1)).map(i => (i - 1, i)).toArray)
  }

  // ---------------------------------------------------------------- sig_search

  val SigCfg: SketchConfig = SketchConfig(num = 500, ksize = 21)
  val FamilySize = 8
  private val CoreHashes = 3000

  /** Hash stream of member `m` of family `f`: a share in [0.3, 0.9] of the
    * family's core stream plus hashes of its own. Families never share
    * hashes, so every match of a query lies in the query's family. */
  def hashStream(seed: Long, f: Long, m: Long): Array[Long] = {
    val r = prg(seed, (f << 20) ^ m, "member")
    val keep = 0.3 + 0.6 * r.nextDouble()
    val core = prg(seed, f, "core")
    val out = Array.newBuilder[Long]
    var k = 0
    while (k < CoreHashes) {
      val h = core.nextLong()
      if (r.nextDouble() < keep) out += h
      k += 1
    }
    k = 0
    while (k < (CoreHashes * (1.0 - keep)).toInt) { out += r.nextLong(); k += 1 }
    out.result()
  }

  def dbSketch(seed: Long, i: Long): (String, Array[Long]) =
    (f"sig_$i%07d", MinHash.sketchHashes(hashStream(seed, i / FamilySize, i % FamilySize), SigCfg))

  /** Query `q`: an unseen member of a DB family. */
  def query(seed: Long, nDb: Long, q: Long): Array[Long] = {
    val f = java.lang.Long.remainderUnsigned(prg(seed, q, "query").nextLong(), nDb / FamilySize)
    MinHash.sketchHashes(hashStream(seed, f, FamilySize + 1 + q), SigCfg)
  }
}
