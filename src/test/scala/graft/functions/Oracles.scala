package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core._
import graft.sources.ImageCodec

/**
 * Differential-test oracles for the codegen'd expressions: each one is the
 * UDF (or fold-of-Columns) formulation the expression replaced (SURVEY.md
 * §7 stage 5), and `ExpressionsSpec` and `QueriesSpec` assert bit-equality
 * between the two. [[ivfTrainBroadcast]] is likewise the distributed
 * k-means the driver-local IVF training replaced. Nothing in the library
 * calls them. The jaccard, containment and downsample UDFs call the same
 * `graft.core.MinHash` loop as their expressions, so for those they check
 * the `ArrayData` and codegen plumbing; the loop itself is checked against
 * the merge-based `intersection_size` in `KernelPropertySpec`.
 */
object Oracles {

  /** UDF formulation of [[GraftFunctions.captionMinhash]]. */
  def captionMinhashUdf(caption: Column, cfg: SketchConfig): Column = {
    val k = cfg.ksize; val seed = cfg.seed; val localCfg = cfg
    val f = udf((s: String) =>
      if (s == null) Array.emptyLongArray
      else MinHash.sketchHashes(Shingles.charShingleHashes(s, k, seed), localCfg))
    f(caption)
  }

  /** UDF formulation of [[GraftFunctions.downsampleMins]]. */
  def downsampleMinsUdf(mins: Column, newMaxHash: Long): Column = {
    val f = udf((m: Seq[Long]) =>
      if (m == null) null else MinHash.downsample(m.toArray, null, newMaxHash)._1)
    f(mins)
  }

  /** UDF formulation of [[GraftFunctions.captionSimhash]]. */
  def captionSimhashUdf(caption: Column, ksize: Int, seed: Long = 42L): Column = {
    val f = udf((s: String) =>
      if (s == null) 0L else Shingles.simhash64(Shingles.charShingleHashes(s, ksize, seed)))
    f(caption)
  }

  /** UDF formulation of [[GraftFunctions.captionLcs]]. */
  def captionLcsUdf(a: Column, b: Column): Column = {
    val f = udf((x: String, y: String) =>
      if (x == null || y == null) null
      else java.lang.Integer.valueOf(SuffixArrays.lcsLen(x, y)))
    f(a, b)
  }

  /** UDF formulation of [[GraftFunctions.imageMinhash]]. */
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

  /** UDF formulation of [[GraftFunctions.jaccard]]. */
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

  /** UDF formulation of [[GraftFunctions.containment]]. */
  def containmentUdf(a: Column, b: Column): Column = {
    // null-faithful like jaccardUdf — see there
    val f = udf((x: Array[Long], y: Array[Long]) =>
      if (x == null || y == null) null.asInstanceOf[java.lang.Double]
      else java.lang.Double.valueOf(MinHash.containment(x, y)))
    f(a, b)
  }

  /** UDF formulation of [[GraftFunctions.minhashBands]]. */
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

  /** UDF formulation of [[graft.operators.Similarity.hyperplaneKeys]] (same
    * plane derivation, accumulation order, and probe layout). */
  def hyperplaneKeysUdf(vec: Column, dim: Int, nPlanes: Int, nTables: Int,
      seed: Long = 42L, probe: Boolean = false): Column = {
    // plane components precomputed once (driver) and closed over — a tiny
    // deterministic broadcast; ±1 components from murmur low bits
    val planes: Array[Array[Array[Double]]] =
      Array.tabulate(nTables, nPlanes, dim) { (t, p, i) =>
        if ((Murmur3.hash64(s"$t:$p:$i", seed) & 1L) == 0L) 1.0 else -1.0
      }
    val perTable = if (probe) nPlanes + 1 else 1
    val f = udf((v: Seq[Float]) => {
      if (v == null) Array.emptyLongArray
      else {
        val out = new Array[Long](nTables * perTable)
        var t = 0
        while (t < nTables) {
          var key = 0L
          var p = 0
          while (p < nPlanes) {
            val comp = planes(t)(p)
            var dot = 0.0
            var i = 0
            val n = math.min(v.length, comp.length)
            while (i < n) { dot += comp(i) * v(i); i += 1 }
            if (dot > 0) key |= (1L << p)
            p += 1
          }
          out(t * perTable) = key * nTables + t // tag table index into the key
          var q = 1
          while (q < perTable) { // 1-bit probe keys
            out(t * perTable + q) = (key ^ (1L << (q - 1))) * nTables + t
            q += 1
          }
          t += 1
        }
        out
      }
    })
    f(vec)
  }

  /** UDF formulation of [[graft.operators.Similarity.pqEncodeCol]] (same
    * argmin tie rule, same accumulation order). */
  def pqEncodeUdf(vec: Column, codebook: Array[Array[Double]],
      m: Int, ks: Int, subDim: Int): Column = {
    val f = udf((v: Seq[Double]) => {
      if (v == null) null
      else Array.tabulate(m) { j =>
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < ks) {
          val cent = codebook(j * ks + c)
          var s = 0.0
          var i = 0
          while (i < subDim) { val x = v(j * subDim + i) - cent(i); s += x * x; i += 1 }
          if (s < bestD) { bestD = s; best = c }
          c += 1
        }
        best
      }
    })
    f(vec)
  }

  /** The broadcast-model formulation of
    * [[graft.operators.Similarity.ivfTrain]], the classic distributed
    * k-means shape (MLlib's KMeans does the same internally): each round
    * broadcasts the nCells×dim model, assigns every vector to its
    * max-cosine centroid (6-digit rounding, ties to the lowest cell) in
    * one narrow pass and re-averages per (cell, component) — one job per
    * round. Same init, empty-cell and fixpoint rules as the driver-local
    * loop; only the summation order differs (Spark's `avg` against a
    * serial loop), so the two agree to float noise. */
  def ivfTrainBroadcast(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int, dim: Int, iters: Int): DataFrame = {
    import graft.operators.Similarity.dot
    val spark = df.sparkSession
    import spark.implicits._
    val v = df.select(col(idCol).as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("nrm", dot(col("v"), col("v")))
      .persist()
    try {
      var cents: Array[(Long, Seq[Double])] =
        v.orderBy(xxhash64(col("id")), col("id")).limit(nCells)
          .select(col("id"), col("v")).as[(Long, Seq[Double])].collect()
          .zipWithIndex.map { case ((_, cv), i) => (i.toLong, cv) }
      var it = 0
      var converged = false
      while (it < iters && !converged) {
        val cdf = cents.toSeq.toDF("cell", "cv")
          .withColumn("cn", dot(col("cv"), col("cv")))
        val wc = Window.partitionBy(col("id")).orderBy(col("csim").desc, col("cell"))
        val means = v.crossJoin(broadcast(cdf))
          .withColumn("csim",
            round(dot(col("v"), col("cv")) / sqrt(col("nrm") * col("cn")), 6))
          .withColumn("crk", row_number().over(wc))
          .where(col("crk") === 1)
          .groupBy(col("cell"))
          .agg(array((0 until dim).map(i => avg(col("v").getItem(i))): _*).as("cv"))
          .as[(Long, Seq[Double])].collect().toMap
        // empty cells keep their previous centroid
        val next = cents.map { case (c, old) => (c, means.getOrElse(c, old)) }
        // between jobs Spark reorders the sums, so exact equality may
        // never fire; the band is the driver-local loop's
        converged = next.zip(cents).forall { case ((_, a), (_, b)) =>
          a.zip(b).forall { case (x, y) => math.abs(x - y) <= 1e-12 }
        }
        cents = next
        it += 1
      }
      cents.toSeq.toDF("cell", "cv")
    } finally v.unpersist(false)
  }

  /** The fold-of-Columns form of the Manku combos (scheme 1 of
    * [[expressions.SketchExpressions.jointBandKeys]]; the kernel exists because
    * inlining C(n,pick) fold trees into the bands stage blew Janino's
    * 64 KB method limit and dropped the stage out of whole-stage
    * codegen). */
  def fingerprintCombosFoldForm(fp: Column, pick: Int): Column = {
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

  /** Fold-of-Columns form of scheme 0 (eight 8-bit blocks) — see
    * [[fingerprintCombosFoldForm]]. */
  def fingerprintJointBandsFoldForm(fp: Column, pick: Int): Column = {
    def block(i: Int): Column =
      shiftrightunsigned(fp, i * 8).bitwiseAND(lit(0xffL))
    val combos = (0 until 8).combinations(pick).toSeq
    array(combos.zipWithIndex.map { case (c, tag) =>
      c.foldLeft(lit(tag.toLong): Column)((acc, i) => acc * lit(256L) + block(i))
    }: _*)
  }
}
