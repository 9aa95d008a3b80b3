package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Similarity search over an embedding column (`ARRAY<FLOAT>`).
 *
 * Two paths, per the build brief:
 *  - brute-force cosine top-k — the exactness baseline (quadratic; fine at
 *    validation scale, and the correct confirm kernel at any scale);
 *  - random-hyperplane LSH (sign-bit SimHash over fixed pseudo-random
 *    hyperplanes) — the scale path: bucket equi-grouping replaces the
 *    crossJoin, exactly as MinHash banding replaces the reference's
 *    linear scan (`/root/reference/src/index/linear.rs:25-45`).
 *
 * All cosine math is done in double after an explicit element cast, and
 * scores are rounded to 6 digits so results are stable across engines and
 * summation orders.
 */
object Similarity {

  import org.apache.spark.sql.graft.Bridge
  import graft.functions.expressions.SketchExpressions

  /** Native codegen'd dot product (no per-row intermediate arrays). */
  def dot(a: Column, b: Column): Column =
    Bridge.column(SketchExpressions.dot(Bridge.expression(a), Bridge.expression(b)))

  /** Cosine similarity column between two ARRAY<DOUBLE> columns. */
  def cosine(a: Column, b: Column): Column =
    round(dot(a, b) / sqrt(dot(a, a) * dot(b, b)), 6)

  /** Cosine from a precomputed dot and per-side squared norms — hoists the
    * norm computation out of the pair loop (it is per-vector, not
    * per-pair; identical value and therefore identical rounding). */
  private def cosineWithNorms(dotCol: Column, na: Column, nb: Column): Column =
    round(dotCol / sqrt(na * nb), 6)

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** One-partition copy of the cross join's RIGHT side. CartesianRDD
    * launches (left parts × right parts) tasks, so a caller-widened
    * left (e.g. 32 partitions via `spread`) crossed with itself spawned
    * 32×32 = 1024 tasks of ~5 ms each — the n² kernel became DRIVER
    * scheduling latency (~3 ms/task serial), measured ~4 s wall for
    * ~6 s of total task time at sf0.1. Collapsing the right side to one
    * partition makes it left×1 tasks: every task streams the full right
    * side (one shuffle block, re-read per task — the small declared
    * baseline input) against its own left slice, so parallelism equals
    * the left width and scheduling is O(left). The repartition moves the
    * right side's vectors once (~MBs at the declared baseline scales;
    * these brute-force entries are baselines by contract, never the
    * production path). */
  private def oneSlice(df: DataFrame): DataFrame = df.repartition(1)

  /** All pairs (id < id) with cosine ≥ minCos — brute force. */
  def bruteForcePairs(df: DataFrame, idCol: String, vecCol: String, minCos: Double): DataFrame = {
    val withNorm = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", dot(col("v"), col("v")))
    val a = withNorm.select(col("id").as("a"), col("v").as("va"), col("nrm").as("na"))
    val b = oneSlice(withNorm.select(col("id").as("b"), col("v").as("vb"), col("nrm").as("nb")))
    a.crossJoin(b).where(col("a") < col("b"))
      .withColumn("cos", cosineWithNorms(dot(col("va"), col("vb")), col("na"), col("nb")))
      .where(col("cos") >= minCos)
      .select(col("a"), col("b"), col("cos"))
  }

  /** Top-k neighbors per id — brute force baseline. */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val withNorm = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", dot(col("v"), col("v")))
    val a = withNorm.select(col("id").as("vec_id"), col("v").as("va"), col("nrm").as("na"))
    val b = oneSlice(
      withNorm.select(col("id").as("neighbor"), col("v").as("vb"), col("nrm").as("nb")))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("neighbor"))
    a.crossJoin(b).where(col("vec_id") =!= col("neighbor"))
      .withColumn("cos", cosineWithNorms(dot(col("va"), col("vb")), col("na"), col("nb")))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("vec_id"), col("neighbor"), col("cos"), col("rk"))
  }

  /**
   * Sign-bit bucket keys from `nPlanes` fixed pseudo-random hyperplanes
   * (components derived from murmur3(plane, dim) — deterministic, no
   * broadcast needed). Emits `nTables` independent keys (rotated plane
   * sets) to trade buckets for recall. With `probe = true` each table
   * additionally emits the `nPlanes` keys at Hamming distance 1 from the
   * row's own key (symmetric multi-probe): two rows then collide in a
   * table whenever their sign patterns differ in ≤ 2 planes — the recall
   * booster that makes near-threshold pairs (where each plane agrees with
   * only moderate probability) reachable without exploding the table
   * count. Keys per row = nTables × (1 + nPlanes·probe). One codegen'd
   * kernel call ([[SketchExpressions.hyperplaneKeys]]);
   * ExpressionsSpec checks it against a UDF formulation kept in the test
   * tree (`graft.functions.Oracles.hyperplaneKeysUdf`).
   */
  def hyperplaneKeys(vec: Column, dim: Int, nPlanes: Int, nTables: Int,
      seed: Long = 42L, probe: Boolean = false): Column =
    coalesce(Bridge.column(SketchExpressions.hyperplaneKeys(
        Bridge.expression(vec), dim, nPlanes, nTables, seed, probe)),
      typedlit(Array.emptyLongArray))

  /**
   * LSH-bucketed near-dup pairs: bucket equi-grouping + exact cosine
   * confirm (the 100-TB path; crossJoin never happens).
   *
   * `nPlanes = 0` (default) sizes the key width from the row count:
   * k = max(4, ⌈log₂(n/occupancy)⌉). Candidate volume scales as
   * n · occupancy · (k+1)² / 2 (probing inflates each bucket by k+1 on
   * both pair sides), so occupancy is THE cost knob: measured on this box at
   * 5·10⁴ rows (dim 64, clean dup structure, cos ≥ 0.6), occupancy 16 →
   * 87 s, 8 → 28 s, 4 → 16 s vs 52 s brute force, at recall
   * 0.995/0.993/0.989; the brute-force crossover with the default
   * (8 tables · probe · occupancy 4) is ~10⁴ rows and widens as n²/n.
   * At the sf0.01 validation scale the default recovers the exact
   * brute-force pair set (oracle-hash-gated); QueriesSpec asserts ≥ 0.9.
   *
   * @param nRows row count (or a close estimate — k only needs the order
   *        of magnitude) used to size the key width. Pass it from the
   *        caller / catalog statistics; `0` falls back to `df.count()`,
   *        which costs a full extra pass over the upstream plan — never
   *        leave it 0 when `df` is more than a raw scan.
   * @param probe emit the k one-bit-flip probe keys per table (collide at
   *        sign-Hamming ≤ 2 instead of 0): k+1 keys/row per table buys
   *        the recall of ~k²/2 extra tables — fewer probed tables beat
   *        many unprobed ones (measured: 8 probed tables reach recall
   *        1.0 where 24 unprobed reach 0.73).
   * @param occupancy target home-rows per bucket (power of two scaling);
   *        lower = fewer candidates, slightly lower recall at low cos.
   */
  def lshPairs(df: DataFrame, idCol: String, vecCol: String, minCos: Double,
      dim: Int, nPlanes: Int = 0, nTables: Int = 8, maxBucket: Int = 512,
      nRows: Long = 0L, probe: Boolean = true, occupancy: Int = 4): DataFrame = {
    val n = if (nRows > 0) nRows else df.count()
    val k = if (nPlanes > 0) nPlanes
      else math.max(4, math.ceil(math.log(math.max(n, 2L).toDouble / occupancy) / math.log(2)).toInt)
    // fail fast on a non-numeric id: a silent cast-null is no bucket
    // member, so the pair set would come back empty with no error
    val idLong = when(col(idCol).isNotNull && col(idCol).cast("long").isNull,
        raise_error(concat(lit(s"lshPairs: non-numeric $idCol: "), col(idCol).cast("string"))))
      .otherwise(col(idCol).cast("long"))
    val keyed = df.select(idLong.as("id"),
      explode(hyperplaneKeys(col(vecCol), dim, k, nTables, probe = probe)).as("bandKey"),
      lit(maxBucket).as("cap"))
    val cands = Lsh.candidatePairsCapped(keyed)
    val va = df.select(col(idCol).cast("long").as("a"), asDouble(col(vecCol)).as("va"))
      .withColumn("na", dot(col("va"), col("va")))
    val vb = df.select(col(idCol).cast("long").as("b"), asDouble(col(vecCol)).as("vb"))
      .withColumn("nb", dot(col("vb"), col("vb")))
    cands.join(va, "a").join(vb, "b")
      .withColumn("cos", cosineWithNorms(dot(col("va"), col("vb")), col("na"), col("nb")))
      .where(col("cos") >= minCos)
      .select(col("a"), col("b"), col("cos"))
  }

  /** The training set of [[ivfTrain]] and [[pqTrain]], collected in ONE
    * job behind the `trainSampleMod` hash slice (`trainSampleMod > 1`
    * keeps the rows with `pmod(xxhash64(id), mod) = 0`, a deterministic
    * 1/mod sample independent of order and partitioning). Returns the
    * vectors as doubles in collect order and the row indices in init
    * order: smallest `(xxhash64(id), id)` first. */
  private def trainingSet(df: DataFrame, idCol: String, vecCol: String,
      trainSampleMod: Int): (Array[Array[Double]], IndexedSeq[Int]) = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = if (trainSampleMod <= 1) df
      else df.where(pmod(xxhash64(col(idCol)), lit(trainSampleMod)) === 0)
    val rows: Array[(Long, Long, Seq[Double])] = base
      .select(xxhash64(col(idCol)).as("h"), col(idCol).cast("long").as("id"),
        asDouble(col(vecCol)).as("v"))
      .as[(Long, Long, Seq[Double])].collect()
    (rows.map(_._3.toArray), rows.indices.sortBy(i => (rows(i)._1, rows(i)._2)))
  }

  /** Lloyd's k-means on the driver, the one loop both trainers run.
    * `nearest(cents)` returns, for this round's centroids, the index of
    * the centroid a vector is assigned to. Each round sums every vector
    * into its centroid in row order and divides by the count; an empty
    * centroid keeps its previous value. The loop stops after `iters`
    * rounds or at the fixpoint, when no component moved by more than
    * 1e-12 (a serial loop has no summation-order noise, so small tables
    * reach it in the minimum rounds). */
  private def lloyd(data: Array[Array[Double]], init: Array[Array[Double]],
      iters: Int)(nearest: Array[Array[Double]] => Array[Double] => Int)
      : Array[Array[Double]] = {
    val k = init.length
    val width = if (data.isEmpty) 0 else data(0).length
    var cents = init
    var it = 0
    var converged = false
    while (it < iters && !converged && k > 0) {
      val near = nearest(cents)
      val sums = Array.fill(k)(new Array[Double](width))
      val counts = new Array[Long](k)
      var r = 0
      while (r < data.length) {
        val v = data(r)
        val best = near(v)
        counts(best) += 1
        var j = 0
        while (j < v.length) { sums(best)(j) += v(j); j += 1 }
        r += 1
      }
      val next = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c))
      }
      converged = next.zip(cents).forall { case (a, b) =>
        a.length == b.length && a.zip(b).forall {
          case (x, y) => math.abs(x - y) <= 1e-12
        }
      }
      cents = next
      it += 1
    }
    cents
  }

  /**
   * IVF coarse-quantizer training: spherical Lloyd rounds (`lloyd`)
   * over a training set collected to the driver in one job. Init takes
   * the `nCells` vectors with the smallest `(xxhash64(id), id)`; a vector
   * joins the centroid of highest cosine, rounded to 6 digits from the
   * two norms (HALF_UP, like Spark's `round`), ties to the lowest cell.
   *
   * k-means trains on a sample that fits memory (the FAISS posture): the
   * caller bounds the set with `trainSampleMod` (see `trainingSet`),
   * which `Embeddings` derives from the table's row count.
   *
   * Returns (cell: Long, cv: Array[Double]) — the trained codebook.
   * Callers persist it (the e04 oracle re-derives the whole search from
   * this dump).
   */
  def ivfTrain(df: DataFrame, idCol: String, vecCol: String, nCells: Int,
      iters: Int = 5, trainSampleMod: Int = 1): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (data, initOrder) = trainingSet(df, idCol, vecCol, trainSampleMod)
    def dotLocal(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var s = 0.0; var i = 0
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }
    def round6(x: Double): Double =
      if (x.isNaN || x.isInfinite) x
      else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cents = lloyd(data, initOrder.take(nCells).map(data).toArray, iters) { cs =>
      val cn = cs.map(c => dotLocal(c, c))
      v => {
        val nrm = dotLocal(v, v)
        var best = 0
        var bestSim = Double.NegativeInfinity
        var c = 0
        while (c < cs.length) { // strict > = ties to the lowest cell
          val sim = round6(dotLocal(v, cs(c)) / math.sqrt(nrm * cn(c)))
          if (sim > bestSim) { bestSim = sim; best = c }
          c += 1
        }
        best
      }
    }
    cents.zipWithIndex
      .map { case (cv, i) => (i.toLong, cv.toSeq) }.toSeq.toDF("cell", "cv")
  }

  /**
   * IVF (inverted-file) index build, the cell-partitioned ANN variant
   * alongside [[lshPairs]]: rank the codebook cells per vector and keep
   * the `nProbe` nearest — `crk = 1` is the home cell (the inverted-file
   * posting assignment), `crk ≤ nProbe` the probe list that
   * [[ivfSearch]] restricts each query to.
   *
   * Scale shape: the codebook is a tiny explicit broadcast (provably
   * nCells rows — safe under the no-static-broadcast posture); the
   * assignment is the unavoidable n×nCells flop pass of any flat IVF
   * (narrow, codegen'd dots) feeding ONE window shuffle keyed by id, and
   * the partial WindowGroupLimit below that shuffle bounds the exchanged
   * rows to nProbe per vector. Callers MUST materialize the result
   * (parquet/persist) before searching — [[ivfSearch]] consumes it twice,
   * and an unmaterialized plan would re-run the assignment flops per
   * consumer.
   */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, nProbe: Int): DataFrame = {
    val v = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", dot(col("v"), col("v")))
    val cent = codebook.select(col("cell"), col("cv"))
      .withColumn("cn", dot(col("cv"), col("cv")))
    val wc = Window.partitionBy(col("id")).orderBy(col("csim").desc, col("cell"))
    v.crossJoin(broadcast(cent))
      .withColumn("csim", cosineWithNorms(dot(col("v"), col("cv")), col("nrm"), col("cn")))
      .withColumn("crk", row_number().over(wc))
      .where(col("crk") <= math.max(1, nProbe))
      .select(col("id"), col("cell"), col("crk"))
  }

  /**
   * IVF search over a materialized [[ivfAssign]] table: per-query search
   * restricted to the probed cells with exact rerank inside.
   *
   * Scale shape: vectors re-enter through two id-keyed hash joins
   * (columnar scan + join — cheap next to assignment flops, which ran
   * exactly once into the assignment table, exactly like a persisted
   * FAISS inverted file); the probe→member join is a cell-keyed
   * equi-join (AQE splits hot cells); per-query candidates ≈
   * nProbe·n/nCells — the scan-fraction dial that trades recall for
   * work. No crossJoin of the data with itself anywhere.
   */
  def ivfSearch(df: DataFrame, idCol: String, vecCol: String,
      assignment: DataFrame, k: Int): DataFrame = {
    val v = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", dot(col("v"), col("v")))
    val members = assignment.where(col("crk") === 1).join(v, "id")
      .select(col("cell"), col("id").as("neighbor"),
        col("v").as("vb"), col("nrm").as("nb"))
    val probes = assignment.join(v, "id")
      .select(col("id").as("vec_id"), col("v").as("va"),
        col("nrm").as("na"), col("cell"))
    // each neighbor has exactly one home cell and a query probes distinct
    // cells, so (vec_id, neighbor) is already unique — no dedup shuffle
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("neighbor"))
    probes.join(members, "cell")
      .where(col("vec_id") =!= col("neighbor"))
      .withColumn("cos", cosineWithNorms(dot(col("va"), col("vb")), col("na"), col("nb")))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("vec_id"), col("neighbor"), col("cos"), col("rk"))
  }

  /** [[ivfAssign]] ∘ [[ivfSearch]] without materialization — convenience
    * for small tables; persist/dump the assignment between the two calls
    * at scale (the query surface dumps it to parquet). */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, k: Int, nProbe: Int): DataFrame =
    ivfSearch(df, idCol, vecCol, ivfAssign(df, idCol, vecCol, codebook, nProbe), k)

  /** SEMANTIC dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    * partition the table into the k-means cells the IVF machinery already
    * trains, then prune WITHIN each cell — two rows are semantic dups when
    * their cosine clears `minCos`, and of each dup group the member
    * FARTHEST from its centroid survives (the paper's keep-low-centroid-
    * similarity rule: it preserves the cluster's boundary diversity and
    * discards its redundant core).
    *
    * Deterministic formulation (no sequential greedy chain, so the whole
    * rule stays declarative and cross-engine replicable): order each cell
    * by (centroid-cos asc, id); a row is DROPPED iff some STRICTLY EARLIER
    * row of its cell is within `minCos` of it. Centroid-cos values are
    * rounded to 6 digits by the shared kernel before ranking, so the order
    * — and therefore the keep set — is bit-stable across engines.
    *
    * Scale: the only all-pairs work is per-cell, and [[ivfTrain]] sizes
    * cell count with the table (≈16 rows/cell), so candidate work is
    * O(n·cellsize), never O(n²); the codebook join is broadcast; the one
    * data shuffle keys on `cell` and carries ONLY (ccos, id) — the vector
    * payload never rides a shuffle. In-cell ordering and the ordered pair
    * set both come out of one sorted `collect_list` per cell (pairs are
    * id-only, as in [[Lsh.candidatePairsCapped]]; vectors hash-join back
    * per side), so there is no windowed self-join recomputing
    * the membership subtree per consumer. A pathologically hot cell at
    * production scale is handled the same way the LSH path caps hot
    * buckets — split the cell by re-running Lloyd on it (not needed at
    * any tested scale).
    *
    * Returns one row per input id: (id, cell, ccos, rk, keep 1/0). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, assign: DataFrame, minCos: Double): DataFrame = {
    val v = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", dot(col("v"), col("v")))
    val cent = codebook.select(col("cell"), col("cv"))
      .withColumn("cn", dot(col("cv"), col("cv")))
    // slim membership (id, cell, ccos): assignment rows + broadcast
    // centroids; the only columns that reach the cell shuffle
    val slim = assign.where(col("crk") === 1).select(col("id"), col("cell"))
      .join(v, "id")
      .join(broadcast(cent), "cell")
      .select(col("id"), col("cell"),
        cosineWithNorms(dot(col("v"), col("cv")), col("nrm"), col("cn")).as("ccos"))
    // ONE shuffle keyed on cell: the sorted (ccos, id) member list per
    // cell yields both the rank table and the ordered pair set
    val grouped = slim.groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("ccos"), col("id")))).as("ms"))
    val ranked = grouped
      .select(col("cell"), posexplode(col("ms")))
      .select(col("col.id").as("id"), col("cell"),
        col("col.ccos").as("ccos"), (col("pos") + 1).as("rk"))
    // ordered in-cell pairs: pa strictly earlier than pb in (ccos, id)
    // order; id-only until the two vector hash-joins below
    val pairs = grouped
      .select(transform(col("ms"), m => m.getField("id")).as("ids"))
      .where(size(col("ids")) >= 2)
      .select(col("ids"), explode(sequence(lit(0), size(col("ids")) - 2)).as("i"))
      .select(element_at(col("ids"), col("i") + 1).as("pa"),
        explode(slice(col("ids"), col("i") + 2, size(col("ids")))).as("pb"))
    val va = v.select(col("id").as("pa"), col("v").as("va"), col("nrm").as("na"))
    val vb = v.select(col("id").as("pb"), col("v").as("vb"), col("nrm").as("nb"))
    val drops = pairs.join(va, "pa").join(vb, "pb")
      .where(cosineWithNorms(dot(col("va"), col("vb")), col("na"), col("nb")) >= minCos)
      .select(col("pb").as("id")).distinct()
    ranked.join(drops.withColumn("dropped", lit(1)), Seq("id"), "left")
      .select(col("id"), col("cell"), col("ccos"), col("rk"),
        when(col("dropped").isNull, lit(1)).otherwise(lit(0)).as("keep"))
  }

  // ------------------------------------------------------------ product quantization

  /**
   * Product-quantization training (Jégou et al. 2011, the FAISS `PQm×ks`
   * index family): split the `dim`-vector into `m` contiguous subspaces of
   * `subDim = dim/m` components and train an independent ks-centroid L2
   * k-means codebook per subspace. A vector then compresses to `m` small
   * codes (m bytes at ks ≤ 256) — at 10⁹ rows the search side holds
   * `m·n` bytes instead of `4·dim·n` (32× at dim 64 / m 8), which is THE
   * reason PQ is the production ANN posture at 100 TB.
   *
   * Training runs `lloyd` once per subspace over the training set of
   * [[ivfTrain]] (one collect job, bounded the same way by
   * `trainSampleMod`). Init per subspace: the `ks` subvectors of the rows
   * with the smallest `(xxhash64(id), id)`, shared by all subspaces. A
   * subvector joins the code of least squared L2 (accumulated left to
   * right), ties to the LOWEST code.
   *
   * Returns the codebook `(m: INT 0-based subspace, code: INT, cv:
   * ARRAY<DOUBLE> subDim)`. Callers dump it — the e08 oracle re-derives
   * encoding, ADC, and ranking from this dump alone.
   */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String, m: Int,
      ks: Int, subDim: Int, iters: Int = 10, trainSampleMod: Int = 1): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (data, initOrder) = trainingSet(df, idCol, vecCol, trainSampleMod)
    require(data.nonEmpty, "pqTrain: empty training set")
    require(data(0).length >= m * subDim,
      s"pqTrain: dim ${data(0).length} < m*subDim ${m * subDim}")
    val init = initOrder.take(ks)
    (0 until m).flatMap { j =>
      val off = j * subDim
      val sub = data.map(_.slice(off, off + subDim))
      val cents = lloyd(sub, init.map(sub).toArray, iters) { cs => v =>
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cs.length) { // strict < = ties to the lowest code
          var d = 0.0; var i = 0
          while (i < subDim) { val x = v(i) - cs(c)(i); d += x * x; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        best
      }
      cents.indices.map(c => (j, c, cents(c).toSeq))
    }.toDF("m", "code", "cv")
  }

  /** The trained codebook as a nested-array literal column (flat
    * `j·ks + c` layout — [[SketchExpressions.pqEncode]]'s
    * indexing). One model-size collect (m·ks·subDim doubles, KBs); the
    * literal then rides the serialized plan to every executor. Missing
    * (m, code) entries — possible only when the training set had fewer
    * rows than ks — fail fast. */
  def pqCodebookLiteral(codebook: DataFrame, m: Int, ks: Int, subDim: Int): Column = {
    val spark = codebook.sparkSession
    import spark.implicits._
    val entries = codebook.select(col("m").cast("int"), col("code").cast("int"),
        transform(col("cv"), x => x.cast("double")))
      .as[(Int, Int, Seq[Double])].collect()
      .map { case (j, c, cv) => ((j, c), cv) }.toMap
    val flat: Array[Array[Double]] = Array.tabulate(m * ks) { i =>
      entries.getOrElse((i / ks, i % ks),
        throw new IllegalArgumentException(
          s"pqCodebookLiteral: codebook missing subspace ${i / ks} code ${i % ks}")).toArray
    }
    typedlit(flat.toSeq.map(_.toSeq))
  }

  /** Codegen'd PQ encode column: ARRAY<DOUBLE> vector → ARRAY<INT> codes.
    * QueriesSpec checks it against a local re-derivation and a UDF
    * formulation kept in the test tree (`graft.functions.Oracles.pqEncodeUdf`). */
  def pqEncodeCol(vec: Column, codebookLit: Column, m: Int, ks: Int, subDim: Int): Column =
    Bridge.column(SketchExpressions.pqEncode(
      Bridge.expression(vec), Bridge.expression(codebookLit), m, ks, subDim))

  /** Codegen'd ADC column: exact query vector × candidate codes. */
  def pqAdcCol(vec: Column, codes: Column, codebookLit: Column,
      m: Int, ks: Int, subDim: Int): Column =
    Bridge.column(SketchExpressions.pqAdc(
      Bridge.expression(vec), Bridge.expression(codes),
      Bridge.expression(codebookLit), m, ks, subDim))

  /**
   * IVF-PQ top-k (ADC): per-query search restricted to the probed IVF
   * cells, ranked by asymmetric PQ distance. The SEARCH side never touches
   * the candidate vectors: cell members enter as `(cell, id, m codes)` —
   * the compressed inverted file, m bytes of payload per row where
   * [[ivfSearch]] carries 8·dim — and only the QUERY side joins its exact
   * vector. Ranking uses `round(adc, 6)` ascending (neighbor id
   * tie-break), the value the cross-engine oracle reproduces.
   *
   * `codes` must be a materialized `(id, codes)` table (the persisted
   * encoded corpus — encode runs once, not per search). Candidates come
   * from the same materialized [[ivfAssign]] table e04 search uses:
   * one cell-keyed equi-join, no crossJoin anywhere.
   */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
      assignment: DataFrame, codes: DataFrame, codebookLit: Column,
      m: Int, ks: Int, subDim: Int, k: Int): DataFrame = {
    val v = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val members = assignment.where(col("crk") === 1)
      .join(codes, "id")
      .select(col("cell"), col("id").as("neighbor"), col("codes"))
    val probes = assignment.join(v, "id")
      .select(col("id").as("vec_id"), col("v").as("va"), col("cell"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("adc"), col("neighbor"))
    probes.join(members, "cell")
      .where(col("vec_id") =!= col("neighbor"))
      .withColumn("adc", round(pqAdcCol(col("va"), col("codes"), codebookLit, m, ks, subDim), 6))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("vec_id"), col("neighbor"), col("adc"), col("rk"))
  }
}
