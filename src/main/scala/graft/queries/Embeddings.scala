package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.{ConnectedComponents, Similarity}
import graft.queries.QuerySupport._

/** `eNN` embedding similarity: brute-force k-NN, LSH and IVF search,
  * ANN recall, semantic dedup and IVF-PQ. */
object Embeddings {

  /** PQ geometry for the 64-dim embeddings table: the standard PQ8×8 —
    * 8 subspaces × 8 dims, 256 centroids each (8 bits/subspace = m bytes
    * per vector). A coarser ks=16 probe measurably failed here: with
    * 0.5 bits/dim the reconstruction error flattens every ADC toward
    * ‖q‖² ≈ 1 and planted near-dups drown in quantization noise (5/7
    * pair recall); at 8 bits/subspace the spec's recall gate holds. */
  private val pqM = 8
  private val pqKs = 256
  private val pqSubDim = 8

  /** L2-normalized embeddings: PQ quantizes in L2, but the dedup tier's
    * ground truth is COSINE — over unit vectors ‖q−x‖² = 2 − 2·cos(q,x),
    * so the ADC ranking becomes monotone in cosine and the e04/e02 gates
    * apply apples-to-apples (the standard cosine-metric PQ posture).
    * Zero vectors pass through unnormalized. */
  private def normalizedEmb(s: SparkSession, d: String): DataFrame = {
    val e0 = transform(col("embedding"), x => x.cast("double"))
    spread(s, t(s, d, "embeddings"))
      .select(col("vec_id"), e0.as("e0"),
        sqrt(Similarity.dot(e0, e0)).as("nrm"))
      .select(col("vec_id"),
        when(col("nrm") === 0.0, col("e0"))
          .otherwise(transform(col("e0"), x => x / col("nrm"))).as("embedding"))
  }

  /** The trained PQ model over the NORMALIZED table: per-subspace
    * codebooks (dumped — the e08 oracle's sole model input) + the encoded
    * corpus (dumped — the persisted compressed inverted file; encode runs
    * once per (sfDir, JVM), not per consumer). */
  private def pqModel(s: SparkSession, d: String): (Column, DataFrame) = {
    val codebook = dumpDerived(s, d, "e08_pq_codebook")(
      Similarity.pqTrain(normalizedEmb(s, d), "vec_id", "embedding",
        m = pqM, ks = pqKs, subDim = pqSubDim))
    val cbLit = Similarity.pqCodebookLiteral(codebook, pqM, pqKs, pqSubDim)
    val codes = dumpDerived(s, d, "e08_codes", files = 1)(
      normalizedEmb(s, d).select(col("vec_id").as("id"),
        Similarity.pqEncodeCol(col("embedding"), cbLit, pqM, pqKs, pqSubDim).as("codes")))
    (cbLit, codes)
  }

  /** The e04 IVF top-k pipeline, final result dumped once per (sfDir,
    * JVM) — e04 returns it and e06 audits it against brute force.
    *
    * Cell count scales with the table (≈ n/16 rows per cell, like
    * FAISS's nlist sizing); the 8-cell probe is then a fixed scan
    * fraction (~n/4). Tiny tables degenerate toward brute force —
    * correct: IVF only pays past ~10³ rows per cell budget. Row count
    * comes from the memoized table-statistics stand-in. Lloyd rounds
    * carry a fixed per-round job latency that dominates at toy scale;
    * a sweep showed the assignment fixpoint is reached by
    * round 3 on tables this small (the 1e-12 early stop in ivfTrain
    * fires there), so below 10^4 rows the cap is 3. The oracle is
    * round-count-agnostic: it replicates the search from whatever
    * codebook was dumped. Bounded tables train DRIVER-LOCAL (one
    * collect job, zero per-round latency — the FAISS sample-in-memory
    * posture); the table-statistics row count is what proves
    * boundedness. A 10⁹-row table instead sets trainSampleMod to make
    * the sample bounded. The inverted file is MATERIALIZED (parquet)
    * before search — the assignment flop pass runs once, not once per
    * search-side consumer. */
  /** Brute-force cosine top-k (quadratic BY DESIGN — the exactness
    * baseline), dumped once per (sfDir, JVM): e01 returns it and the e06
    * recall audit reads it as ground truth, so the O(n²) pass runs once
    * per sweep instead of twice. The e01 oracle still re-derives it from
    * the raw table. */
  private def bruteTopK(s: SparkSession, d: String): DataFrame =
    dumpDerived(s, d, "e01_topk", files = 1)(
      // spread: the quadratic pair kernel inherits the left side's
      // partitioning — a single-file scan would run all n² dots in ONE
      // task (measured 4.9 s of 5.3 at sf0.1); widened it fans across
      // the session
      Similarity.bruteForceTopK(spread(s, t(s, d, "embeddings")),
        "vec_id", "embedding", k = 5))

  /** The trained IVF (codebook, home/probe assignment), each dumped once
    * per (sfDir, JVM) — shared by e04's search, e06's audit, and e07's
    * semantic-dedup prune so the Lloyd rounds and the assignment flop
    * pass run once per sweep however many consumers read them. */
  private def ivfModel(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    // spread: the n×nCells assignment flop pass inherits the scan's
    // single partition otherwise (train collects — unaffected)
    val emb = spread(s, t(s, d, "embeddings"))
    val nRows = tableRows(s, d, "embeddings")
    val nCells = math.max(4, math.min(32, (nRows / 16).toInt))
    val lloydIters = if (nRows < 10000L) 3 else 5
    val codebook = dumpDerived(s, d, "e04_centroids")(
      Similarity.ivfTrain(emb, "vec_id", "embedding", nCells = nCells,
        dim = 64, iters = lloydIters, collectTrain = nRows <= 100000L))
    val assign = dumpDerived(s, d, "e04_assign")(
      Similarity.ivfAssign(emb, "vec_id", "embedding", codebook,
        nProbe = math.min(8, nCells)))
    (codebook, assign)
  }

  private[graft] def ivfTopK(s: SparkSession, d: String,
      dumpResult: Boolean = true): DataFrame = {
    val emb = t(s, d, "embeddings")
    val (_, assign) = ivfModel(s, d)
    val search = Similarity.ivfSearch(emb, "vec_id", "embedding", assign, k = 5)
    // dumpResult=false returns the live search plan (spec plan probes);
    // the registered query dumps so e04 and the e06 audit share one run
    if (dumpResult) dumpDerived(s, d, "e04_topk", files = 1)(search) else search
  }

  /** Hyperplane-LSH near-dup pairs over the embeddings table, dumped once
    * per (sfDir, JVM): e03 returns the pair set and e05 clusters it (the
    * full band/bucket/cosine-confirm pass previously ran twice).
    *
    * The dump materializes under a lowered AQE
    * `coalescePartitions.minPartitionSize`: the bucket pair-expansion and
    * cosine-confirm stages amplify CPU per shuffle BYTE by orders of
    * magnitude (8-byte keys in, vector dot products out), so the default
    * byte-based floor (1m) coalesces their ~1-9 MB shuffle reads to 1-8
    * tasks and serializes the kernel (measured: 2.8 s single-task pair
    * gen + 7 s/8-task confirm at sf0.1; -1.0 s wall with 64k). The knob
    * is inert at production scale by construction: AQE's target is
    * max(totalBytes/parallelism, minPartitionSize), so it only bites
    * when a shuffle is smaller than cores × 1 MB. */
  private def embPairs(s: SparkSession, d: String): DataFrame =
    withConf(s, "spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k") {
      dumpDerived(s, d, "emb_pairs", files = 1) {
        // spread: the hyperplane-key kernel + band explode would otherwise
        // run inside the single scan task
        Similarity.lshPairs(spread(s, t(s, d, "embeddings")), "vec_id", "embedding",
          minCos = 0.45, dim = 64, nRows = tableRows(s, d, "embeddings"))
      }
    }

  /** Shared IVF-PQ derivation CTEs for the e08/e09 oracles: normalized
    * vectors, IVF cell assignment from the dumped centroids, PQ encode
    * from the dumped codebooks, candidate generation (8-probe), ADC, and
    * the `rr` rank over it. ONE copy — a future change to the search
    * derivation cannot drift between the ADC query and its re-rank
    * extension. Use right after `WITH`; consumers read `rr`
    * (vec_id, neighbor, adc, rk) and `v` (vec_id, normalized e). */
  private def pqAdcCtes: String =
    s"""vr AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |v AS (SELECT vec_id, CASE WHEN list_dot_product(e, e) = 0 THEN e
       |        ELSE list_transform(e, x -> x / sqrt(list_dot_product(e, e)))
       |      END AS e FROM vr),
       |ivf AS (SELECT cell, cv::DOUBLE[] AS ce
       |        FROM read_parquet(${oraclePath("e04_centroids")})),
       |pq AS (SELECT m, code, cv::DOUBLE[] AS c
       |       FROM read_parquet(${oraclePath("e08_pq_codebook")})),
       |cscored AS (
       |  SELECT vr.vec_id AS id, ivf.cell,
       |    round(list_dot_product(vr.e, ivf.ce) /
       |      sqrt(list_dot_product(vr.e, vr.e) * list_dot_product(ivf.ce, ivf.ce)), 6) AS csim
       |  FROM vr CROSS JOIN ivf),
       |cranked AS (
       |  SELECT id, cell,
       |    row_number() OVER (PARTITION BY id ORDER BY csim DESC, cell) AS crk
       |  FROM cscored),
       |sq AS (
       |  SELECT v.vec_id, pq.m, pq.code,
       |    list_sum(list_transform(range(1, 9),
       |      i -> (v.e[pq.m * 8 + i] - pq.c[i]) * (v.e[pq.m * 8 + i] - pq.c[i]))) AS d2
       |  FROM v CROSS JOIN pq),
       |codes AS (
       |  SELECT vec_id, m, code FROM (
       |    SELECT vec_id, m, code,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS r
       |    FROM sq) WHERE r = 1),
       |members AS (SELECT cell, id AS neighbor FROM cranked WHERE crk = 1),
       |probes AS (SELECT id AS vec_id, cell FROM cranked WHERE crk <= 8),
       |cand AS (
       |  SELECT p.vec_id, mb.neighbor
       |  FROM probes p JOIN members mb ON p.cell = mb.cell AND p.vec_id <> mb.neighbor),
       |parts AS (
       |  SELECT cd.vec_id, cd.neighbor, pq.m,
       |    list_sum(list_transform(range(1, 9),
       |      i -> (qv.e[pq.m * 8 + i] - pq.c[i]) * (qv.e[pq.m * 8 + i] - pq.c[i]))) AS d2
       |  FROM cand cd
       |  JOIN v qv ON qv.vec_id = cd.vec_id
       |  JOIN codes k ON k.vec_id = cd.neighbor
       |  JOIN pq ON pq.m = k.m AND pq.code = k.code),
       |scoredq AS (
       |  SELECT vec_id, neighbor, round(sum(d2), 6) AS adc
       |  FROM parts GROUP BY vec_id, neighbor),
       |rr AS (
       |  SELECT vec_id, neighbor, adc,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY adc, neighbor) AS rk
       |  FROM scoredq)""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    // brute-force cosine top-k (exactness baseline)
    QueryDef("e01_knn_bruteforce", { (s, d) => bruteTopK(s, d) },
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor,
        |    round(list_dot_product(a.e, b.e) /
        |      sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)), 6) AS cos
        |  FROM v a JOIN v b ON a.vec_id <> b.vec_id),
        |ranked AS (
        |  SELECT vec_id, neighbor, cos,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor) AS rk
        |  FROM pairs)
        |SELECT vec_id, neighbor, cos, rk FROM ranked WHERE rk <= 5""".stripMargin),
    // embedding near-dup pairs, brute force
    QueryDef("e02_embedding_pairs", { (s, d) =>
      // spread: same single-task-crossJoin disease as e01 (see bruteTopK)
      Similarity.bruteForcePairs(spread(s, t(s, d, "embeddings")),
        "vec_id", "embedding", minCos = 0.45)
    },
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
        |SELECT a.vec_id AS a, b.vec_id AS b,
        |  round(list_dot_product(a.e, b.e) /
        |    sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)), 6) AS cos
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE round(list_dot_product(a.e, b.e) /
        |  sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)), 6) >= 0.45""".stripMargin),
    // the scale path: random-hyperplane LSH buckets (multi-probe,
    // data-adaptive key width) + exact confirm. nRows comes from the
    // memoized table-statistics stand-in (one footer-cheap count per
    // table per JVM) so lshPairs never re-scans to size the key width.
    QueryDef("e03_embedding_lsh_pairs", { (s, d) => embPairs(s, d) },
      // e03's gate is the SAME exact-pair set as the brute-force oracle:
      // the multi-probe LSH path must reach recall 1.0 at validation scale
      // (any missed pair fails the row-count/hash compare)
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
        |SELECT a.vec_id AS a, b.vec_id AS b,
        |  round(list_dot_product(a.e, b.e) /
        |    sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)), 6) AS cos
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE round(list_dot_product(a.e, b.e) /
        |  sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)), 6) >= 0.45""".stripMargin),
    // the cell-partitioned ANN variant: IVF with a Lloyd-trained coarse
    // quantizer (deterministic sample init), nProbe-cell search, exact
    // in-cell rerank. The trained codebook is dumped; the oracle
    // re-derives assignment, probing, and rerank from the raw table +
    // that codebook
    QueryDef("e04_ivf_topk", { (s, d) => ivfTopK(s, d) },
      // full IVF replica from the raw table + the dumped trained codebook:
      // nearest-centroid assignment (crk=1 = home cell), 8-cell probing
      // (mirrors the engine's nProbe = min(8, nCells); nCells > 8 at the
      // sf0.01 gate scale), exact rerank within probed cells, top-5
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |cv AS (SELECT cell, cv::DOUBLE[] AS ce
        |       FROM read_parquet(${oraclePath("e04_centroids")})),
        |scored AS (
        |  SELECT v.vec_id AS id, cv.cell,
        |    round(list_dot_product(v.e, cv.ce) /
        |      sqrt(list_dot_product(v.e, v.e) * list_dot_product(cv.ce, cv.ce)), 6) AS csim
        |  FROM v CROSS JOIN cv),
        |ranked AS (
        |  SELECT id, cell,
        |    row_number() OVER (PARTITION BY id ORDER BY csim DESC, cell) AS crk
        |  FROM scored),
        |members AS (SELECT cell, id AS neighbor FROM ranked WHERE crk = 1),
        |probes AS (SELECT id AS vec_id, cell FROM ranked WHERE crk <= 8),
        |cand AS (
        |  SELECT p.vec_id, m.neighbor,
        |    round(list_dot_product(a.e, b.e) /
        |      sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)), 6) AS cos
        |  FROM probes p JOIN members m ON p.cell = m.cell AND p.vec_id <> m.neighbor
        |  JOIN v a ON a.vec_id = p.vec_id JOIN v b ON b.vec_id = m.neighbor),
        |rr AS (
        |  SELECT vec_id, neighbor, cos,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor) AS rk
        |  FROM cand)
        |SELECT vec_id, neighbor, cos, rk FROM rr WHERE rk <= 5""".stripMargin),
    // ANN RECALL AUDIT — the evaluation harness a production ANN tier
    // runs before trusting an index: per-query-point recall@5 of the IVF
    // search (e04, read from its shared dump) against an independently
    // recomputed brute-force ground truth. The oracle re-derives the
    // brute-force side from the raw table (e04's own oracle already
    // re-derives the IVF side from the dumped codebook), so the recall
    // arithmetic is checked against ground truth, not against the thing
    // under audit. Exhaustive ground truth is confined to the audit —
    // at 10^9 rows a production tier samples query points; here the
    // table IS the sample.
    QueryDef("e06_ann_recall", { (s, d) =>
      val bf = bruteTopK(s, d) // shared dump with e01 — the O(n²) pass runs once
      val iv = ivfTopK(s, d) // shared dump: computed once per (sfDir, JVM)
      bf.as("bf").join(iv.as("iv"),
          col("bf.vec_id") === col("iv.vec_id") &&
            col("bf.neighbor") === col("iv.neighbor"), "left")
        .groupBy(col("bf.vec_id").as("vec_id"))
        .agg(count(col("iv.neighbor")).as("n_hits"))
        .withColumn("recall_at_5", round(col("n_hits") / lit(5.0), 6))
    },
      // recall audit: the brute-force ground truth is RE-DERIVED from the
      // raw table (e01's derivation); only the audited IVF side reads the
      // dump (whose own oracle re-derives it from the dumped codebook)
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor,
        |    round(list_dot_product(a.e, b.e) /
        |      sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)), 6) AS cos
        |  FROM v a JOIN v b ON a.vec_id <> b.vec_id),
        |ranked AS (
        |  SELECT vec_id, neighbor,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor) AS rk
        |  FROM pairs),
        |bf AS (SELECT vec_id, neighbor FROM ranked WHERE rk <= 5),
        |iv AS (SELECT vec_id, neighbor
        |       FROM read_parquet(${oraclePath("e04_topk")}))
        |SELECT bf.vec_id, count(iv.neighbor) AS n_hits,
        |  round(count(iv.neighbor) / 5.0, 6) AS recall_at_5
        |FROM bf LEFT JOIN iv
        |  ON iv.vec_id = bf.vec_id AND iv.neighbor = bf.neighbor
        |GROUP BY bf.vec_id""".stripMargin),
    // embedding-cosine near-DUP CLUSTERING — the dedup form of e02/e03
    // (pairs are evidence; dedup needs a partition of the table). Edges
    // come from the SCALE path (hyperplane LSH + exact confirm, the same
    // operator e03 gates at recall 1.0 against the brute-force oracle);
    // the cluster tail is the shared large-star/small-star CC. At 100 TB
    // this is the shape that runs: no all-pairs anywhere, one bucket
    // shuffle for candidates, min-label components.
    QueryDef("e05_embedding_dedup", { (s, d) =>
      val edges = embPairs(s, d).select(col("a").as("src"), col("b").as("dst"))
      val nodes = t(s, d, "embeddings").select(col("vec_id").as("id"))
      ConnectedComponents.labelAll(nodes, edges)
        .select(col("id").as("vec_id"), col("component").as("cluster"))
    },
      // independent clustering replica: exact brute-force edge set (the
      // same gate e03 passes at recall 1.0) closed transitively, min-id
      // component labels, absent vectors as singletons — the d06 pattern
      // over the embedding modality
      """WITH RECURSIVE ve AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |edges AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b
        |  FROM ve a JOIN ve b ON a.vec_id < b.vec_id
        |  WHERE round(list_dot_product(a.e, b.e) /
        |    sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)), 6) >= 0.45),
        |und AS (SELECT a AS u, b AS w FROM edges UNION SELECT b, a FROM edges),
        |reach(u, w) AS (
        |  SELECT u, w FROM und
        |  UNION
        |  SELECT r.u, e.w FROM reach r JOIN und e ON r.w = e.u),
        |comp AS (SELECT u AS vec_id, least(u, min(w)) AS cluster FROM reach GROUP BY u)
        |SELECT em.vec_id, coalesce(c.cluster, em.vec_id) AS cluster
        |FROM embeddings em LEFT JOIN comp c USING (vec_id)""".stripMargin),
    // SEMANTIC dedup (SemDeDup) — the third embedding-dedup shape next to
    // e02/e03's pair evidence and e05's transitive clusters: partition by
    // the k-means cells e04 already trains, prune within each cell, keep
    // the member farthest from its centroid (boundary diversity survives,
    // the redundant cluster core is dropped). Semantics, determinism, and
    // the per-cell (never all-pairs) cost bound are documented on
    // [[Similarity.semanticDedup]]. The oracle re-derives home cells,
    // centroid-cos ranking, and the earlier-neighbor dominance rule from
    // the dumped codebook + the raw table.
    QueryDef("e07_semantic_dedup", { (s, d) =>
      val (codebook, assign) = ivfModel(s, d)
      Similarity.semanticDedup(t(s, d, "embeddings"), "vec_id", "embedding",
          codebook, assign, minCos = 0.4)
        .select(col("id").as("vec_id"), col("cell"), col("ccos"),
          col("rk"), col("keep"))
    },
      // full SemDeDup replica from the raw table + the dumped codebook:
      // home-cell assignment exactly as e04's (round-6 csim, crk = 1), the
      // per-cell (centroid-cos asc, id) rank, and the earlier-neighbor
      // dominance drop rule — every engine-side decision re-derived
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |cv AS (SELECT cell, cv::DOUBLE[] AS ce
        |       FROM read_parquet(${oraclePath("e04_centroids")})),
        |scored AS (
        |  SELECT v.vec_id AS id, cv.cell,
        |    round(list_dot_product(v.e, cv.ce) /
        |      sqrt(list_dot_product(v.e, v.e) * list_dot_product(cv.ce, cv.ce)), 6) AS csim
        |  FROM v CROSS JOIN cv),
        |homed AS (
        |  SELECT id, cell, csim,
        |    row_number() OVER (PARTITION BY id ORDER BY csim DESC, cell) AS crk
        |  FROM scored),
        |items AS (
        |  SELECT id, cell, csim AS ccos,
        |    row_number() OVER (PARTITION BY cell ORDER BY csim ASC, id) AS rk
        |  FROM homed WHERE crk = 1),
        |drops AS (
        |  SELECT DISTINCT a.id
        |  FROM items a JOIN items b ON a.cell = b.cell AND b.rk < a.rk
        |  JOIN v va ON va.vec_id = a.id JOIN v vb ON vb.vec_id = b.id
        |  WHERE round(list_dot_product(va.e, vb.e) /
        |    sqrt(list_dot_product(va.e, va.e) * list_dot_product(vb.e, vb.e)), 6) >= 0.4)
        |SELECT i.id AS vec_id, i.cell, i.ccos, i.rk,
        |  CASE WHEN d.id IS NULL THEN 1 ELSE 0 END AS keep
        |FROM items i LEFT JOIN drops d ON d.id = i.id""".stripMargin),
    // IVF-PQ with asymmetric distance (ADC) — the third ANN shape next to
    // e03's hyperplane LSH and e04's flat IVF, and the one that actually
    // runs at 10⁹ rows: the search side holds m-BYTE CODES (here m=8, a
    // 32× payload compression at dim 64/f32), never candidate vectors.
    // Candidates reuse e04's materialized cell assignment (the Lloyd
    // rounds + assignment flops run once per sweep across e04/e06/e07/
    // e08); the per-subspace codebooks are dumped and the oracle
    // re-derives ENCODING, ADC, and ranking from that dump + the raw
    // table — the engine's quantizer is never consulted. e06's audit
    // pattern (recall vs exact ground truth) is applied to PQ in the
    // spec, where the quantization error is measured, not assumed.
    QueryDef("e08_pq_adc_topk", { (s, d) =>
      val (_, assign) = ivfModel(s, d)
      val (cbLit, codes) = pqModel(s, d)
      Similarity.ivfPqTopK(normalizedEmb(s, d), "vec_id", "embedding",
        assign, codes, cbLit, m = pqM, ks = pqKs, subDim = pqSubDim, k = 5)
    },
      // full IVF-PQ replica from the raw table + the two dumps: home/probe
      // cells exactly as e04's (dumped IVF codebook), PQ codes re-derived
      // per (vector, subspace) as the argmin of the squared L2 against the
      // dumped per-subspace codebook (ties to the lowest code — the
      // engine's strict-< rule), ADC = Σ over subspaces of the exact query
      // subvector against the candidate's quantized subvector, top-5 by
      // (round-6 adc asc, neighbor). The engine's quantizer/encoder is
      // never consulted — a wrong argmin, a transposed subspace, or a
      // ranking-order defect all fail the hash gate.
      s"""WITH $pqAdcCtes
        |SELECT vec_id, neighbor, adc, rk FROM rr WHERE rk <= 5""".stripMargin),
    // TWO-STAGE RETRIEVAL: ADC shortlist → EXACT RE-RANK — the production
    // ANN shape (FAISS's refine step): the PQ index returns a cheap
    // approximate top-20 shortlist from 8-byte codes, then ONLY those
    // 20·n candidate rows join back to the full vectors for an exact
    // cosine, and the final top-5 is ranked on the exact score. This
    // completes the retrieval ladder (brute → LSH → IVF → IVF-PQ →
    // PQ+rerank) with its memory/compute contract: the full vectors are
    // touched O(shortlist), never O(candidates), and quantization error
    // affects RECALL of the shortlist only, never the final ordering —
    // if the true neighbor survives the shortlist, exact re-ranking puts
    // it first (the spec measures exactly this against brute-force
    // ground truth). Both the approximate (adc) and exact (cos) scores
    // are emitted so the quantization gap stays observable per pair.
    QueryDef("e09_pq_rerank_topk", { (s, d) =>
      val (_, assign) = ivfModel(s, d)
      val (cbLit, codes) = pqModel(s, d)
      val v = normalizedEmb(s, d)
      val shortlist = Similarity.ivfPqTopK(v, "vec_id", "embedding",
        assign, codes, cbLit, m = pqM, ks = pqKs, subDim = pqSubDim, k = 20)
      val qv = v.select(col("vec_id"), col("embedding").as("qe"))
      val nv = v.select(col("vec_id").as("neighbor"), col("embedding").as("ne"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cos").desc, col("neighbor"))
      shortlist.join(nv, "neighbor").join(qv, "vec_id")
        .withColumn("cos", round(Similarity.dot(col("qe"), col("ne")), 6))
        .withColumn("rrk", row_number().over(w))
        .where(col("rrk") <= 5)
        .select(col("vec_id"), col("neighbor"), col("adc"),
          col("cos"), col("rrk"))
    },
      // the e08 derivation extended two stages: rk <= 20 shortlist, exact
      // cosine re-score over the normalized vectors, re-rank on the exact
      // score — a wrong shortlist, a wrong exact dot, or an unstable
      // re-rank all fail the hash gate
      s"""WITH $pqAdcCtes,
        |short AS (SELECT vec_id, neighbor, adc FROM rr WHERE rk <= 20),
        |rer AS (
        |  SELECT sh.vec_id, sh.neighbor, sh.adc,
        |    round(list_dot_product(qv.e, nv.e), 6) AS cos
        |  FROM short sh
        |  JOIN v qv ON qv.vec_id = sh.vec_id
        |  JOIN v nv ON nv.vec_id = sh.neighbor),
        |rr2 AS (
        |  SELECT vec_id, neighbor, adc, cos,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos DESC, neighbor) AS rrk
        |  FROM rer)
        |SELECT vec_id, neighbor, adc, cos, rrk FROM rr2 WHERE rrk <= 5""".stripMargin))
}
