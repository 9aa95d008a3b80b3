package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.Bridge
import graft.core.{MinHash, SketchConfig, Shingles}
import graft.functions.GraftFunctions
import graft.operators.{ConnectedComponents, Lsh}
import graft.queries.QuerySupport._
import graft.queries.Text.toks

/** `dNN` deduplication family: exact and n-gram dedup, sketch dedup on
  * documents (MinHash/SimHash LSH, clusters, containment, audits),
  * decontamination and curation, plus the fingerprint queries t04
  * (winnowing) and t05 (substring pairs). */
object Dedup {

  // The murmur3/minhash/simhash KERNELS are not SQL-expressible, but every
  // stage downstream of them is: each query dumps its kernel output
  // (sketches / band keys) as a derived table and the DuckDB oracle
  // independently replicates the bucketing, capping, pair generation,
  // combined-denominator Jaccard, Hamming confirm, and connected
  // components from that dump. The kernels themselves are golden- and
  // property-tested in KernelSpec/ExpressionsSpec.

  private[queries] val docSketch = SketchConfig(num = 128, ksize = 4)

  /** Published sourmash angular similarity 1 − 2·acos(ρ)/π from a dot
    * product and the two squared norms ([[graft.core.MinHash.angularSimilarity]]
    * is the kernel twin). ρ is clamped to [−1, 1] like the kernel — fp
    * round-up past 1.0 on identical/proportional sketches would turn
    * acos into NaN. Rounded to 6 places (single-operation fp, oracle-safe). */
  private[graft] def angularSimCol(dot: Column, n2a: Column, n2b: Column): Column =
    round(lit(1.0) - lit(2.0) * acos(
        least(lit(1.0), greatest(lit(-1.0), dot / sqrt(n2a * n2b))))
      / lit(math.Pi), 6)

  /** Distinct char-4-grams of pre-normalized text `(doc_id, nt)` — the
    * same shingle universe [[graft.core.Shingles.charShingleHashes]]
    * sketches. Texts shorter than the gram width contribute their whole
    * string as the single gram, mirroring the kernel, so no candidate
    * endpoint silently vanishes from the d15 audit (an empty `nt` yields
    * an empty sketch and can never be an LSH candidate). */
  private[graft] def auditGrams(normed: DataFrame): DataFrame =
    normed.where(length(col("nt")) >= 1)
      .select(col("doc_id"), explode(when(length(col("nt")) >= 4, expr(
          "array_distinct(transform(sequence(1, length(nt)-3), i -> substring(nt, i, 4)))"))
        .otherwise(array(col("nt")))).as("gram"))

  /** [[auditGrams]]' production twin with the hash INSIDE the lambda
    * (the gramHashes idiom): array_distinct dedups primitive longs
    * instead of 4-char strings, and no gram string survives the stage
    * that makes it. Same xxhash64 over the same substrings, so it equals
    * `auditGrams → xxhash64(gram)` row-for-row unless two distinct grams
    * of ONE doc collide in 64 bits (≲ 1e-13 per doc here; the oracle
    * distincts exact strings, so the hash gate would surface one) —
    * QueriesSpec pins the equivalence on the hostile short-text corpus. */
  private[graft] def auditGramHashes(normed: DataFrame): DataFrame =
    normed.where(length(col("nt")) >= 1)
      .select(col("doc_id"), explode(when(length(col("nt")) >= 4, expr(
          "array_distinct(transform(sequence(1, length(nt)-3), i -> xxhash64(substring(nt, i, 4))))"))
        .otherwise(array(xxhash64(col("nt"))))).as("gh"))

  /** (doc_id, source, mins, simhash) — written once, read by d03–d08 and
    * the d12/st05 index probes; `files = 1` keeps the much-re-read index
    * a single part file while the sketch kernel still computes 32-wide. */
  private[queries] def docSketches(s: SparkSession, d: String): DataFrame =
    dumpDerived(s, d, "doc_sketches", files = 1) {
      // spread: the MinHash/SimHash sketch kernels are the cost here, and
      // the single-file scan would run them in one task
      spread(s, t(s, d, "documents")).select(col("doc_id"), col("source"),
        GraftFunctions.captionMinhash(col("text"), docSketch).as("mins"),
        GraftFunctions.captionSimhash(col("text"), docSketch.ksize).as("simhash"))
    }

  /** (id, bandKey, cap) — the MinHash LSH band table over doc_id, heat
    * cap 64. */
  private[queries] def docBanded(s: SparkSession, d: String): DataFrame =
    dumpDerived(s, d, "doc_banded", files = 1) {
      Lsh.bands(docSketches(s, d), col("doc_id"),
        (11, GraftFunctions.minhashBands(col("mins"), bands = 16, rowsPerBand = 8), 64))
    }

  /** LSH candidate pairs over the banded dump — itself dumped once per
    * (sfDir, JVM): five queries consume the same pair set (d03/d04/d12/
    * d14/d15), and the bucket-size window over the exploded band table is
    * the expensive step; re-running it per consumer was pure repeat work. */
  private[queries] def docCandidates(s: SparkSession, d: String): DataFrame =
    dumpDerived(s, d, "doc_candidates") {
      Lsh.candidatePairsCapped(docBanded(s, d))
    }

  /** (doc_id, cluster) — the ≥0.5-Jaccard-confirmed near-dup clustering,
    * dumped once per (sfDir, JVM): d06 returns it verbatim and d11 keys
    * its keep-rule off it (the confirm joins and the iterative CC loop
    * previously ran twice per verify run). */
  private def docClusterLabels(s: SparkSession, d: String): DataFrame =
    dumpDerived(s, d, "doc_cluster_labels") {
      val sk = docSketches(s, d)
      val edges = docCandidates(s, d)
        .join(sk.select(col("doc_id").as("a"), col("mins").as("mins_a")), "a")
        .join(sk.select(col("doc_id").as("b"), col("mins").as("mins_b")), "b")
        .where(GraftFunctions.jaccard(col("mins_a"), col("mins_b"), docSketch) >= 0.5)
        .select(col("a").as("src"), col("b").as("dst"))
      ConnectedComponents
        .labelAll(t(s, d, "documents").select(col("doc_id").as("id")), edges)
        .select(col("id").as("doc_id"), col("component").as("cluster"))
    }

  /** The cluster-keyed split assignment shared by d22 (the published
    * split table) and d23 (the stability audit of that same rule): ONE
    * definition so the audit can never drift from the table it audits.
    * Cluster ids are non-negative min-member doc_ids, so `pmod` matches
    * DuckDB's `%` in the oracles. */
  private[graft] def clusterSplitRule(c: Column): Column =
    when(pmod(c, lit(10)) === 0, lit("val"))
      .when(pmod(c, lit(10)) === 1, lit("test"))
      .otherwise(lit("train"))

  /** DuckDB replica of [[Lsh.candidatePairsCapped]] over the band dump. */
  private[queries] def candSql: String =
    s"""bnd AS (SELECT id, bandKey FROM read_parquet(${oraclePath("doc_banded")})),
       |keep AS (SELECT bandKey FROM bnd GROUP BY bandKey HAVING count(*) BETWEEN 2 AND 64),
       |cand AS (
       |  SELECT DISTINCT x.id AS a, y.id AS b
       |  FROM bnd x JOIN keep USING (bandKey) JOIN bnd y USING (bandKey)
       |  WHERE x.id < y.id)""".stripMargin

  /** DuckDB replica of the combined-denominator Jaccard confirm
    * (reference semantics, num=128) over candidate pairs. */
  private[queries] def jacSql: String =
    s"""sk AS (SELECT doc_id, mins FROM read_parquet(${oraclePath("doc_sketches")})),
       |uni AS (
       |  SELECT c.a, c.b,
       |    unnest(list_distinct(list_concat(sa.mins, sb.mins))) AS m,
       |    sa.mins AS ma, sb.mins AS mb
       |  FROM cand c
       |  JOIN sk sa ON sa.doc_id = c.a
       |  JOIN sk sb ON sb.doc_id = c.b),
       |rk AS (
       |  SELECT a, b, list_contains(ma, m) AND list_contains(mb, m) AS in_both,
       |    row_number() OVER (PARTITION BY a, b ORDER BY (m < 0), m) AS r
       |  FROM uni),
       |jac AS (
       |  SELECT a, b,
       |    round(count(*) FILTER (WHERE in_both) * 1.0 / greatest(count(*), 1), 6) AS jac_est
       |  FROM rk WHERE r <= 128 GROUP BY a, b)""".stripMargin

  /** Distinct char-13-grams of (doc_id, text) rows, xxhash64'd to 8-byte
    * keys — the shared shingle kernel of the decontamination family
    * (d16/d17/d18/st06). The hash moves INSIDE the lambda so
    * array_distinct runs on primitive longs (hash-set fast path) instead
    * of 13-char strings (pairwise-compare path — measured 6× slower on
    * this corpus' ~500-gram docs); distinct-then-hash and
    * hash-then-distinct differ only on a within-doc 64-bit collision
    * (~10⁻¹⁰ here; the oracle distincts exact strings, so the hash gate
    * would surface one). */
  private[graft] def gramHashes(docs: DataFrame): DataFrame =
    docs.where(length(col("text")) >= 13)
      .select(col("doc_id"),
        explode(expr("array_distinct(transform(sequence(1, length(text)-12), i -> xxhash64(substring(text, i, 13))))")).as("gh"))

  /** [[gramHashes]] over the documents table with the deterministic
    * eval-slice marker (doc_id % 43 — the held-out "benchmark" at ~2% of
    * the corpus). Dumped once per (sfDir, JVM): d16/d17/d18 all consume
    * this table, so the explode+hash pass runs once, not three times
    * (the docCandidates sharing pattern). */
  private[queries] def deconGrams(s: SparkSession, d: String): DataFrame =
    dumpDerived(s, d, "decon_grams") {
      // the explode multiplies rows ~300× — if the scan arrives narrower
      // than the session (one small parquet file here), everything
      // downstream runs near-serial. [[spread]] widens BEFORE the explode
      // (a shuffle of the small input, 1/300th of the post-explode bytes);
      // at scale the scan already splits and spread is a no-op.
      gramHashes(spread(s, t(s, d, "documents")))
        .withColumn("ev", col("doc_id") % 43 === 0)
    }

  /** Per-doc eval-gram overlap score via the broadcast membership join —
    * the confirm shared by d16 (one-shot) and st06 (per micro-batch);
    * per-doc independence is what makes the two provably equal.
    * `evalGrams` must be the distinct eval gh set with a `hit` marker. */
  private[graft] def deconScore(grams: DataFrame, evalGrams: DataFrame): DataFrame =
    grams.join(broadcast(evalGrams), Seq("gh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .where(col("n_hit") > 0)
      .withColumn("overlap", round(col("n_hit") * lit(1.0) / col("n_grams"), 6))
      .withColumn("contaminated", col("overlap") >= 0.5)
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        col("overlap"), col("contaminated"))

  /** d16's body (also feeds d18's funnel). */
  private def deconOverlap(s: SparkSession, d: String): DataFrame = {
    val docs = deconGrams(s, d)
    deconScore(docs.where(!col("ev")),
      docs.where(col("ev")).select(col("gh")).distinct()
        .withColumn("hit", lit(1L)))
  }

  // t04 winnowing fingerprints: the murmur shingle hashes are dumped; the
  // oracle replicates the winnowing itself (window-min with rightmost
  // tie-break + consecutive-pick dedup, Schleimer et al.) with SQL window
  // functions — an independent implementation of the selection logic.

  /** Murmur shingle stream (k=5, seed 42) over every document — dumped so
    * the t04 winnowing and d09 scaled-cutoff oracles can replicate their
    * selection logic independently from the same kernel output. */
  private def docShingles(s: SparkSession, d: String): DataFrame =
    // stays 32-wide: bounding to one file was tried and measured SLOWER
    // (+0.4 s) — the single-task parquet encode of the ~2.5M-row shingle
    // stream costs more than the 32 small write commits it saves
    dumpDerived(s, d, "t04_shingles") {
      val sh = udf((text: String) => Shingles.charShingleHashes(text, 5, 42L))
      spread(s, t(s, d, "documents"))
        .select(col("doc_id"), posexplode_outer(sh(col("text"))).as(Seq("pos", "h")))
    }

  // delta-vs-index probe replica: the band dump split by the same
  // delta rule, index-side bucket cap, pair gen, combined-denominator
  // Jaccard confirm (shared jacSql), per-new-doc argmax
  private[queries] val incrementalDedupOracle: String =
    s"""WITH bnd AS (SELECT id, bandKey FROM read_parquet(${oraclePath("doc_banded")})),
       |newb AS (SELECT id, bandKey FROM bnd WHERE id % 5 = 0),
       |oldb AS (SELECT id, bandKey FROM bnd WHERE id % 5 <> 0),
       |keep AS (SELECT bandKey FROM oldb GROUP BY bandKey HAVING count(*) <= 64),
       |cand AS (
       |  SELECT DISTINCT n.id AS a, o.id AS b
       |  FROM newb n JOIN keep USING (bandKey) JOIN oldb o USING (bandKey)),
       |$jacSql,
       |best AS (
       |  SELECT a, b, jac_est,
       |    row_number() OVER (PARTITION BY a ORDER BY jac_est DESC, b) AS rk2
       |  FROM jac WHERE jac_est >= 0.5)
       |SELECT a AS new_id, b AS dup_of, jac_est FROM best WHERE rk2 = 1""".stripMargin

  // decontamination replicated on exact gram STRINGS (the Spark side
  // joins on xxhash64 of the same grams — a collision would flip n_hit
  // and fail this hash gate)
  private[queries] val decontaminateOracle: String =
    """WITH docs AS (
      |  SELECT doc_id, text, (doc_id % 43 = 0) AS ev FROM documents
      |  WHERE length(text) >= 13),
      |pos AS (
      |  SELECT doc_id, text, ev, unnest(range(1, length(text)-11)) AS i
      |  FROM docs),
      |grams AS (
      |  SELECT DISTINCT doc_id, ev, substr(text, i::INT, 13) AS gram FROM pos),
      |eg AS (SELECT DISTINCT gram FROM grams WHERE ev),
      |hits AS (
      |  SELECT doc_id, count(*) AS n_grams,
      |    count(*) FILTER (WHERE gram IN (SELECT gram FROM eg)) AS n_hit
      |  FROM grams WHERE NOT ev GROUP BY 1)
      |SELECT doc_id, n_grams, n_hit,
      |  round(n_hit*1.0/n_grams, 6) AS overlap,
      |  round(n_hit*1.0/n_grams, 6) >= 0.5 AS contaminated
      |FROM hits WHERE n_hit > 0""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    // exact dedup: content-hash groupBy (the exact-dup pre-aggregation stage)
    QueryDef("d01_exact_dedup", { (s, d) =>
      t(s, d, "documents")
        .groupBy(md5(encode(col("text"), "UTF-8")).as("text_md5"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_id"))
    },
      """SELECT md5(text) AS text_md5, count(*) AS n_docs, min(doc_id) AS canonical_id
        |FROM documents GROUP BY 1""".stripMargin),
    // exact n-gram Jaccard within source blocks (blocked pairwise dedup).
    // High-document-frequency grams are dropped BEFORE the self-join: a
    // boilerplate gram appearing in every doc of a source would otherwise
    // produce |docs|² rows in its join group — the classic web-scale
    // stopword blowup. Jaccard is therefore over the rare-gram sets
    // (df ≤ 64 — the same hot-group bound as the LSH bucket cap; a gram
    // in more docs than that is boilerplate, not evidence), consistently
    // in sizes and intersection (and mirrored in the oracle). The df
    // filter reuses the (source, gram) partitioning of its own groupBy,
    // so it costs no extra shuffle over the join.
    QueryDef("d02_ngram_jaccard", { (s, d) =>
      val dfMax = 64
      // spread: the 3-gram explode+hash kernel below is the dominant cost
      // and would otherwise run inside the single scan task
      val docs = spread(s, t(s, d, "documents")).where(length(col("text")) >= 3)
      // grams are hashed to 8-byte longs BEFORE any shuffle: every
      // downstream exchange/join keys on (source, gh) instead of carrying
      // 3-char strings — smaller shuffle rows and long-compare joins. The
      // jaccard value is identical unless two distinct grams collide in
      // 64 bits (~10⁴ distinct 3-grams → P ≈ 1e-11; the hash-match
      // oracle gate would surface a collision as a value diff). The hash
      // sits INSIDE the lambda so array_distinct dedups primitive longs
      // (hash-set fast path) instead of 3-char strings — the gramHashes
      // idiom; xxhash64 of the same substring, so the values are
      // unchanged and only a WITHIN-doc cross-gram collision (absorbed
      // into the same ~1e-11 budget) could differ from distinct-then-hash.
      val allGrams = docs.select(col("doc_id"), col("source"),
          explode(expr("array_distinct(transform(sequence(1, length(text)-2), i -> xxhash64(substring(text, i, 3))))")).as("gh"))
      // df-filter as a WINDOW over (source, gh) — the oracle's own
      // QUALIFY formulation: ONE explode pass + one exchange instead of
      // a groupBy branch joined back against a second full explode of
      // the same scan (measured: the two explode branches each cost
      // ~17-20 task-seconds at sf0.1). The window's (source, gh) partitioning and sort are
      // exactly what the self-join below needs, so the join adds no
      // exchange or sort on either side.
      val wdf = Window.partitionBy(col("source"), col("gh"))
      // materialized once (the dumpDerived discipline): the rare-gram
      // table has THREE consumers below (sizes + both self-join sides),
      // and exchange reuse cannot deduplicate this subtree (the lambda-
      // bearing explode defeats plan canonicalization — measured: each
      // consumer re-ran the full explode+window pass). The dump runs
      // under the 64k AQE minPartitionSize scope (see embPairs): the
      // window stage reads ~7 MB of shuffle but carries the df-count
      // compute, and the default 1m floor coalesced it to 6 tasks
      // (measured 10 task-seconds → ~1.7 s wall at sf0.1).
      val grams = dumpDerived(s, d, "d02_grams", files = 1) {
        withConf(s, "spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k") { c =>
          Bridge.rebind(c, allGrams).withColumn("df", count(lit(1)).over(wdf))
            .where(col("df") <= dfMax)
            .select(col("doc_id"), col("source"), col("gh"))
        }
      }
      val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      // The self-join runs OUTSIDE the scoped conf (it reads the dump
      // back through `s`), so its width is pinned with explicit join-key
      // repartitions instead: the dump is tens of KB, and byte-based AQE
      // coalescing ran the pair-expansion join in ONE task (measured 1.2 s
      // task-time) while its CPU amplification is ~10³ per shuffle byte.
      // A user repartition is never coalesced; it IS the exchange the
      // join would insert (same key, so ENSURE_REQUIREMENTS adds
      // nothing), and both sides share one width so the SMJ stays
      // co-partitioned under any session conf. The (a, b) rollup's
      // map-side partial aggregation rides IN the widened join stage, so
      // it parallelizes with it; the rollup exchange itself is left to
      // the planner (a user repartition there would be a barrier below
      // which the partial agg cannot push, shuffling raw pair incidences
      // instead of per-task counts). Skew is bounded by construction
      // (df ≤ 64 caps every join group), so forgoing AQE skew-split here
      // loses nothing.
      val par2 = s.sparkContext.defaultParallelism
      val g1 = grams.select(col("doc_id").as("a"), col("source"), col("gh"))
        .repartition(par2, col("source"), col("gh"))
      val g2 = grams.select(col("doc_id").as("b"), col("source"), col("gh"))
        .repartition(par2, col("source"), col("gh"))
      val common = g1.join(g2, Seq("source", "gh"))
        .where(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
      common
        .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), "a")
        .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), "b")
        .withColumn("jac", round(col("c") * lit(1.0) / (col("na") + col("nb") - col("c")), 6))
        .where(col("jac") >= 0.8)
        .select(col("a"), col("b"), col("jac"))
    },
      """WITH pos AS (
        |  SELECT doc_id, source, text, unnest(range(1, length(text)-1)) AS i
        |  FROM documents WHERE length(text) >= 3
        |), all_grams AS (
        |  SELECT DISTINCT doc_id, source, substr(text, i::INT, 3) AS gram FROM pos
        |), grams AS (
        |  SELECT doc_id, source, gram FROM all_grams
        |  QUALIFY count(*) OVER (PARTITION BY source, gram) <= 64
        |), sizes AS (
        |  SELECT doc_id, count(*) AS n FROM grams GROUP BY 1
        |), common AS (
        |  SELECT g1.doc_id a, g2.doc_id b, count(*) c
        |  FROM grams g1 JOIN grams g2
        |    ON g1.gram = g2.gram AND g1.source = g2.source AND g1.doc_id < g2.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT a, b, round(c*1.0/(sa.n+sb.n-c), 6) AS jac FROM common
        |JOIN sizes sa ON sa.doc_id = common.a
        |JOIN sizes sb ON sb.doc_id = common.b
        |WHERE round(c*1.0/(sa.n+sb.n-c), 6) >= 0.8""".stripMargin),
    // MinHash + LSH banding: candidate pair generation (bucket equi-grouping)
    QueryDef("d03_minhash_lsh_pairs", { (s, d) => docCandidates(s, d) },
      s"""WITH $candSql
         |SELECT a, b FROM cand""".stripMargin),
    // candidate confirm with reference-semantics Jaccard estimate
    QueryDef("d04_minhash_jaccard_dedup", { (s, d) =>
      val sk = docSketches(s, d)
      docCandidates(s, d)
        .join(sk.select(col("doc_id").as("a"), col("mins").as("mins_a")), "a")
        .join(sk.select(col("doc_id").as("b"), col("mins").as("mins_b")), "b")
        .withColumn("jac_est", round(GraftFunctions.jaccard(col("mins_a"), col("mins_b"), docSketch), 6))
        .where(col("jac_est") >= 0.5)
        .select(col("a"), col("b"), col("jac_est"))
    },
      s"""WITH $candSql,
         |$jacSql
         |SELECT a, b, jac_est FROM jac WHERE jac_est >= 0.5""".stripMargin),
    // SimHash near-dup pairs: 5-of-8 joint band keys (C(8,5)=56 ~46-bit
    // keys; pigeonhole guarantees any pair within Hamming 3 shares ≥ 1
    // key) + Hamming confirm ≤ 3 — Manku et al.'s canonical 64-bit
    // near-dup threshold (WWW'07 §3 uses k=3 for 8B web pages). The
    // original single 8-bit blocks (256 values per band) saturated the
    // heat cap as the corpus grew — measured at 5000 docs: 141 hot
    // buckets (max 1805), losing 10,316/11,357 pairs at the old ≤ 7
    // contract and 75/257 at ≤ 3; the 40-value-bit joints read 0 hot
    // buckets / max 5 / 6.6k candidate mass at the same scale, and the
    // old ≤ 7 zone was mostly background anyway (h=4..7 carries 11k
    // pairs vs 257 at ≤ 3 — not near-dups at 64-bit simhash scale).
    // Oracle brute-forces ALL doc-pair Hammings from the sketch dump —
    // equality re-proves the radius-3 guarantee on data (the m08/m09
    // discipline); QueriesSpec re-asserts it at 5000 docs.
    QueryDef("d05_simhash_dedup", { (s, d) =>
      val sk = docSketches(s, d)
      Lsh.candidatePairsCapped(Lsh.bands(sk, col("doc_id"),
          (12, GraftFunctions.fingerprintJointBands(col("simhash"), 5), 64)))
        .join(sk.select(col("doc_id").as("a"), col("simhash").as("sh_a")), "a")
        .join(sk.select(col("doc_id").as("b"), col("simhash").as("sh_b")), "b")
        .withColumn("hamming", GraftFunctions.hamming64(col("sh_a"), col("sh_b")))
        .where(col("hamming") <= 3)
        .select(col("a"), col("b"), col("hamming"))
    },
      // simhash bucketing replicated from the fingerprint alone: 8-bit
      // pigeonhole blocks, bucket cap, pair gen, Hamming confirm — all in SQL
      // brute-force ALL doc-pair Hammings from the dumped sketches —
      // equality with the banded path re-proves the 5-of-8 joint-key
      // radius-3 recall guarantee on data (a banded miss OR a heat-cap
      // loss on a true pair would show up as a missing row here)
      s"""WITH s AS (SELECT doc_id, simhash
         |  FROM read_parquet(${oraclePath("doc_sketches")})),
         |ham AS (
         |  SELECT sa.doc_id AS a, sb.doc_id AS b,
         |    bit_count(xor(sa.simhash, sb.simhash)) AS hamming
         |  FROM s sa JOIN s sb ON sa.doc_id < sb.doc_id)
         |SELECT a, b, hamming FROM ham WHERE hamming <= 3""".stripMargin),
    // near-dup clusters: confirmed edges → connected components
    QueryDef("d06_doc_clusters", { (s, d) => docClusterLabels(s, d) },
      // connected components via recursive transitive closure (small graph)
      s"""WITH RECURSIVE $candSql,
         |$jacSql,
         |edges AS (SELECT a, b FROM jac WHERE jac_est >= 0.5),
         |und AS (SELECT a AS u, b AS v FROM edges UNION SELECT b, a FROM edges),
         |reach(u, v) AS (
         |  SELECT u, v FROM und
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
         |comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster FROM reach GROUP BY u)
         |SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
         |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin),
    // SCALED-mode sketches end-to-end — the reference's second sketch mode
    // (sourmash-rust `src/lib.rs:198,206`): an unsigned max_hash cutoff
    // instead of bottom-k. scaled=4 → max_hash = 2^62; at num=0 the merge
    // never truncates, so the reference's combined-denominator Jaccard
    // degenerates to plain |A∩B|/|A∪B| — the oracle replicates BOTH the
    // cutoff (pure unsigned comparison, SQL-expressible since 2^62 > 0)
    // and the Jaccard from the raw murmur shingle dump.
    QueryDef("d09_scaled_sketch", { (s, d) =>
      val scaledCfg = graft.core.SketchConfig(num = 0, ksize = 5,
        maxHash = graft.core.SketchConfig.scaledToMaxHash(4L))
      docShingles(s, d) // materialize the shingle dump the oracle reads
      val sk = udf((text: String) =>
        MinHash.sketchHashes(Shingles.charShingleHashes(text, 5, 42L), scaledCfg))
      val scaled = t(s, d, "documents").select(col("doc_id"), sk(col("text")).as("mins"))
      docCandidates(s, d)
        .join(scaled.select(col("doc_id").as("a"), col("mins").as("ma")), "a")
        .join(scaled.select(col("doc_id").as("b"), col("mins").as("mb")), "b")
        .select(col("a"), col("b"),
          size(col("ma")).cast("long").as("na"),
          size(col("mb")).cast("long").as("nb"),
          round(GraftFunctions.jaccard(col("ma"), col("mb"), scaledCfg), 6).as("jac_scaled"))
    },
      // scaled-mode replica: the unsigned max_hash=2^62 cutoff over the raw
      // shingle dump (h in [0, 2^62] in signed terms since 2^62 > 0), then
      // plain set Jaccard over the LSH-gated candidate pairs
      s"""WITH $candSql,
         |hh AS (
         |  SELECT DISTINCT doc_id, h FROM read_parquet(${oraclePath("t04_shingles")})
         |  WHERE pos IS NOT NULL),
         |sc AS (SELECT doc_id, h FROM hh WHERE h >= 0 AND h <= 4611686018427387904),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sc GROUP BY 1),
         |cm AS (
         |  SELECT c.a, c.b, count(*) AS cnt
         |  FROM cand c
         |  JOIN sc x ON x.doc_id = c.a
         |  JOIN sc y ON y.doc_id = c.b AND y.h = x.h
         |  GROUP BY 1, 2)
         |SELECT c.a, c.b,
         |  coalesce(sa.n, 0) AS na, coalesce(sb.n, 0) AS nb,
         |  round(coalesce(cm.cnt, 0) * 1.0 /
         |    greatest(coalesce(sa.n, 0) + coalesce(sb.n, 0) - coalesce(cm.cnt, 0), 1), 6) AS jac_scaled
         |FROM cand c
         |LEFT JOIN sizes sa ON sa.doc_id = c.a
         |LEFT JOIN sizes sb ON sb.doc_id = c.b
         |LEFT JOIN cm ON cm.a = c.a AND cm.b = c.b""".stripMargin),
    // canonical-representative selection — the pipeline step AFTER
    // clustering in a dedup tier: keep exactly ONE doc per near-dup
    // cluster (most tokens, then lowest doc_id — deterministic) and
    // report the cluster with its member count. Cost shape at scale:
    // the d06 label table + one hash-partitioned window over the
    // cluster key; no all-pairs, no extra shuffle beyond the label join.
    QueryDef("d11_canonical_keep", { (s, d) =>
      val docs = t(s, d, "documents")
      val labeled = docClusterLabels(s, d)
      val scored = docs.select(col("doc_id"),
        size(toks(col("text"))).cast("long").as("n_tokens"))
      val byCluster = Window.partitionBy(col("cluster"))
      val pick = Window.partitionBy(col("cluster"))
        .orderBy(col("n_tokens").desc, col("doc_id"))
      labeled.join(scored, "doc_id")
        .withColumn("n_members", count(lit(1)).over(byCluster))
        .withColumn("rk", row_number().over(pick))
        .where(col("rk") === 1)
        .select(col("cluster"), col("doc_id").as("keep_id"),
          col("n_members"), col("n_tokens").as("keep_tokens"))
    },
      // the d06 closure extended with the keep rule: per-cluster argmax by
      // token count (tie: lowest doc_id), member counts from a window
      s"""WITH RECURSIVE $candSql,
         |$jacSql,
         |edges AS (SELECT a, b FROM jac WHERE jac_est >= 0.5),
         |und AS (SELECT a AS u, b AS v FROM edges UNION SELECT b, a FROM edges),
         |reach(u, v) AS (
         |  SELECT u, v FROM und
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
         |comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster FROM reach GROUP BY u),
         |lab AS (
         |  SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster,
         |    len(list_filter(string_split(d.text, ' '), x -> x != ''))::BIGINT AS n_tokens
         |  FROM documents d LEFT JOIN comp c USING (doc_id)),
         |ranked AS (
         |  SELECT cluster, doc_id, n_tokens,
         |    count(*) OVER (PARTITION BY cluster) AS n_members,
         |    row_number() OVER (PARTITION BY cluster ORDER BY n_tokens DESC, doc_id) AS rk
         |  FROM lab)
         |SELECT cluster, doc_id AS keep_id, n_members, n_tokens AS keep_tokens
         |FROM ranked WHERE rk = 1""".stripMargin),
    // incremental (delta-vs-corpus) dedup — the daily-ingest pattern at
    // 100 TB: the corpus' exploded band table is a PERSISTED index (here
    // the shared doc_banded dump stands in for it); a new batch probes it
    // with a plain hash join on bandKey, so the corpus is never
    // re-sketched or re-shuffled — cost is O(delta + touched buckets).
    // doc_id % 5 == 0 stands in for the delta. Oversize index buckets are
    // dropped by the same heat cap as d03 (64). Decision per new doc: its
    // best existing near-dup (max confirmed Jaccard, tie lowest corpus
    // id) at >= 0.5. Within-delta duplicates are the batch self-dedup's
    // job (d03/d04 over the delta), not this probe's.
    QueryDef("d12_incremental_dedup", { (s, d) =>
      val sk = docSketches(s, d)
      val bands = docBanded(s, d)
      val newB = bands.where(col("id") % 5 === 0)
        .select(col("id").as("new_id"), col("bandKey"))
      val oldB = bands.where(col("id") % 5 =!= 0)
        .select(col("id").as("old_id"), col("bandKey"))
      val keep = oldB.groupBy("bandKey")
        .agg(count(lit(1)).as("n")).where(col("n") <= 64).select("bandKey")
      val cands = newB.join(keep, "bandKey").join(oldB, "bandKey")
        .select(col("new_id"), col("old_id")).distinct()
      val scored = cands
        .join(sk.select(col("doc_id").as("new_id"), col("mins").as("mins_n")), "new_id")
        .join(sk.select(col("doc_id").as("old_id"), col("mins").as("mins_o")), "old_id")
        .withColumn("jac_est",
          round(GraftFunctions.jaccard(col("mins_n"), col("mins_o"), docSketch), 6))
        .where(col("jac_est") >= 0.5)
      val pick = Window.partitionBy(col("new_id"))
        .orderBy(col("jac_est").desc, col("old_id"))
      scored.withColumn("rk", row_number().over(pick)).where(col("rk") === 1)
        .select(col("new_id"), col("old_id").as("dup_of"), col("jac_est"))
    },
      incrementalDedupOracle),
    // repeated-span flagging — the MassiveText/C4 "remove spans that
    // recur across the corpus" rule at 8-token-gram granularity (exact
    // sentence repetition never happens in web text after trafilatura;
    // shared n-gram spans between near-dup pages do): per doc, how many
    // of its token 8-grams appear in ≥ 2 distinct documents. Scale
    // shape: the gram STRING dies in the same stage that makes it
    // (xxhash64 right after the explode) — every shuffle carries (long,
    // long); the doc-frequency side is a two-stage distinct agg. An
    // 8-byte key merges distinct grams at ~n²/2⁶⁴, one-sided toward
    // over-flagging — the dedup-pipeline-safe direction.
    QueryDef("d13_repeated_ngram_spans", { (s, d) =>
      val docs = t(s, d, "documents")
      val ts = toks(col("text"))
      val grams = when(size(ts) >= 8,
        transform(sequence(lit(0), size(ts) - 8),
          i => array_join(slice(ts, i + 1, lit(8)), " ")))
        .otherwise(array().cast("array<string>"))
      // spread: the 8-token gram build + explode dominates; only the gram
      // branch is widened — the final left-join scan stays narrow
      val g = spread(s, docs).select(col("doc_id"), explode(grams).as("gram"))
        .select(col("doc_id"), xxhash64(col("gram")).as("gh"))
      val freq = g.groupBy("gh").agg(countDistinct(col("doc_id")).as("nd"))
      val perDoc = g.join(freq, "gh")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup"))
      docs.select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup"))
    },
      // the repeated-span rule replicated on the gram STRINGS (the Spark
      // side keys on xxhash64 — identical counts absent 64-bit collisions,
      // which the oracle would catch as a hash mismatch)
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ts
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, ts, unnest(generate_series(1, greatest(len(ts) - 7, 0))) AS i
        |  FROM tok),
        |g AS (SELECT doc_id, list_aggregate(ts[i:i+7], 'string_agg', ' ') AS gram FROM idx),
        |fr AS (SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY gram),
        |agg AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_grams,
        |    sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup
        |  FROM g JOIN fr USING (gram) GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n_grams, 0)::BIGINT AS n_grams,
        |  coalesce(a.n_dup, 0)::BIGINT AS n_dup
        |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin),
    // containment-based subset-dup detection — sourmash's asymmetric
    // containment semantic (count_common / |A|, sourmash-rust
    // src/index.rs:146-160) applied to the dedup tier: a doc QUOTED inside a
    // longer doc scores low Jaccard but high containment, so the Jaccard
    // confirms (d04) miss it by design. Same LSH candidate set, same
    // codegen'd kernel family; both directions reported.
    QueryDef("d14_containment_dedup", { (s, d) =>
      val sk = docSketches(s, d)
      docCandidates(s, d)
        .join(sk.select(col("doc_id").as("a"), col("mins").as("mins_a")), "a")
        .join(sk.select(col("doc_id").as("b"), col("mins").as("mins_b")), "b")
        .withColumn("cont_ab",
          round(GraftFunctions.containment(col("mins_a"), col("mins_b")), 6))
        .withColumn("cont_ba",
          round(GraftFunctions.containment(col("mins_b"), col("mins_a")), 6))
        .where(greatest(col("cont_ab"), col("cont_ba")) >= 0.8)
        .select(col("a"), col("b"), col("cont_ab"), col("cont_ba"))
    },
      // asymmetric containment replica over the candidate dump: plain
      // value-set intersection over each side's own sketch length
      // (count_common / |A| — index.rs:146-160; no combined-denominator
      // re-truncation here, unlike jacSql)
      s"""WITH $candSql,
         |sk AS (SELECT doc_id, mins FROM read_parquet(${oraclePath("doc_sketches")})),
         |co AS (
         |  SELECT c.a, c.b,
         |    CASE WHEN len(sa.mins) = 0 THEN 0.0 ELSE
         |      round(len(list_intersect(sa.mins, sb.mins)) * 1.0 / len(sa.mins), 6)
         |    END AS cont_ab,
         |    CASE WHEN len(sb.mins) = 0 THEN 0.0 ELSE
         |      round(len(list_intersect(sa.mins, sb.mins)) * 1.0 / len(sb.mins), 6)
         |    END AS cont_ba
         |  FROM cand c JOIN sk sa ON sa.doc_id = c.a JOIN sk sb ON sb.doc_id = c.b)
         |SELECT a, b, cont_ab, cont_ba FROM co
         |WHERE greatest(cont_ab, cont_ba) >= 0.8""".stripMargin),
    // ESTIMATOR CALIBRATION AUDIT: for every LSH candidate pair, the
    // sketch-estimated Jaccard (128-min combined denominator — the
    // reference's `compare` semantics the whole dedup tier trusts) next
    // to the EXACT distinct-4-gram Jaccard over the same normalized
    // text, plus the absolute error. This is the evaluation harness a
    // production tier runs on a sample before committing to a sketch
    // width: the d04/m01 thresholds are only meaningful if the estimator
    // is calibrated at the operating point. Exact counting is confined
    // to candidate pairs (grams join against the candidate endpoints —
    // never all-pairs), so the audit costs O(candidates), not O(n²).
    QueryDef("d15_sketch_error_audit", { (s, d) =>
      val sk = docSketches(s, d)
      // collapse-THEN-trim matches Shingles.normalizeText exactly: the
      // collapse turns any leading/trailing whitespace run (\n, \t, …)
      // into a single space, which the space-stripping trim then removes
      // (trim-first would leave non-space leading whitespace behind as a
      // retained space — a gram universe captionMinhash never sketches)
      // spread: normalization + the distinct-4-gram explode is the cost
      val normed = spread(s, t(s, d, "documents")).select(col("doc_id"),
        trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("nt"))
      // distinct char-4-grams hashed to longs so the pair joins never
      // carry strings (auditGrams pins the universe rule in the spec;
      // auditGramHashes is its hash-inside-the-lambda production twin)
      val grams = auditGramHashes(normed)
      val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val cands = docCandidates(s, d)
      val common = cands
        .join(grams.select(col("doc_id").as("a"), col("gh")), "a")
        .join(grams.select(col("doc_id").as("b"), col("gh")), Seq("b", "gh"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
      cands
        .join(sk.select(col("doc_id").as("a"), col("mins").as("mins_a")), "a")
        .join(sk.select(col("doc_id").as("b"), col("mins").as("mins_b")), "b")
        .withColumn("jac_est",
          round(GraftFunctions.jaccard(col("mins_a"), col("mins_b"), docSketch), 6))
        .join(common, Seq("a", "b"), "left")
        .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), "a")
        .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), "b")
        .withColumn("jac_exact", round(
          coalesce(col("c"), lit(0L)) * lit(1.0) /
            (col("na") + col("nb") - coalesce(col("c"), lit(0L))), 6))
        .withColumn("abs_err", round(abs(col("jac_est") - col("jac_exact")), 6))
        .select(col("a"), col("b"), col("jac_est"), col("jac_exact"), col("abs_err"))
    },
      // estimator audit: jac_est replicated from the sketch dump (jacSql),
      // jac_exact re-counted from the raw text's distinct 4-grams — two
      // independent paths meeting at the same pair rows
      s"""WITH $candSql,
         |$jacSql,
         |nt AS (
         |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
         |  FROM documents),
         |grams AS (
         |  SELECT DISTINCT doc_id, substr(nt, i::INT, 4) AS gram
         |  FROM (SELECT doc_id, nt, unnest(range(1, length(nt)-2)) AS i
         |        FROM nt WHERE length(nt) >= 4)
         |  UNION ALL
         |  SELECT doc_id, nt AS gram FROM nt WHERE length(nt) BETWEEN 1 AND 3),
         |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
         |cmn AS (
         |  SELECT c.a, c.b, count(*) AS c
         |  FROM cand c
         |  JOIN grams ga ON ga.doc_id = c.a
         |  JOIN grams gb ON gb.doc_id = c.b AND gb.gram = ga.gram
         |  GROUP BY 1, 2),
         |ex AS (
         |  SELECT j.a, j.b, j.jac_est,
         |    round(coalesce(cm.c, 0) * 1.0 /
         |      (sa.n + sb.n - coalesce(cm.c, 0)), 6) AS jac_exact
         |  FROM jac j
         |  LEFT JOIN cmn cm ON cm.a = j.a AND cm.b = j.b
         |  JOIN sizes sa ON sa.doc_id = j.a
         |  JOIN sizes sb ON sb.doc_id = j.b)
         |SELECT a, b, jac_est, jac_exact,
         |  round(abs(jac_est - jac_exact), 6) AS abs_err FROM ex""".stripMargin),
    // BENCHMARK DECONTAMINATION — the cross-corpus training-pipeline op
    // (remove/flag training docs that overlap a held-out eval set, the
    // GPT-3/Llama 13-gram protocol): a deterministic slice of the corpus
    // (doc_id % 43 = 0, ~2%) plays the eval benchmark; every TRAIN doc is
    // scored by the fraction of its distinct char-13-grams that appear
    // anywhere in the eval set. The scale shape differs from every dNN
    // above: the eval side is small and the train side is the 100-TB
    // corpus, so the gram-membership join is a BROADCAST hash join on
    // 8-byte gram hashes (no shuffle of the train grams beyond the per-doc
    // rollup); at eval sets too large to broadcast exactly, the same plan
    // swaps the hash set for a Bloom filter of eval grams (false-positive
    // overlap inflates scores conservatively — flagged docs are dropped
    // anyway). Grams are xxhash64'd before the join (d02's documented
    // collision bound applies; the oracle joins exact strings, so the
    // hash gate would surface a collision as a value diff).
    QueryDef("d16_decontaminate", { (s, d) => deconOverlap(s, d) },
      decontaminateOracle),
    // d16's CAN'T-BROADCAST twin: when the eval suite's gram set is too
    // large to broadcast exactly, the production shape is a BLOOM
    // PREFILTER (built distributed via graft_bloom_agg — Spark's own
    // runtime-filter aggregate, one binary row, never a driver collect)
    // reaching every train partition as a scalar subquery, followed by
    // an exact SHUFFLE join that only the surviving grams pay for. Bloom
    // filters have no false negatives and the exact join kills the false
    // positives, so the output is PROVABLY identical to d16 — it shares
    // d16's oracle — while the shuffle carries (true hits + fpp·rest)
    // instead of the whole 100-TB gram stream. The SHUFFLE_HASH hint
    // pins the at-scale plan (AQE would broadcast the toy eval side and
    // make the prefilter pointless at sf0.01).
    QueryDef("d17_decontaminate_bloom", { (s, d) =>
      graft.functions.GraftExtensions.register(s)
      deconGrams(s, d).createOrReplaceTempView("decon_grams")
      // bloom sized from table statistics (the memoized row-count
      // stand-in): eval slice ≈ rows/43, ~300 distinct grams each. An
      // overestimate only lowers FPP; Spark caps the filter's numBits.
      val est = math.max(16384L, tableRows(s, d, "documents") * 7L)
      s.sql(
        s"""WITH eg AS (SELECT DISTINCT gh FROM decon_grams WHERE ev),
          |bloom AS (SELECT graft_bloom_agg(gh, CAST($est AS BIGINT)) AS bf FROM eg),
          |tg AS (SELECT doc_id, gh FROM decon_grams WHERE NOT ev),
          |per_doc AS (SELECT doc_id, count(*) AS n_grams FROM tg GROUP BY doc_id),
          |survivors AS (
          |  SELECT doc_id, gh FROM tg
          |  WHERE graft_might_contain((SELECT bf FROM bloom), gh)),
          |hits AS (
          |  SELECT /*+ SHUFFLE_HASH(eg) */ s.doc_id, count(*) AS n_hit
          |  FROM survivors s JOIN eg ON s.gh = eg.gh GROUP BY s.doc_id)
          |SELECT p.doc_id, p.n_grams, h.n_hit,
          |  round(h.n_hit * 1.0D / p.n_grams, 6) AS overlap,
          |  round(h.n_hit * 1.0D / p.n_grams, 6) >= 0.5 AS contaminated
          |FROM per_doc p JOIN hits h ON p.doc_id = h.doc_id""".stripMargin)
    },
      // d17's output is provably d16's (bloom = prefilter only: no false
      // negatives; false positives die in the exact join) — same oracle.
      decontaminateOracle),
    // THE CURATION MANIFEST — the whole training-set funnel as ONE
    // declarative plan, reporting surviving docs + token mass per stage:
    // raw → quality gate (t02's signals) → eval split (the d16 holdout
    // leaves the training set) → decontamination (d16's flags) →
    // near-dup canonical keep (d06's clusters + d11's keep rule, ranked
    // among the docs still alive at this stage). This is the per-release
    // report a production corpus ships with; composing it as one plan
    // means Catalyst shares the scans/joins and the whole funnel is a
    // single pass + one cluster window + one global conditional agg —
    // per-stage sums are of integral token counts, so the report is
    // bit-deterministic at any parallelism.
    QueryDef("d18_curation_manifest", { (s, d) =>
      val base = t(s, d, "documents").select(col("doc_id"),
        size(toks(col("text"))).cast("long").as("n_tokens"),
        size(filter(toks(col("text")), x => x === "the" || x === "a")).as("n_stop"))
      val contam = deconOverlap(s, d).where(col("contaminated"))
        .select(col("doc_id"), lit(true).as("contam"))
      val funnel = base
        .join(broadcast(contam), Seq("doc_id"), "left")
        .join(docClusterLabels(s, d), "doc_id")
        .withColumn("q_ok", col("n_tokens") >= 20 &&
          col("n_stop") * lit(1.0) / col("n_tokens") >= 0.05)
        .withColumn("s3", col("q_ok") && !(col("doc_id") % 43 === 0))
        .withColumn("s4", col("s3") && !coalesce(col("contam"), lit(false)))
      val keepRank = Window.partitionBy(col("cluster"))
        .orderBy(col("s4").desc, col("n_tokens").desc, col("doc_id"))
      funnel.withColumn("rk", row_number().over(keepRank))
        .agg(
          count(lit(1)).as("raw_d"), sum(col("n_tokens")).as("raw_t"),
          count(when(col("q_ok"), 1)).as("q_d"),
          coalesce(sum(when(col("q_ok"), col("n_tokens"))), lit(0L)).as("q_t"),
          count(when(col("s3"), 1)).as("s3_d"),
          coalesce(sum(when(col("s3"), col("n_tokens"))), lit(0L)).as("s3_t"),
          count(when(col("s4"), 1)).as("s4_d"),
          coalesce(sum(when(col("s4"), col("n_tokens"))), lit(0L)).as("s4_t"),
          count(when(col("s4") && col("rk") === 1, 1)).as("s5_d"),
          coalesce(sum(when(col("s4") && col("rk") === 1, col("n_tokens"))), lit(0L)).as("s5_t"))
        .select(expr(
          """stack(5,
            |  'raw', raw_d, raw_t,
            |  'quality', q_d, q_t,
            |  'eval_split', s3_d, s3_t,
            |  'decontaminated', s4_d, s4_t,
            |  'near_dedup', s5_d, s5_t) AS (stage, n_docs, n_tokens)""".stripMargin))
    },
      // the whole funnel replicated: closure clusters (d11's fragments),
      // decontamination flags (d16's fragments), quality gate, and the
      // per-cluster keep rank — one independent SQL pass over the same
      // tables/dumps
      s"""WITH RECURSIVE $candSql,
         |$jacSql,
         |edges AS (SELECT a, b FROM jac WHERE jac_est >= 0.5),
         |und AS (SELECT a AS u, b AS v FROM edges UNION SELECT b, a FROM edges),
         |reach(u, v) AS (
         |  SELECT u, v FROM und
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
         |comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster FROM reach GROUP BY u),
         |dd AS (SELECT doc_id, text, (doc_id % 43 = 0) AS ev FROM documents
         |  WHERE length(text) >= 13),
         |pos AS (SELECT doc_id, text, ev, unnest(range(1, length(text)-11)) AS i FROM dd),
         |grams AS (SELECT DISTINCT doc_id, ev, substr(text, i::INT, 13) AS gram FROM pos),
         |eg AS (SELECT DISTINCT gram FROM grams WHERE ev),
         |hits AS (
         |  SELECT doc_id, count(*) AS n_grams,
         |    count(*) FILTER (WHERE gram IN (SELECT gram FROM eg)) AS n_hit
         |  FROM grams WHERE NOT ev GROUP BY 1),
         |flags AS (SELECT doc_id FROM hits WHERE round(n_hit*1.0/n_grams, 6) >= 0.5),
         |b AS (
         |  SELECT doc_id,
         |    len(list_filter(string_split(text, ' '), x -> x != ''))::BIGINT AS n_tokens,
         |    len(list_filter(string_split(text, ' '), x -> x = 'the' OR x = 'a')) AS n_stop
         |  FROM documents),
         |f AS (
         |  SELECT b.doc_id, b.n_tokens, coalesce(c.cluster, b.doc_id) AS cluster,
         |    (b.n_tokens >= 20 AND b.n_stop*1.0/b.n_tokens >= 0.05) AS q_ok,
         |    (b.doc_id % 43 = 0) AS is_eval,
         |    (b.doc_id IN (SELECT doc_id FROM flags)) AS contam
         |  FROM b LEFT JOIN comp c USING (doc_id)),
         |f2 AS (
         |  SELECT *, (q_ok AND NOT is_eval) AS s3,
         |    (q_ok AND NOT is_eval AND NOT contam) AS s4 FROM f),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY cluster
         |    ORDER BY s4 DESC, n_tokens DESC, doc_id) AS rk FROM f2)
         |SELECT 'raw' AS stage, count(*)::BIGINT AS n_docs,
         |  sum(n_tokens)::BIGINT AS n_tokens FROM r
         |UNION ALL SELECT 'quality', count(*) FILTER (WHERE q_ok),
         |  coalesce(sum(n_tokens) FILTER (WHERE q_ok), 0) FROM r
         |UNION ALL SELECT 'eval_split', count(*) FILTER (WHERE s3),
         |  coalesce(sum(n_tokens) FILTER (WHERE s3), 0) FROM r
         |UNION ALL SELECT 'decontaminated', count(*) FILTER (WHERE s4),
         |  coalesce(sum(n_tokens) FILTER (WHERE s4), 0) FROM r
         |UNION ALL SELECT 'near_dedup', count(*) FILTER (WHERE s4 AND rk = 1),
         |  coalesce(sum(n_tokens) FILTER (WHERE s4 AND rk = 1), 0) FROM r""".stripMargin),
    // CORPUS-LEVEL TEMPLATE/BOILERPLATE STRIP — CCNet-style "line dedup"
    // re-expressed for unstructured text: each document is cut into
    // NON-overlapping 8-token segments (the "lines"); a segment whose
    // document frequency reaches 3 is template boilerplate, and every
    // document is REWRITTEN without its boilerplate segments (the
    // sub-8-token tail always survives — too short to template-match).
    // Contrast d13, which reports overlapping-gram duplication stats but
    // never rewrites. Scale shape: the exploded shuffle carries only
    // (doc_id, i, xxhash64) longs — text never rides an exploded exchange;
    // it moves exactly once, in the final doc-keyed join against the
    // per-doc drop lists (tiny: only boilerplate-hit docs have a row, and
    // AQE runtime-broadcasts that side), and the rewrite is a per-row
    // array expression. doc-frequency count and drop-list are two
    // aggregations over the same segment rows — dumped once per (sfDir,
    // JVM) like [[deconGrams]], so the 100-TB text scan + explode runs
    // once, not once per consumer; the reread is three longs per segment.
    QueryDef("d19_boilerplate_strip", { (s, d) =>
      val docs = t(s, d, "documents")
      val ts = toks(col("text"))
      val segRows = dumpDerived(s, d, "d19_segments") {
        val segHashes = when(size(ts) >= 8,
          transform(sequence(lit(0), (size(ts) / 8).cast("int") - 1),
            i => xxhash64(array_join(slice(ts, i * 8 + 1, lit(8)), " "))))
          .otherwise(array().cast("array<long>"))
        // spread: tokenization + segment hashing per row
        spread(s, docs).select(col("doc_id"), posexplode(segHashes).as(Seq("i", "gh")))
      }
      val boiler = segRows.groupBy("gh")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .where(col("nd") >= 3).select("gh")
      val drops = segRows.join(boiler, "gh")
        .groupBy("doc_id").agg(collect_set(col("i")).as("drops"))
      val nseg = (size(col("ts")) / 8).cast("int")
      val keptIdx = when(nseg >= 1,
        filter(sequence(lit(0), nseg - 1), i => !array_contains(col("drops"), i)))
        .otherwise(array().cast("array<int>"))
      val cleanArr = concat(
        flatten(transform(keptIdx, i => slice(col("ts"), i * 8 + 1, lit(8)))),
        slice(col("ts"), nseg * 8 + 1, size(col("ts")) - nseg * 8))
      docs.join(drops, Seq("doc_id"), "left")
        .select(col("doc_id"), ts.as("ts"),
          coalesce(col("drops"), array().cast("array<int>")).as("drops"))
        .select(col("doc_id"),
          nseg.cast("long").as("n_seg"),
          size(col("drops")).cast("long").as("n_drop"),
          size(cleanArr).cast("long").as("clean_n"),
          array_join(cleanArr, " ").as("clean_text"))
    },
      // independent rebuild from exact gram STRINGS (the Spark side groups
      // on xxhash64 longs — the d13 posture: a divergence would surface as
      // a hash-gate failure); the rewrite is re-derived with window-free
      // list ops + an ordered string_agg
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ts
        |  FROM documents),
        |seg AS (
        |  SELECT doc_id, ts, unnest(generate_series(0, len(ts)//8 - 1)) AS i
        |  FROM tok WHERE len(ts) >= 8),
        |g AS (SELECT doc_id, i,
        |    list_aggregate(ts[i*8+1:i*8+8], 'string_agg', ' ') AS gram FROM seg),
        |fr AS (SELECT gram FROM (
        |    SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY gram)
        |  WHERE nd >= 3),
        |dr AS (SELECT doc_id, i FROM g JOIN fr USING (gram)),
        |keep AS (
        |  SELECT g.doc_id, g.i, g.gram FROM g
        |  LEFT JOIN dr ON g.doc_id = dr.doc_id AND g.i = dr.i
        |  WHERE dr.doc_id IS NULL),
        |body AS (
        |  SELECT doc_id, string_agg(gram, ' ' ORDER BY i) AS kept,
        |    count(*)::BIGINT AS n_kept
        |  FROM keep GROUP BY doc_id),
        |base AS (
        |  SELECT doc_id, len(ts)//8 AS n_seg, len(ts) - (len(ts)//8)*8 AS tail_n,
        |    array_to_string(ts[(len(ts)//8)*8+1:], ' ') AS tail
        |  FROM tok)
        |SELECT b.doc_id,
        |  b.n_seg::BIGINT AS n_seg,
        |  (b.n_seg - coalesce(o.n_kept, 0))::BIGINT AS n_drop,
        |  (coalesce(o.n_kept, 0)*8 + b.tail_n)::BIGINT AS clean_n,
        |  concat_ws(' ', nullif(o.kept, ''), nullif(b.tail, '')) AS clean_text
        |FROM base b LEFT JOIN body o USING (doc_id)""".stripMargin),
    // DEDUP-PRESSURE PROVENANCE MATRIX — the curation report a shard
    // owner reads before deciding what to drop: every ≥0.5-Jaccard
    // confirmed near-dup pair (the d04 edge set, same dumps, same
    // kernel) attributed to its UNORDERED source pair, with the pair
    // count and the number of distinct documents involved. A hot
    // (sa, sa) diagonal cell means a self-duplicating shard (re-crawl /
    // template farm); a hot off-diagonal cell means two shards covering
    // the same underlying content — drop one, not both. Scale shape:
    // the confirm output is already tiny relative to the corpus (it IS
    // the duplicate mass), so both aggregations and the final join run
    // on edge-sized data; sources ride along from the sketch dump — no
    // extra corpus scan, no new shuffle wider than the edge set.
    QueryDef("d20_dedup_pressure", { (s, d) =>
      val sk = docSketches(s, d)
      val p = docCandidates(s, d)
        .join(sk.select(col("doc_id").as("a"), col("mins").as("mins_a"),
          col("source").as("src_a")), "a")
        .join(sk.select(col("doc_id").as("b"), col("mins").as("mins_b"),
          col("source").as("src_b")), "b")
        .where(GraftFunctions.jaccard(col("mins_a"), col("mins_b"), docSketch) >= 0.5)
        .select(least(col("src_a"), col("src_b")).as("sa"),
          greatest(col("src_a"), col("src_b")).as("sb"),
          col("a"), col("b"))
      val np = p.groupBy("sa", "sb").agg(count(lit(1)).as("n_pairs"))
      val nd = p.select(col("sa"), col("sb"),
          explode(array(col("a"), col("b"))).as("docu"))
        .groupBy("sa", "sb").agg(countDistinct(col("docu")).as("n_docs"))
      np.join(nd, Seq("sa", "sb"))
        .select(col("sa"), col("sb"), col("n_pairs"), col("n_docs"))
    },
      // provenance attribution replicated over the same band + sketch
      // dumps d04 uses; sources come from the documents table itself
      s"""WITH $candSql,
         |$jacSql,
         |src AS (SELECT doc_id, source FROM documents),
         |p AS (
         |  SELECT least(x.source, y.source) AS sa,
         |    greatest(x.source, y.source) AS sb, j.a, j.b
         |  FROM jac j
         |  JOIN src x ON x.doc_id = j.a
         |  JOIN src y ON y.doc_id = j.b
         |  WHERE j.jac_est >= 0.5),
         |np AS (SELECT sa, sb, count(*)::BIGINT AS n_pairs FROM p GROUP BY sa, sb),
         |nd AS (SELECT sa, sb, count(DISTINCT docu)::BIGINT AS n_docs
         |  FROM (SELECT sa, sb, unnest([a, b]) AS docu FROM p) GROUP BY sa, sb)
         |SELECT sa, sb, n_pairs, n_docs FROM np JOIN nd USING (sa, sb)""".stripMargin),
    // CLUSTER-DILUTION AUDIT — the pre-drop check on the CLUSTERING step
    // itself, completing the audit family (d15 audits the sketch
    // estimator, e06 the ANN index, t13 the cardinality sketch; nothing
    // audited the transitive closure). Connected components over
    // pairwise-confirmed edges is known to over-merge through chains
    // (A~B~C with A≁C): before a tier drops all-but-one doc per cluster
    // it reads exactly this report — per multi-member cluster, the edge
    // density (1.0 = clique: every member pairwise-confirmed; → 2/n =
    // bare chain) and the weakest confirmed link (min edge Jaccard — how
    // thin the thread holding the cluster together is). Scale shape: the
    // confirmed edge set is duplicate-mass-sized; the label join is
    // edge-keyed (AQE broadcasts the edge side), member counts are one
    // agg over the label table, and both final groupBys key on the
    // cluster id — nothing here rivals the dedup that produced the input.
    // Note rounding cannot desync this from d06's unrounded ≥ 0.5 edge
    // filter: jac_est is k/n with n ≤ 128 (combined denominator), so
    // |k/n − 0.5| ≥ 1/256 whenever it isn't exactly 0.5 — round-to-6
    // never flips the threshold.
    QueryDef("d21_cluster_dilution", { (s, d) =>
      val labels = docClusterLabels(s, d)
      val sk = docSketches(s, d)
      val edges = docCandidates(s, d)
        .join(sk.select(col("doc_id").as("a"), col("mins").as("mins_a")), "a")
        .join(sk.select(col("doc_id").as("b"), col("mins").as("mins_b")), "b")
        .withColumn("jac_est",
          round(GraftFunctions.jaccard(col("mins_a"), col("mins_b"), docSketch), 6))
        .where(col("jac_est") >= 0.5)
        .select(col("a"), col("jac_est"))
      val mem = labels.groupBy("cluster")
        .agg(count(lit(1)).as("n_members"))
        .where(col("n_members") >= 2)
      // both edge endpoints share a cluster by construction (the closure
      // was built from this edge set) — labeling by `a` alone suffices
      val ec = edges.join(labels.withColumnRenamed("doc_id", "a"), "a")
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_edges"), min(col("jac_est")).as("min_jac"))
      mem.join(ec, "cluster")
        .select(col("cluster"), col("n_members"), col("n_edges"),
          round(col("n_edges") * lit(2.0) /
            (col("n_members") * (col("n_members") - lit(1))), 6).as("density"),
          col("min_jac"))
    },
      // the d06 recursive closure extended with the dilution statistics:
      // per-cluster member count, confirmed-edge count, edge density
      // (2E / n(n−1)) and the weakest confirmed link
      s"""WITH RECURSIVE $candSql,
         |$jacSql,
         |edges AS (SELECT a, b, jac_est FROM jac WHERE jac_est >= 0.5),
         |und AS (SELECT a AS u, b AS v FROM edges UNION SELECT b, a FROM edges),
         |reach(u, v) AS (
         |  SELECT u, v FROM und
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
         |comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster FROM reach GROUP BY u),
         |lab AS (
         |  SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
         |  FROM documents d LEFT JOIN comp c USING (doc_id)),
         |mem AS (
         |  SELECT cluster, count(*)::BIGINT AS n_members FROM lab GROUP BY cluster
         |  HAVING count(*) >= 2),
         |ec AS (
         |  SELECT la.cluster, count(*)::BIGINT AS n_edges,
         |    min(e.jac_est) AS min_jac
         |  FROM edges e JOIN lab la ON la.doc_id = e.a GROUP BY la.cluster)
         |SELECT m.cluster, m.n_members, ec.n_edges,
         |  round(ec.n_edges * 2.0 / (m.n_members * (m.n_members - 1)), 6) AS density,
         |  ec.min_jac
         |FROM mem m JOIN ec USING (cluster)""".stripMargin),
    // LEAKAGE-FREE TRAIN/VAL/TEST SPLIT — the curation step AFTER dedup
    // that per-document splitting gets wrong: a val doc whose near-twin
    // sits in train measures memorization, not generalization. The split
    // key is the CLUSTER, not the doc — every member of a near-dup
    // cluster lands in the same split by construction, so no confirmed
    // near-dup pair can straddle the train/eval boundary (the same
    // reasoning as d16's decontamination, applied to the corpus' own
    // splits). The assignment rule (cluster % 10 → 0=val, 1=test, else
    // train; cluster ids are non-negative min-doc_ids, so % matches
    // DuckDB's) is the deterministic stand-in for production
    // hash(cluster)-mod-buckets — same shape, SQL-replicable. Scale
    // shape: a per-row CASE over the d06 label table — zero new
    // shuffles, zero new scans; the oracle re-derives the ENTIRE chain
    // (closure included) independently.
    QueryDef("d22_cluster_safe_split", { (s, d) =>
      docClusterLabels(s, d)
        .withColumn("split", clusterSplitRule(col("cluster")))
    },
      // the d06 recursive closure extended with the cluster-keyed split
      // rule — the oracle re-derives closure AND assignment, so a single
      // doc splitting away from its cluster fails the hash gate
      s"""WITH RECURSIVE $candSql,
         |$jacSql,
         |edges AS (SELECT a, b FROM jac WHERE jac_est >= 0.5),
         |und AS (SELECT a AS u, b AS v FROM edges UNION SELECT b, a FROM edges),
         |reach(u, v) AS (
         |  SELECT u, v FROM und
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
         |comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster FROM reach GROUP BY u),
         |lab AS (
         |  SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
         |  FROM documents d LEFT JOIN comp c USING (doc_id))
         |SELECT doc_id, cluster,
         |  CASE WHEN cluster % 10 = 0 THEN 'val'
         |       WHEN cluster % 10 = 1 THEN 'test'
         |       ELSE 'train' END AS split
         |FROM lab""".stripMargin),
    // SPLIT STABILITY UNDER CORPUS GROWTH — the failure mode d22's rule
    // has over TIME: cluster ids are min-member doc_ids, so when the
    // corpus grows, a new doc can BRIDGE two previously-separate clusters
    // (their members inherit the smaller min → different split bucket) or
    // push an LSH bucket past the heat cap (losing a candidate edge →
    // a cluster splits). Either way a doc that was in val/test can
    // silently move to train — eval contamination across refreshes. This
    // audit re-runs the ENTIRE d06 chain (band → cap → confirm → CC →
    // split) on the first-80%% prefix of the corpus (cutoff = 4n/5 over
    // doc_id — the deterministic stand-in for "the previous snapshot")
    // and reports, per prefix doc, the cluster + split under both
    // corpora and whether the doc leaked across the boundary. Scale
    // shape: the prefix chain rides the SAME sketch/band dumps (a filter
    // on the banded table IS the banding of the prefix corpus — band
    // keys are per-doc), so the marginal cost is one more bucket shuffle
    // + confirm join + CC loop on 80% of the edge mass; nothing
    // re-sketches. The oracle re-derives BOTH recursive closures
    // independently.
    QueryDef("d23_split_stability", { (s, d) =>
      val cutoff = tableRows(s, d, "documents") * 4 / 5
      val sk = docSketches(s, d)
      val preEdges = Lsh.candidatePairsCapped(
          docBanded(s, d).where(col("id") < cutoff))
        .join(sk.select(col("doc_id").as("a"), col("mins").as("mins_a")), "a")
        .join(sk.select(col("doc_id").as("b"), col("mins").as("mins_b")), "b")
        .where(GraftFunctions.jaccard(col("mins_a"), col("mins_b"), docSketch) >= 0.5)
        .select(col("a").as("src"), col("b").as("dst"))
      val preLabels = ConnectedComponents.labelAll(
          t(s, d, "documents").select(col("doc_id").as("id"))
            .where(col("id") < cutoff), preEdges)
        .select(col("id").as("doc_id"), col("component").as("cluster_pre"))
      docClusterLabels(s, d)
        .select(col("doc_id"), col("cluster").as("cluster_full"))
        .join(preLabels, "doc_id")
        .withColumn("split_pre", clusterSplitRule(col("cluster_pre")))
        .withColumn("split_full", clusterSplitRule(col("cluster_full")))
        .withColumn("leaked", col("split_pre") =!= col("split_full"))
        .select(col("doc_id"), col("cluster_pre"), col("cluster_full"),
          col("split_pre"), col("split_full"), col("leaked"))
    },
      // BOTH closures re-derived from scratch: the full-corpus chain (the
      // d06 replica) AND the prefix chain — re-banding via a doc_id filter
      // on the band dump, re-capping bucket sizes on the FILTERED table
      // (bucket membership is corpus-dependent — the point of the audit),
      // re-confirming, re-closing transitively — then the split rule on
      // both cluster ids. A doc whose leak flag is wrong in either
      // direction fails the hash gate.
      s"""WITH RECURSIVE $candSql,
         |$jacSql,
         |edges AS (SELECT a, b FROM jac WHERE jac_est >= 0.5),
         |und AS (SELECT a AS u, b AS v FROM edges UNION SELECT b, a FROM edges),
         |reach(u, v) AS (
         |  SELECT u, v FROM und
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
         |comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster FROM reach GROUP BY u),
         |lab AS (
         |  SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
         |  FROM documents d LEFT JOIN comp c USING (doc_id)),
         |nq AS (SELECT (count(*) * 4) // 5 AS cut FROM documents),
         |bndp AS (SELECT id, bandKey FROM bnd, nq WHERE id < cut),
         |keepp AS (SELECT bandKey FROM bndp GROUP BY bandKey HAVING count(*) BETWEEN 2 AND 64),
         |candp AS (
         |  SELECT DISTINCT x.id AS a, y.id AS b
         |  FROM bndp x JOIN keepp USING (bandKey) JOIN bndp y USING (bandKey)
         |  WHERE x.id < y.id),
         |unip AS (
         |  SELECT c.a, c.b,
         |    unnest(list_distinct(list_concat(sa.mins, sb.mins))) AS m,
         |    sa.mins AS ma, sb.mins AS mb
         |  FROM candp c
         |  JOIN sk sa ON sa.doc_id = c.a
         |  JOIN sk sb ON sb.doc_id = c.b),
         |rkp AS (
         |  SELECT a, b, list_contains(ma, m) AND list_contains(mb, m) AS in_both,
         |    row_number() OVER (PARTITION BY a, b ORDER BY (m < 0), m) AS r
         |  FROM unip),
         |jacp AS (
         |  SELECT a, b,
         |    round(count(*) FILTER (WHERE in_both) * 1.0 / greatest(count(*), 1), 6) AS jac_est
         |  FROM rkp WHERE r <= 128 GROUP BY a, b),
         |edgesp AS (SELECT a, b FROM jacp WHERE jac_est >= 0.5),
         |undp AS (SELECT a AS u, b AS v FROM edgesp UNION SELECT b, a FROM edgesp),
         |reachp(u, v) AS (
         |  SELECT u, v FROM undp
         |  UNION
         |  SELECT r.u, e.v FROM reachp r JOIN undp e ON r.v = e.u),
         |compp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster FROM reachp GROUP BY u),
         |labp AS (
         |  SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
         |  FROM (SELECT doc_id FROM documents, nq WHERE doc_id < cut) d
         |  LEFT JOIN compp c USING (doc_id)),
         |paired AS (
         |  SELECT p.doc_id, p.cluster AS cluster_pre, f.cluster AS cluster_full,
         |    CASE WHEN p.cluster % 10 = 0 THEN 'val'
         |         WHEN p.cluster % 10 = 1 THEN 'test'
         |         ELSE 'train' END AS split_pre,
         |    CASE WHEN f.cluster % 10 = 0 THEN 'val'
         |         WHEN f.cluster % 10 = 1 THEN 'test'
         |         ELSE 'train' END AS split_full
         |  FROM labp p JOIN lab f USING (doc_id))
         |SELECT doc_id, cluster_pre, cluster_full, split_pre, split_full,
         |  (split_pre <> split_full) AS leaked
         |FROM paired""".stripMargin),
    QueryDef("t04_winnow_fingerprint", { (s, d) =>
      // dump the murmur shingle stream — the oracle winnows it independently
      docShingles(s, d)
      val fp = udf((text: String) =>
        Shingles.winnow(Shingles.charShingleHashes(text, 5, 42L), 8))
      // spread stays here: the winnow UDF re-hashes every 5-gram per row
      // (same murmur work as the shingle kernel), so a single-task scan
      // serializes it (measured +0.5 s without spread)
      spread(s, t(s, d, "documents"))
        .withColumn("fps", fp(col("text")))
        .select(col("doc_id"), size(col("fps")).as("n_fps"),
          // unsigned-decimal rendering of the first fingerprint
          udf((a: Seq[Long]) => if (a.isEmpty) "" else java.lang.Long.toUnsignedString(a.head))
            .apply(col("fps")).as("first_fp"))
    },
      // winnow(w=8): per window start, pick the rightmost-tie minimum (by
      // unsigned value); dedup consecutive picks by position; short streams
      // (< 8 hashes) yield their single global min. Encoded as one HUGEINT
      // key = u * 2^20 + (2^20-1-pos) so min(key) = (min u, max pos).
      s"""WITH h AS (
         |  SELECT doc_id, pos,
         |    CASE WHEN h < 0 THEN h::HUGEINT + 18446744073709551616
         |         ELSE h::HUGEINT END AS u
         |  FROM read_parquet(${oraclePath("t04_shingles")})
         |  WHERE pos IS NOT NULL),
         |k AS (SELECT doc_id, pos, u, u * 1048576 + (1048575 - pos) AS key FROM h),
         |len AS (SELECT doc_id, count(*) AS n FROM h GROUP BY doc_id),
         |win AS (
         |  SELECT doc_id, pos,
         |    min(key) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mkey,
         |    count(*) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wn
         |  FROM k),
         |picks AS (
         |  SELECT doc_id, pos, 1048575 - (mkey % 1048576) AS pick_pos,
         |    mkey // 1048576 AS pick_u,
         |    lag(1048575 - (mkey % 1048576)) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_pos
         |  FROM win WHERE wn = 8),
         |dedup AS (
         |  SELECT doc_id, pos, pick_pos, pick_u FROM picks
         |  WHERE prev_pos IS NULL OR pick_pos <> prev_pos),
         |long_docs AS (
         |  SELECT dedup.doc_id, count(*) AS n_fps,
         |    arg_min(pick_u, pos)::VARCHAR AS first_fp
         |  FROM dedup JOIN len USING (doc_id)
         |  WHERE len.n > 8 GROUP BY dedup.doc_id),
         |short_docs AS (
         |  SELECT h.doc_id, 1 AS n_fps, min(u)::VARCHAR AS first_fp
         |  FROM h JOIN len USING (doc_id) WHERE len.n <= 8 GROUP BY h.doc_id),
         |fp AS (SELECT * FROM long_docs UNION ALL SELECT * FROM short_docs)
         |SELECT d.doc_id, coalesce(fp.n_fps, 0) AS n_fps,
         |  coalesce(fp.first_fp, '') AS first_fp
         |FROM documents d LEFT JOIN fp USING (doc_id)""".stripMargin),
    // the suffix-array kernel as an oracle-gated query: exact longest
    // common substring over the LSH candidate pairs. 120-char prefixes
    // keep the oracle's substring-set replication quadratic in 120, not
    // in document length; the pair set is the d03 dump (itself
    // oracle-verified)
    QueryDef("t05_substring_pairs", { (s, d) =>
      // docCandidates is itself a dumpDerived("doc_candidates") — the
      // oracle reads that dump directly; no second byte-identical copy
      val pairs = docCandidates(s, d)
      val docs = t(s, d, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 120).as("tp"))
      pairs
        .join(docs.select(col("doc_id").as("a"), col("tp").as("ta")), "a")
        .join(docs.select(col("doc_id").as("b"), col("tp").as("tb")), "b")
        .select(col("a"), col("b"),
          GraftFunctions.captionLcs(col("ta"), col("tb")).cast("long").as("lcs_len"))
        .withColumn("substr_hit", col("lcs_len") >= 20)
    },
      // exact LCS re-derived independently: a common substring of length L
      // exists iff the DISTINCT substring sets of the two prefixes
      // intersect at length L — max(length) over the set intersection IS
      // the longest common substring. The engine's suffix array is never
      // consulted.
      s"""WITH cand AS (SELECT a, b FROM read_parquet(${oraclePath("doc_candidates")})),
        |docs AS (SELECT doc_id, substring(text, 1, 120) AS tp FROM documents),
        |pa AS (SELECT c.a, c.b, da.tp AS ta, db.tp AS tb
        |       FROM cand c JOIN docs da ON da.doc_id = c.a
        |       JOIN docs db ON db.doc_id = c.b),
        |ia AS (SELECT a, b, ta, unnest(range(1, length(ta)+1))::INT AS i FROM pa),
        |sa AS (SELECT DISTINCT a, b, substring(ta, i, l) AS s
        |       FROM (SELECT a, b, ta, i,
        |             unnest(range(1, length(ta)-i+2))::INT AS l FROM ia)),
        |ib AS (SELECT a, b, tb, unnest(range(1, length(tb)+1))::INT AS i FROM pa),
        |sb AS (SELECT DISTINCT a, b, substring(tb, i, l) AS s
        |       FROM (SELECT a, b, tb, i,
        |             unnest(range(1, length(tb)-i+2))::INT AS l FROM ib)),
        |shared AS (SELECT sa.a, sa.b, max(length(sa.s)) AS lcs
        |           FROM sa JOIN sb ON sa.a = sb.a AND sa.b = sb.b AND sa.s = sb.s
        |           GROUP BY 1, 2)
        |SELECT c.a, c.b, COALESCE(sh.lcs, 0) AS lcs_len,
        |       COALESCE(sh.lcs, 0) >= 20 AS substr_hit
        |FROM cand c LEFT JOIN shared sh ON sh.a = c.a AND sh.b = c.b""".stripMargin))
}
