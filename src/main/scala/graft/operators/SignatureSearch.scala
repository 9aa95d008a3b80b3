package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import graft.core.SketchConfig
import graft.functions.GraftFunctions

/**
 * Linear-index search — the Spark re-expression of `LinearIndex::find`
 * (`/root/reference/src/index/linear.rs:25-45`): the query sketch is
 * a plan literal (a few KB) and every DB row is scored with the
 * reference predicates by the codegen'd `GraftFunctions` kernels, a
 * narrow filter over the sketch table:
 *
 *  - similarity (`search_minhashes`, `/root/reference/src/index/search.rs:3-5`):
 *    `node.similarity(query) > threshold` — strict `>`, combined-denominator
 *    Jaccard (`compare`, `/root/reference/src/lib.rs:501-508`);
 *  - containment (`search_minhashes_containment`, `search.rs:7-9`):
 *    `count_common(node, query) / |node.mins| > threshold` — the NODE's
 *    size in the denominator (`/root/reference/src/index.rs:146-160`).
 *
 * The SBT variant (Q4) needs no tree here: at corpus scale the pruning
 * role is played by LSH banding (SURVEY.md §2.4); for explicit searches a
 * broadcast filter is already a single narrow pass.
 */
object SignatureSearch {

  /** A db row with a NULL mins column is a malformed sketch the loaders
    * reject (FAILFAST) — if one reaches a score kernel anyway, fail with
    * a diagnosis instead of scoring it null. */
  private def requireMins(score: Column): Column =
    when(col("mins").isNull, raise_error(lit(
      "sketch row with null mins reached the score kernel (malformed signature input)")))
      .otherwise(score)

  def linear(db: DataFrame, queryMins: Array[Long], cfg: SketchConfig,
      threshold: Double, mode: String,
      queryAbunds: Array[Long] = null): DataFrame = {
    val q = typedlit(queryMins)
    val score = mode match {
      case "similarity" => GraftFunctions.jaccard(col("mins"), q, cfg)
      case "containment" => GraftFunctions.containment(col("mins"), q)
      case "abundance" =>
        // published-sourmash `similarity(ignore_abundance=False)` =
        // angular similarity (1 − 2·acos(ρ)/π, published sourmash
        // semantics) over hash→abundance vectors. The
        // reference CLI parses `--ignore-abundance`
        // (`src/sourmash.yml:64-69`) but its compare kernel never reads
        // abundances — this mode completes the flag's advertised
        // semantics. A sketch without stored abundances scores as
        // flat counts of 1 (the sketch IS its support set then).
        val qa = if (queryAbunds != null) queryAbunds
          else Array.fill(queryMins.length)(1L)
        require(qa.length == queryMins.length, "queryAbunds/queryMins length mismatch")
        // The MinHash/finch surface names the multiplicity column `abunds`
        // (the reference's field name, src/lib.rs:45); some signature
        // frames carry `abundances`. Resolve whichever is present; a
        // sketch table with neither scores with flat counts of 1.
        val abundCol =
          if (db.columns.contains("abunds")) col("abunds")
          else if (db.columns.contains("abundances")) col("abundances")
          else lit(null).cast("array<long>")
        GraftFunctions.angularSimilarity(col("mins"),
          coalesce(abundCol, array_repeat(lit(1L), size(col("mins")))), q, typedlit(qa))
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    db.withColumn("score", requireMins(score))
      .where(col("score") > threshold) // strict >, per the reference
  }

  /**
   * Persisted inverted hash index over a signature corpus — the
   * Spark-native stand-in for a saved SBT (`SBT::save/load`,
   * `/root/reference/src/index/sbt.rs:177-185` stubs): one posting row
   * per (min hash, signature). At web scale this is a partitioned table
   * the search side prunes by hash; locally it is a parquet table.
   */
  def buildIndex(db: DataFrame, path: String): Unit =
    db.select(col("filename"), explode(col("mins")).as("h"))
      .write.mode("overwrite").parquet(path)

  /** The postings schema [[buildIndex]] writes for `db`: [[indexed]] reads
    * the index with it, so no search pays a schema-inference job. */
  private def indexSchema(db: DataFrame): StructType =
    new StructType().add(db.schema("filename")).add("h", LongType)

  /**
   * Index-backed search (`SBT::find` re-expressed,
   * `/root/reference/src/index/sbt.rs:147-175`): both reference
   * predicates are positive only when the sketches share ≥ 1 hash, so
   * the posting-list pre-filter is EXACT — no false negatives, the
   * deterministic counterpart of the Bloom overestimate's no-false-prune
   * guarantee (`sbt.rs:249-251`). The postings are filtered by the
   * query's hash list (≤ num entries, an `isin` literal), and their
   * filenames broadcast into one semi-join, so only candidate signatures
   * are scored with the exact kernel. Results are identical to [[linear]]
   * for any threshold > 0.
   */
  def indexed(db: DataFrame, indexPath: String, queryMins: Array[Long],
      cfg: SketchConfig, threshold: Double, mode: String,
      queryAbunds: Array[Long] = null): DataFrame = {
    require(threshold > 0.0,
      "indexed search requires a positive threshold (zero-overlap rows score 0)")
    val cands = db.sparkSession.read.schema(indexSchema(db)).parquet(indexPath)
      .where(col("h").isin(queryMins.toSeq: _*))
      .select(col("filename"))
    linear(db.join(broadcast(cands), Seq("filename"), "left_semi"),
      queryMins, cfg, threshold, mode, queryAbunds)
  }

  /**
   * Search-report shaping — the reference CLI's result surface
   * (`/root/reference/src/main.rs:210-259`, `src/sourmash.yml:35-58`):
   * matches ordered by score descending, `--num-results` rows, or ONE
   * row under `--best-only` (main.rs:222 collapses num_results to 1);
   * columns (similarity, name, filename, md5) per the upstream CSV
   * fieldnames (main.rs:252). Ties break on (filename, md5sum): one
   * .sig file yields several sketch ROWS sharing a filename, so
   * filename alone is not a total order and a limit cut over it would
   * be nondeterministic across executions.
   */
  def report(results: DataFrame, numResults: Int = 3,
      bestOnly: Boolean = false): DataFrame = {
    val ordered = results
      .orderBy(col("score").desc, col("filename"), col("md5sum"))
    // `-n 0` = show ALL matches (main.rs:227-231 sets n_matches to
    // results.len() when num_results == 0), not zero rows
    val limited =
      if (bestOnly) ordered.limit(1)
      else if (numResults > 0) ordered.limit(numResults)
      else ordered
    limited.select(col("score").as("similarity"), col("name"),
      col("filename"), col("md5sum").as("md5"))
  }

  /** `-o` CSV sink for [[report]] (header row, one file — reports are
    * tiny by construction; the corpus-scale outputs stay parquet). */
  def writeCsv(reportDf: DataFrame, path: String): Unit =
    reportDf.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(path)

  /** `--save-matches` (`/root/reference/src/sourmash.yml:41-45`,
    * `main.rs:261-265`: save the matched signatures themselves): the
    * scored rows from [[linear]]/[[indexed]] carry the full signature
    * columns, so dropping the score yields writable signature rows. */
  def saveMatches(results: DataFrame, dir: String): Unit =
    graft.sources.SignatureJson.write(results.drop("score"), dir)
}
