package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/**
 * Checkpoint + lineage table (north_rule: "every stage writes
 * per-partition lineage and metrics to an Iceberg checkpoint table so a
 * killed job resumes partition-exact").
 *
 * Local seam for the Iceberg-shaped table (SURVEY.md §7: no Iceberg jars
 * in this environment): a partitioned parquet layout
 *
 *   <root>/stages/<stage>/          — the stage's output rows
 *   <root>/lineage/                 — append-only metrics rows
 *
 * `stage(name, fingerprint)(df)`:
 *  - if `<root>/stages/<name>` exists with a matching input fingerprint
 *    (stored in `_meta.json`), the stage is SKIPPED and its output is read
 *    back — partition-exact resume;
 *  - otherwise the DataFrame is computed, written, and a lineage row
 *    `(stage, fingerprint, rows_out, n_partitions, wall_ms, ts)` is
 *    appended.
 *
 * On a real cluster the same calls target Iceberg tables
 * (`spark.table` / `writeTo(...).append`) — the control flow is identical.
 */
final class Lineage(spark: SparkSession, root: String) {

  private def metaPath(name: String) = s"$root/stages/$name/_meta.json"
  private def dataPath(name: String) = s"$root/stages/$name/data"

  private def readMeta(name: String): Option[String] = {
    val p = java.nio.file.Paths.get(metaPath(name))
    if (java.nio.file.Files.exists(p)) Some(java.nio.file.Files.readString(p).trim)
    else None
  }

  /** Run (or resume) a stage keyed by an input fingerprint. */
  def stage(name: String, fingerprint: String)(df: => DataFrame): DataFrame = {
    readMeta(name) match {
      case Some(fp) if fp == fingerprint =>
        spark.read.parquet(dataPath(name)) // resume: skip recompute
      case _ =>
        val t0 = System.nanoTime()
        // invalidate the stale fingerprint BEFORE the data directory is
        // touched: a crash mid-overwrite must leave a stage that
        // RECOMPUTES on resume, never one whose old meta vouches for
        // another fingerprint's partial data
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(metaPath(name)))
        val out = df
        // write-metrics: the row count is observed INSIDE the write pass
        // (Observation piggybacks an aggregate on the write job — no
        // second scan of the written data; the former count() here cost
        // one extra pass per stage). Caveat shared with all
        // accumulator-style metrics: task RETRIES can over-count, so on
        // a speculative/flaky cluster treat rows_out as a lineage metric
        // and derive exact counts from the committed files when needed.
        val obs = org.apache.spark.sql.Observation()
        out.observe(obs, count(lit(1)).as("rows_out"))
          .write.mode("overwrite").parquet(dataPath(name))
        val rows = obs.get("rows_out").asInstanceOf[Long]
        val wallMs = (System.nanoTime() - t0) / 1000000
        val written = spark.read.parquet(dataPath(name))
        // footer-only: partition count comes from the file listing
        val nParts = written.rdd.getNumPartitions
        appendLineage(name, fingerprint, rows, nParts, wallMs)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(metaPath(name)), fingerprint)
        written
    }
  }

  private def appendLineage(stage: String, fp: String, rows: Long,
      nParts: Int, wallMs: Long): Unit = {
    import spark.implicits._
    Seq((stage, fp, rows, nParts, wallMs, java.time.Instant.now().toString))
      .toDF("stage", "fingerprint", "rows_out", "n_partitions", "wall_ms", "ts")
      .write.mode("append").parquet(s"$root/lineage")
  }

  def lineage(): DataFrame = spark.read.parquet(s"$root/lineage")
}

object Lineage {

  /** Deterministic fingerprint of a stage's inputs: config rendering +
    * upstream fingerprints. Each part is length-prefixed so distinct
    * part LISTS cannot collide by concatenation (("ab","c") vs ("a","bc")). */
  def fingerprint(parts: String*): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    parts.foreach { p =>
      val b = p.getBytes("UTF-8")
      md.update(s"${b.length}:".getBytes("UTF-8"))
      md.update(b)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /**
   * The flagship pipeline with checkpointed stages: sketch → candidates →
   * edges → clusters, each resumable. A killed run re-invoked with the
   * same corpus fingerprint reuses every completed stage. Runs in
   * [[DedupPipeline]]'s session (static broadcast off) and clusters with
   * its [[DedupPipeline.clustersFromEdges]], like the uncheckpointed
   * pipeline; `spark` itself is left untouched.
   */
  def checkpointedClusters(spark: SparkSession, corpus: DataFrame,
      cfg: DedupConfig, root: String, corpusFingerprint: String): DataFrame = {
    val ps = DedupPipeline.pipelineSession(spark)
    val lin = new Lineage(ps, root)
    val cfgFp = fingerprint(cfg.toString)

    val sk = lin.stage("sketches", fingerprint(corpusFingerprint, cfgFp)) {
      DedupPipeline.sketches(Bridge.rebind(ps, corpus), cfg)
    }
    val skFp = fingerprint(corpusFingerprint, cfgFp, "sketches")

    val tagged = lin.stage("exact_tagged", skFp) {
      DedupPipeline.exactDedupWindowed(sk)
    }
    val exactEdges = lin.stage("exact_edges", skFp) {
      tagged.where(col("image_id") =!= col("rep"))
        .select(col("vid").as("src"), xxhash64(col("rep")).as("dst"))
    }
    val skReps = tagged.where(col("image_id") === col("rep"))

    val cands = lin.stage("candidates", fingerprint(skFp, "cands")) {
      DedupPipeline.candidates(skReps, cfg)
    }
    val nearEdges = lin.stage("near_edges", fingerprint(skFp, "confirm")) {
      DedupPipeline.confirm(cands, skReps, cfg)
        .select(col("a").as("src"), col("b").as("dst"))
    }
    lin.stage("clusters", fingerprint(skFp, "clusters")) {
      DedupPipeline.clustersFromEdges(tagged.select(col("image_id"), col("vid")),
        exactEdges.union(nearEdges), cfg.ccMaxIter)
    }
  }
}
