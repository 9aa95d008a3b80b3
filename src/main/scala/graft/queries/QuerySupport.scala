package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge

/** Helpers every query family shares: table reads, scan widening, the
  * derived-table dump cache and its oracle-side paths, and scoped session
  * conf. There is one `dumpedPaths` cache, so a dump written by one family
  * is reused by every other family in the same JVM. */
object QuerySupport {

  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Widen a small scan to the session's parallelism before heavy per-row
    * derivation (gram explode + hash, sketching, pairwise kernels). The
    * input tables are single one-row-group parquet files, so every scan
    * arrives as ONE task no matter the split conf (unsplittable input →
    * repartition right after the read) and the
    * expensive kernel downstream runs near-serial on a 32-core session.
    * Rebalancing costs one exchange of the raw rows — a few hundred KB,
    * orders of magnitude below the kernel work it parallelizes.
    * Scale-adaptive: sized off the optimizer's size estimate — above
    * ~8 MB/core the scan splits naturally into ≥ cores tasks and the
    * input is returned unchanged, so no extra exchange appears at
    * production scale. Value-neutral: every consumer is an aggregation /
    * join / keyed window, none order- or partition-sensitive. */
  private[queries] def spread(s: SparkSession, df: DataFrame): DataFrame = {
    val par = s.sparkContext.defaultParallelism
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est < BigInt(par.toLong * (8L << 20))) df.repartition(par) else df
  }

  /** Cached table row count — the local stand-in for catalog statistics.
    * ANN queries size key widths / cell counts from the row count; a
    * count-per-invocation is an extra job each call, so the first count
    * per (dir, table) is memoized for the JVM's lifetime. Sound here
    * because the input tables are immutable
    * inputs; a catalog-backed deployment reads the same number from table
    * statistics (ANALYZE/auto-stats) instead. */
  private val rowCountCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private[queries] def tableRows(s: SparkSession, dir: String, name: String): Long =
    rowCountCache.computeIfAbsent(s"$dir/$name", _ => t(s, dir, name).count())

  // ---------------------------------------------------------------- derived tables
  //
  // Sketch-family queries are not directly SQL-expressible (murmur3-based
  // kernels), but their CONFIRM/GROUP/CLUSTER logic is. Each query dumps
  // its kernel-derived intermediate (sketches, band keys, edges) to a
  // fixed parquet path; the query reads the dump back (a persisted
  // intermediate — the sketch UDF runs once, not once per consumer) and
  // the DuckDB oracle replicates everything downstream of the kernel from
  // the same file via read_parquet. Oracle SQL hardcodes the sf0.01 path —
  // the scale the oracle correctness gate runs at.

  private val derivedRoot = "/tmp/graft_derived"
  private[queries] def derivedDir(d: String): String =
    s"$derivedRoot/${new java.io.File(d).getName}"

  /** Dumped path → the `files` bound it was written with (0 = none). */
  private[queries] val dumpedPaths = scala.collection.concurrent.TrieMap.empty[String, Int]

  /** Write `df` once per (sfDir, name) per JVM; read the parquet back
    * through `s`. `df` executes under its own session's conf, so a body
    * built on a [[withConf]] child writes under the scoped value while
    * the read-back (and everything downstream of it) runs under `s`'s.
    * Every call for one path must pass the same `files`: the cache is
    * keyed by path, and a second bound would be silently ignored.
    * `files > 0` bounds the dump's part-file count via a write-side
    * repartition AFTER the (possibly spread-widened) kernel computes:
    * a small dump with many re-reading consumers (the sketch/band index
    * tables — d12 alone scans them five times) otherwise pays per-file
    * open + task-scheduling overhead on every probe once the kernel
    * write goes 32-wide (small files hurt twice). The
    * bounding exchange moves only the dump's own bytes (≤ ~1 MB for the
    * index tables here); a production deployment sizes dump files to
    * 128 MB-1 GB with the same knob. */
  private[queries] def dumpDerived(s: SparkSession, d: String, name: String,
      files: Int = 0)(df: => DataFrame): DataFrame = {
    val path = s"${derivedDir(d)}/$name.parquet"
    val written = dumpedPaths.getOrElseUpdate(path, {
      val out = df
      (if (files > 0) out.repartition(files) else out)
        .write.mode("overwrite").parquet(path)
      files
    })
    require(written == files,
      s"dump $path was written with files = $written, requested again with files = $files")
    s.read.parquet(path)
  }

  /** Oracle-side path for a derived table (the oracle gate runs at sf0.01);
    * Spark writes a directory of part files — glob them. */
  private[queries] def oraclePath(name: String): String =
    s"'$derivedRoot/sf0.01/$name.parquet/*.parquet'"

  /** `body` built on a child of `s` with `key` set to `value`
    * (Bridge.scoped): a plan built on the child runs under `value`
    * whenever it executes, and `s`'s conf never changes. */
  private[queries] def withConf[T](s: SparkSession, key: String, value: String)(
      body: SparkSession => T): T =
    body(Bridge.scoped(s, key -> value))

  /** Corpus size for multimodal queries, scaled off the sf dir name. */
  def corpusRows(dir: String): Long =
    if (dir.contains("sf0.1")) 20000L
    else if (dir.contains("sf0.01")) 5000L
    else 1000L
}
