package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val seed: Long, val tracer: Tracer,
    val listener: StageListener, val work: Path) {
  val cores: Int = Main.Cores
}

/** One timed operation: wall, rows it handled, whether its check passed,
  * and stage-layer figures of its window. */
final case class OpSample(wallNs: Long, rows: Long, ok: Boolean, traced: Boolean,
    stage: StageStats, note: String)

/** A workload: set-up outside the clock, then operations until time is up. */
trait Workload {
  /** Inputs generated and written; returns the set-up seconds beyond
    * session start (medians of repeated steps plus the warm-up). */
  def setup(ctx: Ctx): Double
  def op(ctx: Ctx, i: Int, traced: Boolean): OpSample
  /** End-to-end metrics besides setup_s and peak_rss_mb. */
  def endToEnd(ops: Seq[OpSample]): Seq[(String, Double, String)]
  /** Per-layer probes and counts of a traced run. */
  def perLayer(ctx: Ctx, ops: Seq[OpSample]): Seq[(String, Double, String)]
  def facts: Seq[(String, String)] = Nil
}

object Main {
  val Cores = 4
  val ShufflePartitions = 16
  /** Plain operations a run measures at least, whatever `--seconds` says:
    * a dedup pass takes seconds, and a median needs several. A traced run
    * needs fewer (its plain operations only anchor the tracing overhead)
    * and must leave time for the layer probes. */
  val MinOps = 4
  val MinOpsTraced = 2

  def session(work: Path): SparkSession = {
    val local = work.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "33554432")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def timeNs[T](body: => T): (Long, T) = {
    val t0 = System.nanoTime()
    val r = body
    (System.nanoTime() - t0, r)
  }

  def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim catch { case _: Throwable => "" }

  /** (steal, total) jiffies of all CPUs: the hypervisor's share of the
    * time, recorded so a contended window shows in the artifact. */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (f(7), f.take(8).sum)
    } catch { case _: Throwable => (0L, 0L) }

  def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => Double.NaN }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
    finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val runs = Paths.get(opts("runs")).toAbsolutePath
    val wl: Workload = name match {
      case "dedup_5pct" => new DedupWorkload(chains = false)
      case "dedup_chains" => new DedupWorkload(chains = true)
      case "sig_search" => new SearchWorkload
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Files.createDirectories(work)
    Files.createDirectories(runs)
    val loadBefore = loadavg()

    val (sessionNs, spark) = timeNs(session(work))
    val listener = new StageListener
    spark.sparkContext.addSparkListener(listener)
    val ctx = new Ctx(spark, seed, new Tracer(traced), listener, work)
    val setupS = sessionNs / 1e9 + wl.setup(ctx)

    // closed loop: the next operation starts when the previous one ends.
    // A traced run alternates pairs of plain and traced operations (pairs,
    // because sig_search alternates its query mode) so the tracing overhead
    // is measured in the same window.
    val ops = ArrayBuffer.empty[OpSample]
    val jiffies0 = cpuJiffies()
    val deadline = System.nanoTime() + seconds * 1000000000L
    var i = 0
    val minPlain = if (traced) MinOpsTraced else MinOps
    while (System.nanoTime() < deadline || ops.count(!_.traced) < minPlain ||
        (traced && ops.count(_.traced) < 1)) {
      val asTraced = traced && i / 2 % 2 == 1
      ctx.tracer.op = if (asTraced) i + 1 else Tracer.Untraced
      ops += (try wl.op(ctx, i, asTraced) catch {
        case e: Exception => OpSample(0L, 0L, ok = false, asTraced,
          StageStats(0, 0, 0, 0, 0, 1, 0, 0, 0), s"error: $e")
      })
      i += 1
    }
    ctx.tracer.op = 0
    val loadAfter = loadavg()
    val jiffies1 = cpuJiffies()
    val stealPct = 100.0 * (jiffies1._1 - jiffies0._1) / math.max(1L, jiffies1._2 - jiffies0._2)
    // failed operations count in `failed`, not in the timings
    val plain = ops.filter(o => !o.traced && o.ok).toSeq

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(("setup_s", setupS, "s"), ("peak_rss_mb", peakRssMb(), "MB")) ++ wl.endToEnd(plain)
      else wl.perLayer(ctx, ops.toSeq) ++ Report.layerMetrics(ctx, ops.toSeq)
    val failed = ops.count(!_.ok)
    Report.writeArtifact(runs.resolve(s"$name-seed$seed-trace${if (traced) 1 else 0}.json"),
      name, seed, traced, setupS, loadBefore, loadAfter, ops.toSeq, metrics,
      Seq("session_s" -> (sessionNs / 1e9).toString, "cpu_steal_pct" -> stealPct.toString) ++ wl.facts,
      ctx.tracer.spans)
    spark.stop()
    val json = Report.result(failed == 0, ops.size, failed, metrics)
    Files.writeString(work.resolve("result.json"), json + "\n")
  }
}
