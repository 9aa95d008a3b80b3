package graftbench

import java.nio.file.{Files, Path}

/** Stage spans, self times, the layer summary and the JSON the run emits. */
object Report {

  /** Place the Spark jobs of window [t0, t1] as `stage.job` spans under the
    * innermost span that encloses each (listener times have ms resolution). */
  def placeJobs(ctx: Ctx, t0: Long, t1: Long): Unit = {
    val tol = 1000000L
    val open = ctx.tracer.spans.filter(s => s.layer != "stage" && s.endNs >= t0 && s.startNs <= t1)
    for (j <- ctx.listener.jobsIn(t0, t1)) {
      val encl = open.filter(s => s.startNs - tol <= j.startNs && j.endNs <= s.endNs + tol)
      if (encl.nonEmpty) {
        val p = encl.minBy(_.durNs)
        val ts = ctx.listener.tasksIn(j.startNs, j.endNs)
        ctx.tracer.add(p.id, p.op, "stage.job", math.max(j.startNs, p.startNs),
          math.min(j.endNs, p.endNs), Map("job" -> j.id.toDouble, "tasks" -> ts.size.toDouble))
      }
    }
  }

  /** Length of the union of `intervals` inside [t0, t1]. */
  def coveredNs(intervals: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    var covered = 0L
    var reach = t0
    for ((a, b) <- intervals.sortBy(_._1)) {
      val from = math.max(a, reach)
      val to = math.min(b, t1)
      if (to > from) covered += to - from
      reach = math.max(reach, to)
    }
    covered
  }

  /** A span's duration minus the part of it its child spans cover. */
  def selfNs(s: Span, all: Seq[Span]): Long =
    s.durNs - coveredNs(all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)), s.startNs, s.endNs)

  /** Stage figures of the untraced operations (medians), self time per
    * layer, and the tracing overhead. */
  def layerMetrics(ctx: Ctx, ops: Seq[OpSample]): Seq[(String, Double, String)] = {
    val plain = ops.filterNot(_.traced)
    val traced = ops.filter(_.traced)
    def m(f: StageStats => Double) = Main.median(plain.map(o => f(o.stage)))
    val all = ctx.tracer.spans
    val perOp = all.filter(_.op > 0).groupBy(_.op).values.toSeq
    def opSelf(layer: String): Double =
      if (perOp.isEmpty) 0.0
      else Main.median(perOp.map(ss => ss.filter(_.layer == layer).map(selfNs(_, all)).sum / 1e9))
    def probeSelf(layer: String): Double =
      all.filter(s => s.op == 0 && s.layer == layer).map(selfNs(_, all)).sum / 1e9
    val wallPlain = Main.median(plain.map(_.wallNs.toDouble))
    val wallTraced = Main.median(traced.map(_.wallNs.toDouble))
    Seq(
      ("stage.task_s", m(_.taskS), "s"),
      ("stage.tasks", m(_.tasks.toDouble), "count"),
      ("stage.busy_pct", m(_.busyPct), "%"),
      ("stage.inter_job_gap_s", m(_.gapS), "s"),
      ("stage.jobs", m(_.jobs.toDouble), "count"),
      ("stage.skew_max_over_median", m(_.skew), "ratio"),
      ("stage.shuffle_write_mb", m(_.shuffleMb), "MB"),
      ("stage.spill_mb", m(_.spillMb), "MB"),
      ("stage.gc_s", m(_.gcS), "s"),
      ("self.sources_s", probeSelf("sources"), "s"),
      ("self.core_s", probeSelf("core"), "s"),
      ("self.functions_s", probeSelf("functions"), "s"),
      ("self.operators_s", opSelf("operators"), "s"),
      ("self.stage_s", opSelf("stage"), "s"),
      ("trace.overhead_pct", 100.0 * (wallTraced / wallPlain - 1.0), "%"))
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (k, v, u) => s"""${str(k)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }
        .mkString(", ") + "}}"

  /** Everything a later reader needs to re-derive the figures: every
    * operation sample, the load average around the loop, and all spans. */
  def writeArtifact(path: Path, workload: String, seed: Long, traced: Boolean, setupS: Double,
      loadBefore: String, loadAfter: String, ops: Seq[OpSample], metrics: Seq[(String, Double, String)],
      facts: Seq[(String, String)], spans: Seq[Span]): Unit = {
    val sb = new StringBuilder
    sb ++= s"""{"workload": ${str(workload)}, "seed": $seed, "trace": $traced, "setup_s": ${num(setupS)},\n"""
    sb ++= s""" "loadavg_before": ${str(loadBefore)}, "loadavg_after": ${str(loadAfter)},\n"""
    sb ++= " \"facts\": {" + facts.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString(", ") + "},\n"
    sb ++= " \"metrics\": {" + metrics.map { case (k, v, _) => s"${str(k)}: ${num(v)}" }.mkString(", ") + "},\n"
    sb ++= " \"ops\": [\n" + ops.map { o =>
      val s = o.stage
      s"""  {"wall_ms": ${num(o.wallNs / 1e6)}, "rows": ${o.rows}, "ok": ${o.ok}, "traced": ${o.traced}, """ +
        s""""task_s": ${num(s.taskS)}, "tasks": ${s.tasks}, "jobs": ${s.jobs}, "gap_s": ${num(s.gapS)}, """ +
        s""""gc_s": ${num(s.gcS)}, "check": ${str(o.note)}}"""
    }.mkString(",\n") + "\n ],\n"
    sb ++= " \"spans\": [\n" + spans.map { s =>
      s"""  {"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": ${str(s.name)}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "counts": {""" +
        s.counts.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ") + "}}"
    }.mkString(",\n") + "\n ]}\n"
    Files.writeString(path, sb.toString)
  }
}
