package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._

/** One traced call: `layer.call`, wall interval (ns on the benchmark's
  * clock), the enclosing span and the operation it belongs to. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long, counts: Map[String, Double]) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/**
 * Spans recorded around calls into the library's layers, from the
 * benchmark's side only. Kept in memory; [[Report]] writes them out when
 * the run ends. When disabled, `span` is a plain call.
 */
final class Tracer(val enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var open: List[(Int, Long)] = Nil
  private var pending = Map.empty[String, Double]
  private var nextId = 1
  /** Id of the traced operation running (> 0); 0 outside the operation
    * loop; [[Untraced]] during a plain operation, when nothing is recorded. */
  var op = 0

  def spans: Seq[Span] = done.toSeq

  private def recording: Boolean = enabled && op != Tracer.Untraced

  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val id = nextId; nextId += 1
      open ::= ((id, Clock.now()))
      val saved = pending
      pending = Map.empty
      try body
      finally {
        val t0 = open.head._2
        open = open.tail
        done += Span(id, open.headOption.map(_._1).getOrElse(0), op, name, t0, Clock.now(), pending)
        pending = saved
      }
    }

  /** Attach a count to the innermost open span. */
  def count(key: String, v: Double): Unit = if (recording) pending += key -> v

  /** Add an already-timed child span (Spark jobs, placed after the fact). */
  def add(parent: Int, op: Int, name: String, t0: Long, t1: Long, counts: Map[String, Double]): Unit = {
    done += Span(nextId, parent, op, name, t0, t1, counts)
    nextId += 1
  }
}

object Tracer {
  val Untraced: Int = -1
}

/** Nanoseconds since run start; listener event times (epoch ms) map onto it. */
object Clock {
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def now(): Long = System.nanoTime() - nano0
  def fromEpochMs(ms: Long): Long = (ms - epochMs0) * 1000000L
}

/**
 * The Spark stage layer beneath the library: job intervals and per-task
 * metrics, collected by a listener the benchmark attaches. Tasks and jobs
 * are attributed to an operation by time window.
 */
final class StageListener extends SparkListener {
  final case class Task(endNs: Long, runMs: Long, stage: Int, shuffleWrite: Long, spill: Long)
  final case class Job(id: Int, startNs: Long, endNs: Long)

  private val tasks = ArrayBuffer.empty[Task]
  private val jobs = ArrayBuffer.empty[Job]
  private val starts = scala.collection.mutable.Map.empty[Int, Long]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      tasks += Task(Clock.fromEpochMs(e.taskInfo.finishTime), m.executorRunTime, e.stageId,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled + m.memoryBytesSpilled)
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    starts(e.jobId) = Clock.fromEpochMs(e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).foreach(s => jobs += Job(e.jobId, s, Clock.fromEpochMs(e.time)))
  }

  def jobsIn(t0: Long, t1: Long): Seq[Job] = synchronized {
    jobs.filter(j => j.startNs >= t0 - 2000000L && j.endNs <= t1 + 2000000L).sortBy(_.startNs).toSeq
  }
  def tasksIn(t0: Long, t1: Long): Seq[Task] = synchronized {
    tasks.filter(t => t.endNs >= t0 - 2000000L && t.endNs <= t1 + 2000000L).toSeq
  }
}

/** Stage-layer figures of one operation window. */
final case class StageStats(taskS: Double, tasks: Int, busyPct: Double, gapS: Double, jobs: Int,
    skew: Double, shuffleMb: Double, spillMb: Double, gcS: Double)

object StageStats {
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }

  /** `gapS` is the part of the window with no Spark job running (driver-side
    * planning and scheduling); `skew` is max ÷ median task time of the stage
    * with the most task time. */
  def of(l: StageListener, t0: Long, t1: Long, cores: Int, gcMsDelta: Long): StageStats = {
    val ts = l.tasksIn(t0, t1)
    val js = l.jobsIn(t0, t1)
    val covered = Report.coveredNs(js.map(j => (j.startNs, j.endNs)), t0, t1)
    val wallS = (t1 - t0) / 1e9
    val taskS = ts.map(_.runMs).sum / 1e3
    val heaviest = ts.groupBy(_.stage).values.toSeq.sortBy(g => -g.map(_.runMs).sum).headOption
    val skew = heaviest.map { g =>
      val d = g.map(_.runMs.toDouble).sorted
      d.last / math.max(1.0, d(d.length / 2))
    }.getOrElse(1.0)
    StageStats(taskS, ts.size, 100.0 * taskS / (cores * wallS), ((t1 - t0) - covered) / 1e9,
      js.size, skew, ts.map(_.shuffleWrite).sum / 1048576.0, ts.map(_.spill).sum / 1048576.0,
      gcMsDelta / 1e3)
  }
}
