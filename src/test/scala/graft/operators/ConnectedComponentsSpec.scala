package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite

/** The two paths of [[ConnectedComponents.run]], reached directly:
  * `CcLoop` is the distributed large-star/small-star loop, `CcDriver` the
  * collect + union-find, both over the canonical edges run starts from. */
object CcLoop {
  def apply(edges: DataFrame, maxIter: Int = 25, edgesPerPartition: Long = 2000000L): DataFrame = {
    val (start, n) = ConnectedComponents.canonical(edges)
    ConnectedComponents.loopLabels(start, n, maxIter, edgesPerPartition)
  }
}

object CcDriver {
  def apply(edges: DataFrame): DataFrame =
    ConnectedComponents.driverLabels(ConnectedComponents.canonical(edges)._1)
}

class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted

  /** Min id reachable, for every endpoint of a non-self-loop edge. */
  private def model(edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val adj = edges.filter { case (a, b) => a != b }
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupMap(_._1)(_._2)
    adj.keys.toSeq.map { v =>
      val seen = scala.collection.mutable.Set(v)
      var frontier = List(v)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj).filter(seen.add)
      }
      v -> seen.min
    }.sorted
  }

  private def assertSameLabels(name: String, edges: Seq[(Long, Long)]): Unit = {
    val df = edges.toDF("src", "dst")
    val driver = rows(CcDriver(df))
    val loop = rows(CcLoop(df))
    assert(driver === loop, name)
    assert(driver === model(edges), name)
  }

  test("driver path and loop give identical labels") {
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      // signed 64-bit ids like the pipeline's xxhash64 vids: about half
      // negative, so the min-id root must follow signed order
      val ids = Array.fill(120)(rnd.nextLong())
      assert(ids.exists(_ < 0) && ids.exists(_ > 0))
      val edges = Seq.fill(90)((ids(rnd.nextInt(ids.length)), ids(rnd.nextInt(ids.length))))
      assertSameLabels(s"random trial $trial", edges)
    }
    assertSameLabels("200-node chain", (0L until 200L).map(i => (i, i + 1)))
    assertSameLabels("stars", (1L to 30L).map(i => (0L, i)) ++
      (1L to 20L).map(i => (-5L - i, -5L)) ++ (1L to 10L).map(i => (100L + i, 7L)))
    assertSameLabels("duplicate and reversed edges",
      Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, -4L), (-4L, 3L), (2L, 3L), (9L, 8L), (9L, 8L)))
    assertSameLabels("self-loops only", Seq((1L, 1L), (2L, 2L), (-3L, -3L)))
    assertSameLabels("empty edge set", Seq.empty)
  }

  test("the driver gate: at the gate on the driver, one past it in the loop") {
    val gate = ConnectedComponents.DriverEdgeGate
    assert(ConnectedComponents.finishOnDriver(0L))
    assert(ConnectedComponents.finishOnDriver(gate))
    assert(!ConnectedComponents.finishOnDriver(gate + 1))
  }

  test("run on a few hundred edges starts no loop job and no child session") {
    val rnd = new scala.util.Random(5)
    val edges = Seq.fill(300)((rnd.nextInt(400).toLong, rnd.nextInt(400).toLong))
      .toDF("src", "dst")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerSQLExecutionStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case e: SparkListenerSQLExecutionStart => execs.add(e)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    Bridge.drainListeners(sc, 10000L)
    sc.addSparkListener(listener)
    val labels = try {
      val out = ConnectedComponents.run(edges).collect()
      Bridge.drainListeners(sc, 10000L)
      out
    } finally sc.removeSparkListener(listener)
    assert(labels.length === labels.map(_.getLong(0)).distinct.length)
    // the loop's child session runs its rounds with AQE off
    val loopExecs = execs.toArray(Array.empty[SparkListenerSQLExecutionStart])
      .filter(_.modifiedConfigs.get("spark.sql.adaptive.enabled").contains("false"))
    assert(loopExecs.isEmpty, loopExecs.map(_.description).mkString("; "))
    // the initial checkpoint (its stages as AQE jobs) and the one collect;
    // the broadcast local relation is collected without a job
    info(s"${jobs.get} jobs")
    assert(jobs.get <= 3, s"${jobs.get} jobs")
  }
}
