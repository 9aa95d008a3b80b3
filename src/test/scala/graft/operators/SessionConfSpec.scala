package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SyntheticCorpus

/** The operators run their conf-scoped work (the pipeline's static
  * broadcast guard, the CC loop's AQE-off width) in child sessions: the
  * caller's session conf is the same before, during and after a call. */
class SessionConfSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("DedupPipeline.clusters leaves the caller's session conf unchanged") {
    // a sibling session with Spark's default broadcast settings: the
    // pipeline's own guard (static threshold -1) must not land on it
    val s = spark.newSession()
    val before = s.conf.getAll
    val out = DedupPipeline.clusters(SyntheticCorpus.corpus(s, 300).toDF())
    assert(out.count() === 300L)
    assert(s.conf.getAll === before)
  }

  test("AQE stays on in the caller's session while the CC loop runs") {
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("src", "dst")
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var done = false
    val sampler = new Thread(() =>
      while (!done) {
        samples.add(spark.conf.get("spark.sql.adaptive.enabled"))
        Thread.sleep(1)
      })
    sampler.start()
    val labels = try CcLoop(chain, maxIter = 25).collect()
      finally { done = true; sampler.join() }
    assert(labels.length === 201)
    assert(labels.forall(_.getLong(1) == 0L))
    val seen = samples.toArray.toSeq
    assert(seen.nonEmpty)
    assert(seen.forall(_ == "true"),
      s"${seen.count(_ != "true")} of ${seen.size} samples read AQE off")
  }
}
