package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.MinHash
import graft.operators.SignatureSearch

/**
 * `sig_search`: one closed-loop client on the driver. One operation is one
 * query sketch searched with `SignatureSearch.linear` in similarity and in
 * containment mode (threshold 0.1) against a cached DB of num-500 bottom-k
 * sketches, matches collected. Both modes in one operation keep its latency
 * unimodal; one mode per operation made the median fall between two modes.
 * Outside the clock the same query runs through `SignatureSearch.indexed`
 * over the index `SignatureSearch.buildIndex` wrote in set-up, and every
 * result set must equal a driver-side brute force with `MinHash.compare` /
 * `MinHash.countCommon`.
 */
final class SearchWorkload extends Workload {
  val DbRows = 8000
  val Threshold = 0.1
  private val GenRepeats = 3
  private val BuildRepeats = 3
  private val WarmupQueries = 8
  private val ProbeQueries = 16
  private val IndexEvery = 4
  private val Modes = Seq("similarity", "containment")

  private var dbPath: String = _
  private var indexPath: String = _
  private var db: DataFrame = _
  private var dbMins: Array[(String, Array[Long])] = _
  private var digest = 0L
  private var setupParts = ""
  private var buildS = Seq.empty[Double]
  private var matches = 0L
  private var expected = 0L
  private var wrong = 0L
  private val indexedMs = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def generate(ctx: Ctx, dir: String): Long = {
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.seed
    spark.range(0, DbRows, 1, 8).map(i => Gen.dbSketch(seed, i)).toDF("filename", "mins")
      .write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    t.select(sum(xxhash64(col("filename"), col("mins")).cast("decimal(38,0)")))
      .first().getDecimal(0).longValue
  }

  def setup(ctx: Ctx): Double = {
    val gen = (0 until GenRepeats).map { r =>
      val p = ctx.work.resolve(s"db-$r")
      Main.deleteTree(p)
      val (ns, d) = Main.timeNs(generate(ctx, p.toString))
      require(r == 0 || d == digest, s"generator is not deterministic: digest $d != $digest")
      digest = d
      dbPath = p.toString
      ns / 1e9
    }
    val (cacheNs, _) = Main.timeNs {
      db = ctx.spark.read.parquet(dbPath).cache()
      db.count()
    }
    dbMins = db.collect().map(r => (r.getString(0), r.getSeq[Long](1).toArray))
    build(ctx)
    val (warmNs, _) = Main.timeNs((0 until WarmupQueries).foreach(q => op(ctx, -1 - q, traced = false)))
    matches = 0; expected = 0; wrong = 0
    setupParts = s"generate ${gen.mkString(",")} cache ${cacheNs / 1e9} build ${buildS.mkString(",")} " +
      s"warm-up ${warmNs / 1e9}"
    Main.median(gen) + cacheNs / 1e9 + Main.median(buildS) + warmNs / 1e9
  }

  /** `SignatureSearch.buildIndex`, the write; repeated, the median counts. */
  private def build(ctx: Ctx): Unit =
    buildS = (0 until BuildRepeats).map { r =>
      val p = ctx.work.resolve(s"index-$r")
      Main.deleteTree(p)
      val (ns, _) = Main.timeNs(ctx.tracer.span("operators.index_build") {
        SignatureSearch.buildIndex(db, p.toString)
      })
      indexPath = p.toString
      ns / 1e9
    }

  /** Query ids of the loop are 0, 1, …; warm-up queries use negative ids
    * and draw from their own range. */
  private def queryOf(ctx: Ctx, i: Int): Array[Long] =
    Gen.query(ctx.seed, DbRows, if (i >= 0) i.toLong else 1000000L - i)

  /** Matches of `q` in both modes, each one search call. */
  private def search(q: Array[Long], viaIndex: Boolean): Seq[Array[Row]] =
    Modes.map(mode =>
      (if (viaIndex) SignatureSearch.indexed(db, indexPath, q, Gen.SigCfg, Threshold, mode)
       else SignatureSearch.linear(db, q, Gen.SigCfg, Threshold, mode))
        .select("filename", "score").collect())

  /** Runs `body` in `span`, timed; an exception becomes the error note. */
  private def timed(ctx: Ctx, span: String)(body: => Seq[Array[Row]]): (Long, Long, Seq[Array[Row]], String) = {
    val t0 = Clock.now()
    val (rows, note) =
      try (ctx.tracer.span(span) {
        val out = body
        ctx.tracer.count("matches", out.map(_.length).sum.toDouble)
        out
      }, "")
      catch { case e: Exception => (Seq.empty, s"error: $e") }
    (t0, Clock.now(), rows, note)
  }

  def op(ctx: Ctx, i: Int, traced: Boolean): OpSample = {
    val q = queryOf(ctx, i)
    val gc0 = StageStats.gcMs()
    val (t0, t1, rows, note) = timed(ctx, "operators.linear")(search(q, viaIndex = false))
    org.apache.spark.sql.graft.Bridge.drainListeners(ctx.spark.sparkContext, 10000)
    val stage = StageStats.of(ctx.listener, t0, t1, ctx.cores, StageStats.gcMs() - gc0)
    if (traced) Report.placeJobs(ctx, t0, t1)
    // the indexed path runs on every IndexEvery-th query (and every traced
    // one); the brute force checks every query
    val checkIndex = traced || i % IndexEvery == 0
    val (t2, t3, viaIndex, indexNote) =
      if (checkIndex) timed(ctx, "operators.indexed")(search(q, viaIndex = true))
      else (0L, 0L, Seq.empty, "")
    if (checkIndex && i >= 0) indexedMs += (t3 - t2) / 1e6
    if (traced) {
      org.apache.spark.sql.graft.Bridge.drainListeners(ctx.spark.sparkContext, 10000)
      Report.placeJobs(ctx, t2, t3)
    }
    val truth = Modes.map(bruteForce(q, _))
    def checkAll(got: Seq[Array[Row]], count: Boolean) =
      Modes.indices.map(m => check(truth(m), Modes(m), got(m), count))
    val linearChecks = if (note.nonEmpty) Seq((false, note)) else checkAll(rows, count = true)
    val indexChecks =
      if (!checkIndex) Seq((true, "not run"))
      else if (indexNote.nonEmpty) Seq((false, indexNote))
      else checkAll(viaIndex, count = false)
    OpSample(t1 - t0, DbRows, (linearChecks ++ indexChecks).forall(_._1), traced, stage,
      s"linear: ${linearChecks.map(_._2).mkString("; ")} | indexed: ${indexChecks.map(_._2).mkString("; ")}")
  }

  /** Driver-side scores of every DB sketch above the threshold. */
  private def bruteForce(q: Array[Long], mode: String): Map[String, Double] = {
    val scores = new Array[Double](dbMins.length)
    java.util.stream.IntStream.range(0, dbMins.length).parallel().forEach { k =>
      val m = dbMins(k)._2
      scores(k) =
        if (mode == "similarity") MinHash.compare(m, q, Gen.SigCfg)
        else if (m.isEmpty) 0.0 else MinHash.countCommon(m, q).toDouble / m.length
    }
    dbMins.indices.filter(scores(_) > Threshold).map(k => dbMins(k)._1 -> scores(k)).toMap
  }

  /** The matches, names and scores, must equal the brute force's. */
  private def check(truth: Map[String, Double], mode: String, rows: Array[Row],
      count: Boolean): (Boolean, String) = {
    val got = rows.map(r => r.getString(0) -> r.getDouble(1)).toMap
    val missing = truth.keySet.diff(got.keySet).size
    val extra = got.keySet.diff(truth.keySet).size
    val badScore = got.count { case (f, s) => truth.get(f).exists(t => math.abs(t - s) > 1e-12) }
    if (count) {
      expected += truth.size
      matches += got.size
      wrong += extra + badScore
    }
    val ok = missing == 0 && extra == 0 && badScore == 0 && truth.nonEmpty
    (ok, s"mode=$mode matches=${got.size} expected=${truth.size} missing=$missing extra=$extra " +
      s"bad_score=$badScore")
  }

  def endToEnd(ops: Seq[OpSample]): Seq[(String, Double, String)] = Seq(
    ("op_p50_ms", Main.median(ops.map(_.wallNs / 1e6)), "ms"),
    ("recall", (matches - wrong).toDouble / math.max(1L, expected), "ratio"),
    ("precision", (matches - wrong).toDouble / math.max(1L, matches), "ratio"))

  /** Candidate signatures the posting join yields for the first
    * `ProbeQueries` queries, and their matches: a fixed set, so the counts
    * repeat for a seed. */
  private def probeIndex(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    for (i <- 0 until ProbeQueries) {
      val q = queryOf(ctx, i)
      ctx.tracer.span("operators.index_probe") {
        ctx.tracer.count("cand_sigs", spark.read.parquet(indexPath)
          .join(broadcast(q.toSeq.toDF("h")), "h").select("filename").distinct().count().toDouble)
        ctx.tracer.count("matches", search(q, viaIndex = true).head.length.toDouble)
      }
    }
  }

  def perLayer(ctx: Ctx, ops: Seq[OpSample]): Seq[(String, Double, String)] = {
    probeIndex(ctx)
    val pairs = dbMins.sliding(2).take(Layers.SampleRows).map(p => (p(0)._2, p(1)._2)).toArray
    val spark = ctx.spark
    import spark.implicits._
    Layers.searchOperators(ctx, Main.median(buildS), Main.median(indexedMs.toSeq),
      ctx.spark.read.parquet(indexPath).count(), Main.dirBytes(java.nio.file.Paths.get(indexPath))) ++
      Layers.kernels(ctx, null, null, pairs) ++
      Layers.functions(ctx, null, pairs.toSeq.toDF("x", "y"), Gen.SigCfg)
  }

  override def facts: Seq[(String, String)] = Seq(
    "db_rows" -> DbRows.toString, "input_digest" -> digest.toString, "setup_parts" -> setupParts,
    "matches" -> matches.toString, "expected" -> expected.toString)
}
