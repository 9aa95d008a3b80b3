package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{MinHash, SketchConfig}

/** `SignatureSearch.linear` on synthetic sketches, without the reference
  * fixtures: every mode's score must equal its `graft.core` kernel bit for
  * bit, in bottom-k and in scaled mode. */
class SignatureSearchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val bottomK = SketchConfig(num = 500, ksize = 21)
  private val scaled = SketchConfig(num = 0, ksize = 21,
    maxHash = SketchConfig.scaledToMaxHash(4))

  /** Twelve sketches drawn from one shared hash universe, so pairs overlap
    * partially; `abunds` is parallel to `mins` except row 3, which has none. */
  private def sketches(cfg: SketchConfig): Seq[(String, Array[Long], Array[Long])] = {
    val rnd = new scala.util.Random(7L)
    val universe = Array.fill(3000)(rnd.nextLong())
    (0 until 12).map { i =>
      val hashes = Array.fill(500 + rnd.nextInt(1500))(universe(rnd.nextInt(universe.length)))
      val mins = MinHash.sketchHashes(hashes, cfg)
      val abunds = if (i == 3) null else mins.map(_ => 1L + rnd.nextInt(9))
      (s"sig$i", mins, abunds)
    }
  }

  private def expected(mode: String, cfg: SketchConfig, mins: Array[Long],
      abunds: Array[Long], q: Array[Long], qa: Array[Long]): Double = mode match {
    case "similarity" => MinHash.compare(mins, q, cfg)
    case "containment" =>
      if (mins.isEmpty) 0.0 else MinHash.countCommon(mins, q).toDouble / mins.length
    case "abundance" =>
      MinHash.angularSimilarity(mins,
        if (abunds == null) Array.fill(mins.length)(1L) else abunds, q, qa)
  }

  private def scores(df: DataFrame): Map[String, Double] =
    df.select(col("filename"), col("score")).as[(String, Double)].collect().toMap

  for ((label, cfg) <- Seq("bottom-k num 500" -> bottomK, "scaled num 0" -> scaled);
       mode <- Seq("similarity", "containment", "abundance")) {
    test(s"$mode scores equal the core kernel ($label)") {
      val sigs = sketches(cfg)
      assert(sigs.forall(_._2.nonEmpty))
      if (cfg.num > 0) assert(sigs.exists(_._2.length == cfg.num))
      val db = sigs.toDF("filename", "mins", "abunds")
      val (_, q, qa) = sigs(1)
      val want = sigs.map { case (f, m, a) => f -> expected(mode, cfg, m, a, q, qa) }.toMap
      // strict `>` on a negative threshold keeps every row
      val all = scores(SignatureSearch.linear(db, q, cfg, -1.0, mode, qa))
      assert(all === want)
      assert(want("sig1") === 1.0)
      assert(want.values.exists(s => s > 0.0 && s < 1.0), "partial overlaps expected")
      val thr = want.values.toSeq.sorted.apply(want.size / 2)
      val kept = scores(SignatureSearch.linear(db, q, cfg, thr, mode, qa))
      assert(kept === want.filter(_._2 > thr))
    }
  }

  test("abundance mode scores a row without abundances as flat counts of 1") {
    val sigs = sketches(bottomK)
    val db = sigs.toDF("filename", "mins", "abunds")
    val (_, q, qa) = sigs(1)
    val (_, m3, a3) = sigs(3)
    assert(a3 == null)
    val got = scores(SignatureSearch.linear(db, q, bottomK, -1.0, "abundance", qa))
    assert(got("sig3") === MinHash.angularSimilarity(m3, Array.fill(m3.length)(1L), q, qa))
    intercept[IllegalArgumentException](
      SignatureSearch.linear(db, q, bottomK, 0.1, "abundance", qa.drop(1)))
  }

  test("a null mins row fails with the diagnosis in every mode") {
    val sigs = sketches(bottomK)
    val db = (sigs :+ (("broken", null: Array[Long], null: Array[Long])))
      .toDF("filename", "mins", "abunds")
    val q = sigs(1)._2
    for (mode <- Seq("similarity", "containment", "abundance")) {
      val e = intercept[Exception](
        SignatureSearch.linear(db, q, bottomK, 0.1, mode).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage))
      assert(msgs.exists(_.contains("sketch row with null mins reached the score kernel")),
        s"$mode: ${e.getMessage}")
    }
  }
}
