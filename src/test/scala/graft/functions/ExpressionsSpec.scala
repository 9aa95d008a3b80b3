package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{MinHash, SketchConfig, U64}
import graft.functions.GraftFunctions._
import graft.functions.Oracles._
import graft.operators.{Similarity, SparkTestSession}
import scala.util.Random

/** Differential tests: native Catalyst expressions vs the UDF oracles
  * (SURVEY.md §7 stage 5 — "keep UDF versions as differential-test
  * oracles"). */
class ExpressionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def randomSketchPairs(n: Int, num: Int): Seq[(Array[Long], Array[Long])] = {
    val r = new Random(42)
    (0 until n).map { _ =>
      val base = Array.fill(20 + r.nextInt(200))(
        if (r.nextBoolean()) r.nextInt(500).toLong else r.nextLong())
      val mut = base.map(h => if (r.nextInt(4) == 0) r.nextLong() else h)
      val cfg = SketchConfig(num = num)
      (MinHash.sketchHashes(base, cfg), MinHash.sketchHashes(mut, cfg))
    }
  }

  test("native jaccard/containment/bands == UDF oracles on random sketches") {
    import spark.implicits._
    val cfg = SketchConfig(num = 64)
    val df = randomSketchPairs(200, 64).toDF("a", "b")
    val out = df.select(
      jaccard($"a", $"b", cfg).as("j_native"),
      jaccardUdf($"a", $"b", cfg).as("j_udf"),
      containment($"a", $"b").as("c_native"),
      containmentUdf($"a", $"b").as("c_udf"),
      minhashBands($"a", 16, 8).as("bk_native"),
      minhashBandsUdf($"a", 16, 8).as("bk_udf")).collect()
    out.foreach { r =>
      assert(r.getDouble(0) === r.getDouble(1), "jaccard mismatch")
      assert(r.getDouble(2) === r.getDouble(3), "containment mismatch")
      assert(r.getSeq[Long](4) === r.getSeq[Long](5), "band keys mismatch")
    }
    // downsample: native prefix cut == UDF oracle at cuts below and
    // above 2^63 (unsigned order), plus the 0 = "not scaled" identity
    for (mh <- Seq(0L, 1L << 40, Long.MinValue, -2L)) {
      val ds = df.select(
        downsampleMins($"a", mh).as("native"),
        downsampleMinsUdf($"a", mh).as("udf")).collect()
      ds.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1),
        s"downsample mismatch at maxHash=$mh"))
    }
  }

  test("native jaccard equals kernel MinHash.compare across num configs") {
    import spark.implicits._
    for (num <- Seq(0, 8, 64, 128)) {
      val cfg = SketchConfig(num = num, maxHash = if (num == 0) 1000L else 0L)
      val pairs = randomSketchPairs(50, if (num == 0) 0 else num)
        .map { case (a, b) =>
          if (num == 0)
            (a.filter(x => U64.le(x, 1000L)), b.filter(x => U64.le(x, 1000L)))
          else (a, b)
        }
      val got = pairs.toDF("a", "b").select(jaccard($"a", $"b", cfg)).collect()
      pairs.zip(got).foreach { case ((a, b), row) =>
        assert(row.getDouble(0) === MinHash.compare(a, b, cfg),
          s"num=$num a=${a.length} b=${b.length}")
      }
    }
  }

  test("native jaccard/containment/downsample == core kernels with a typedlit side") {
    import spark.implicits._
    // the SignatureSearch query shape: one side is a typedlit literal
    // (GenericArrayData), the other a parquet column (UnsafeArrayData)
    val pairs = randomSketchPairs(40, 64)
    val queries = pairs.take(4).map(_._2) :+ Array.emptyLongArray
    val tmp = java.nio.file.Files.createTempDirectory("exprlit").toString
    pairs.map(_._1).toDF("a").write.mode("overwrite").parquet(tmp)
    for (cfg <- Seq(SketchConfig(num = 64), SketchConfig(num = 8)); q <- queries) {
      val lq = typedlit(q)
      val df = spark.read.parquet(tmp).select($"a",
        jaccard($"a", lq, cfg), jaccard(lq, $"a", cfg),
        containment($"a", lq), containment(lq, $"a"))
      val literals = df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
        case l: org.apache.spark.sql.catalyst.expressions.Literal
            if l.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] => l.value
      }))
      assert(literals.length === 4 && literals.forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]), literals)
      val out = df.collect()
      assert(out.length === pairs.length)
      out.foreach { r =>
        val a = r.getSeq[Long](0).toArray
        val ctx = s"num=${cfg.num} a=${a.length} q=${q.length}"
        assert(r.getDouble(1) === MinHash.compare(a, q, cfg), s"jaccard(col, lit) $ctx")
        assert(r.getDouble(2) === MinHash.compare(q, a, cfg), s"jaccard(lit, col) $ctx")
        assert(r.getDouble(3) === MinHash.containment(a, q), s"containment(col, lit) $ctx")
        assert(r.getDouble(4) === MinHash.containment(q, a), s"containment(lit, col) $ctx")
      }
    }
    for (mh <- Seq(0L, 1L << 40, Long.MinValue, -2L); q <- queries) {
      val got = spark.range(1).select(downsampleMins(typedlit(q), mh)).head().getSeq[Long](0)
      assert(got === MinHash.downsample(q, null, mh)._1.toSeq, s"downsample maxHash=$mh")
    }
  }

  test("native sketchers == UDF oracles over corpus rows (incl. all dup kinds)") {
    import spark.implicits._
    val cfg = SketchConfig(num = 128, ksize = 4)
    val imgCfg = SketchConfig(num = 128, ksize = 16)
    val corpus = graft.sources.SyntheticCorpus.corpus(spark, 400).toDF()
    val out = corpus.select(
      captionMinhash($"caption", cfg).as("cm_n"),
      captionMinhashUdf($"caption", cfg).as("cm_u"),
      captionSimhash($"caption", cfg.ksize).as("cs_n"),
      captionSimhashUdf($"caption", cfg.ksize).as("cs_u"),
      imageMinhash($"bytes", $"fmt", imgCfg).as("im_n"),
      imageMinhashUdf($"bytes", $"fmt", imgCfg).as("im_u")).collect()
    out.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1), "caption minhash mismatch")
      assert(r.getLong(2) === r.getLong(3), "caption simhash mismatch")
      assert(r.getSeq[Long](4) === r.getSeq[Long](5), "image minhash mismatch")
    }
    // null contract matches the UDF twins: empty sketch / 0L
    val nulls = Seq((null: String, null: Array[Byte], null: String))
      .toDF("caption", "bytes", "fmt")
      .select(captionMinhash($"caption", cfg), captionSimhash($"caption", cfg.ksize),
        imageMinhash($"bytes", $"fmt", imgCfg)).head()
    assert(nulls.getSeq[Long](0).isEmpty && nulls.getLong(1) === 0L &&
      nulls.getSeq[Long](2).isEmpty)
  }

  test("native caption_lcs == UDF oracle over corpus caption pairs") {
    import spark.implicits._
    val corpus = graft.sources.SyntheticCorpus.corpus(spark, 300).toDF()
      .select($"image_id", lower(trim($"caption")).as("cap"))
    // all consecutive-id pairs + self-pairs: mixes unrelated captions,
    // dup-perturbed captions, and identical strings
    val a = corpus.withColumn("k", expr("xxhash64(image_id) % 50"))
    val b = a.select($"k", $"cap".as("cap2"))
    val out = a.join(b, "k").limit(2000)
      .select(captionLcs($"cap", $"cap2").as("n"),
        captionLcsUdf($"cap", $"cap2").as("u"),
        $"cap", $"cap2").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getInt(0) === r.getInt(1), s"'${r.getString(2)}' vs '${r.getString(3)}'")
      // identity sanity: lcs(x, x) == len(x)
    }
    val self = corpus.select(captionLcs($"cap", $"cap").as("n"), length($"cap").as("l"))
      .where($"n" =!= $"l").count()
    assert(self === 0L)
    // null contract: null in → null out (both formulations)
    val nulls = Seq((null: String, "x")).toDF("a", "b")
      .select(captionLcs($"a", $"b"), captionLcsUdf($"a", $"b")).head()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("native hyperplane keys == UDF oracle over embeddings (probe on/off)") {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for (probe <- Seq(true, false)) {
      val out = emb.select(
        Similarity.hyperplaneKeys($"embedding", 64, 9, 8, probe = probe).as("n"),
        Oracles.hyperplaneKeysUdf($"embedding", 64, 9, 8, probe = probe).as("u"))
        .collect()
      assert(out.nonEmpty)
      out.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"probe=$probe"))
    }
    // an ARRAY<DOUBLE> embedding is cast to the declared ARRAY<FLOAT> at
    // analysis (float → double → float is exact), so its keys are the
    // float column's keys, not a misread of 8-byte slots
    val viaDouble = emb.select(
      Similarity.hyperplaneKeys($"embedding", 64, 9, 8).as("f"),
      Similarity.hyperplaneKeys(transform($"embedding", _.cast("double")), 64, 9, 8).as("d"))
      .collect()
    assert(viaDouble.nonEmpty)
    viaDouble.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1), "ARRAY<DOUBLE> input"))
    // null contract matches the UDF twin: empty key array
    val nulls = Seq((1, null: Array[Float])).toDF("id", "embedding")
      .select(Similarity.hyperplaneKeys($"embedding", 64, 9, 8)).head()
    assert(nulls.getSeq[Long](0).isEmpty)
  }

  test("radius-2 Manku keys: every Hamming<=2 pair shares a key (randomized pigeonhole proof)") {
    import spark.implicits._
    // the m08/m09/flagship candidacy guarantee, checked on the REAL
    // column expression (not a local re-derivation): corrupt <= 2
    // random bit positions of random fingerprints and assert the
    // 4-of-6-block joint key arrays always intersect; plus a
    // same-key-means-close-ish sanity (keys are 44+ exact bits, so a
    // random unrelated pair sharing one is ~2^-44 per table)
    val r = new Random(42)
    val cases = (0 until 500).map { _ =>
      val fp = r.nextLong()
      val flips = r.nextInt(3) // 0, 1, or 2 corrupted bits
      val positions = Seq.fill(flips)(r.nextInt(64))
      val mask = positions.foldLeft(0L)((m, p) => m | (1L << p))
      (fp, fp ^ mask)
    }
    val out = cases.toDF("a", "b").select(
      arrays_overlap(fingerprintBandsHamming2($"a"),
        fingerprintBandsHamming2($"b")).as("hit"),
      $"a", $"b").collect()
    out.foreach { row =>
      assert(row.getBoolean(0),
        f"ham<=2 pair lost: ${row.getLong(1)}%016x vs ${row.getLong(2)}%016x")
    }
    // distinct random pairs share a key only by block-level coincidence:
    // measure that it stays rare (not a guarantee — a calibration check)
    val far = (0 until 500).map(_ => (r.nextLong(), r.nextLong()))
    val farHits = far.toDF("a", "b").select(
      arrays_overlap(fingerprintBandsHamming2($"a"),
        fingerprintBandsHamming2($"b")).as("hit")).collect()
      .count(_.getBoolean(0))
    assert(farHits <= 5, s"random 64-bit pairs sharing a joint key: $farHits/500")
  }

  test("kernel joint band keys == fold-of-Columns oracles, both schemes, all picks") {
    import spark.implicits._
    val r = new Random(7)
    val fps = (0 until 300).map(_ => r.nextLong()) ++
      Seq(0L, -1L, Long.MinValue, Long.MaxValue, 0x0123456789abcdefL)
    val df = fps.toDF("fp")
    for (pick <- 1 to 7) { // scheme 0: eight 8-bit blocks
      val out = df.select(
        GraftFunctions.fingerprintJointBands($"fp", pick).as("k"),
        Oracles.fingerprintJointBandsFoldForm($"fp", pick).as("o")).collect()
      out.foreach(row => assert(row.getSeq[Long](0) === row.getSeq[Long](1),
        s"scheme 0 pick=$pick mismatch"))
    }
    for (pick <- Seq(3, 4)) { // scheme 1: Manku 11/11/11/11/10/10
      val kernel = if (pick == 3)
        Bridge.column(expressions.SketchExpressions.jointBandKeys(Bridge.expression($"fp"), 1, 3))
      else GraftFunctions.fingerprintBandsHamming2($"fp")
      val out = df.select(kernel.as("k"),
        Oracles.fingerprintCombosFoldForm($"fp", pick).as("o")).collect()
      out.foreach(row => assert(row.getSeq[Long](0) === row.getSeq[Long](1),
        s"scheme 1 pick=$pick mismatch"))
    }
  }

  test("joint-key bands stage stays inside whole-stage codegen (the 64 KB regression)") {
    import spark.implicits._
    // the d05 shape that overflowed Janino's method limit with the
    // fold-built 56-expression array duplicated into filter + project
    val tmp = java.nio.file.Files.createTempDirectory("jointkeys").toString
    (0 until 50).map(i => (i.toLong, new Random(i).nextLong()))
      .toDF("id", "simhash").write.mode("overwrite").parquet(tmp)
    // plan-level WholeStageCodegenExec presence is NOT enough — the 64 KB
    // overflow only fires at runtime and spark.sql.codegen.fallback
    // (default true) silently drops to interpreted eval. Disable the
    // fallback on a sibling session so a regression to the fold form
    // (which overflows in this exact filter+project shape) THROWS here
    // instead of passing silently.
    val strict = spark.newSession()
    strict.conf.set("spark.sql.codegen.fallback", "false")
    val df = strict.read.parquet(tmp)
      .select($"id", GraftFunctions.fingerprintJointBands($"simhash", 5).as("bk"))
      .where(size($"bk") > 0)
    val hasWsc = df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(hasWsc, df.queryExecution.executedPlan.toString)
    assert(df.collect().forall(_.getSeq[Long](1).length == 56))
  }

  test("expressions stay inside whole-stage codegen (no eval fallback)") {
    import spark.implicits._
    // materialize to parquet first: a purely-local relation would be
    // constant-folded by ConvertToLocalRelation and never reach codegen
    val tmp = java.nio.file.Files.createTempDirectory("exprspec").toString
    val r = new Random(3)
    randomSketchPairs(10, 64).zipWithIndex.map { case ((a, b), i) =>
      (a, b, s"caption number $i", s"the caption no $i", Array.fill(64)(r.nextInt().toByte),
        Array.fill(4)(r.nextFloat()), Array.fill(4)(r.nextDouble()), Array(i % 2, 1), r.nextLong())
    }.toDF("a", "b", "cap", "cap2", "bytes", "emb", "v", "codes", "fp")
      .write.mode("overwrite").parquet(tmp)
    val cfg = SketchConfig(num = 64)
    val codebook = typedlit(Seq(Seq(0.0, 0.0), Seq(1.0, 1.0), Seq(0.5, 0.0), Seq(0.0, 0.5)))
    def select(s: org.apache.spark.sql.SparkSession) = s.read.parquet(tmp).select(
      Similarity.dot($"v", $"v"),
      jaccard($"a", $"b", cfg),
      containment($"a", $"b"),
      downsampleMins($"a", 1L << 40),
      minhashBands($"a", 16, 8),
      captionMinhash($"cap", SketchConfig(num = 16, ksize = 4)),
      captionSimhash($"cap", 4),
      imageMinhash($"bytes", lit("raw"), SketchConfig(num = 16, ksize = 8)),
      Similarity.hyperplaneKeys($"emb", 4, 3, 2, probe = true),
      angularSimilarity($"a", expr("array_repeat(1L, size(a))"),
        $"b", expr("array_repeat(1L, size(b))")),
      Similarity.pqEncodeCol($"v", codebook, 2, 2, 2),
      Similarity.pqAdcCol($"v", $"codes", codebook, 2, 2, 2),
      fingerprintJointBands($"fp", 3),
      captionLcs($"cap", $"cap2"))
    // plan-level WholeStageCodegenExec presence is not enough on its own:
    // with spark.sql.codegen.fallback (default true) a stage whose code
    // fails to compile silently runs interpreted, so the strict sibling
    // session makes that throw, and the generated code must carry each
    // kernel's static call
    val strict = spark.newSession()
    strict.conf.set("spark.sql.codegen.fallback", "false")
    val df = select(strict)
    val plan = df.queryExecution.executedPlan
    assert(plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]),
      plan.toString)
    val code = org.apache.spark.sql.execution.debug.codegenStringSeq(plan).map(_._2).mkString
    for (k <- Seq("dot", "jaccard", "containment", "downsample", "bandKeys", "captionMinhash",
        "captionSimhash", "imageMinhash", "hyperplaneKeys", "angular", "pqEncode", "pqAdc",
        "jointBandKeys", "captionLcs"))
      assert(code.contains(s"graft.functions.expressions.SketchKernels.$k("), k)
    val generated = df.collect()
    // the same select evaluated without any generated code: each kernel's
    // reflective call resolves and returns what the generated call did
    val interp = spark.newSession()
    interp.conf.set("spark.sql.codegen.wholeStage", "false")
    interp.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interpreted = select(interp).collect()
    assert(generated.length === 10)
    assert(generated.toSeq === interpreted.toSeq)
  }

  test("each kernel's argument check throws when the column is built (Column API and SQL)") {
    import spark.implicits._
    val cb = typedlit(Seq(Seq(0.0)))
    val bad: Seq[(String, () => Any)] = Seq(
      "bands = 0" -> (() => minhashBands($"m", 0, 4)),
      "rowsPerBand = 0" -> (() => minhashBands($"m", 4, 0)),
      "dim = 0" -> (() => Similarity.hyperplaneKeys($"v", 0, 9, 8)),
      "nPlanes = 0" -> (() => Similarity.hyperplaneKeys($"v", 64, 0, 8)),
      "nPlanes = 63" -> (() => Similarity.hyperplaneKeys($"v", 64, 63, 8)),
      "nTables = 0" -> (() => Similarity.hyperplaneKeys($"v", 64, 9, 0)),
      "pq_encode m = 0" -> (() => Similarity.pqEncodeCol($"v", cb, 0, 1, 1)),
      "pq_encode ks = 0" -> (() => Similarity.pqEncodeCol($"v", cb, 1, 0, 1)),
      "pq_encode subDim = 0" -> (() => Similarity.pqEncodeCol($"v", cb, 1, 1, 0)),
      "pq_adc m = 0" -> (() => Similarity.pqAdcCol($"v", $"c", cb, 0, 1, 1)),
      "pq_adc ks = 0" -> (() => Similarity.pqAdcCol($"v", $"c", cb, 1, 0, 1)),
      "pq_adc subDim = 0" -> (() => Similarity.pqAdcCol($"v", $"c", cb, 1, 1, 0)),
      "joint pick = 0" -> (() => fingerprintJointBands($"fp", 0)),
      "joint pick = 8" -> (() => fingerprintJointBands($"fp", 8)),
      "joint scheme = 2" ->
        (() => expressions.SketchExpressions.jointBandKeys(Bridge.expression($"fp"), 2, 1)),
      "joint scheme 1 pick = 7" ->
        (() => expressions.SketchExpressions.jointBandKeys(Bridge.expression($"fp"), 1, 7)))
    bad.foreach { case (what, build) =>
      withClue(what)(intercept[IllegalArgumentException](build()))
    }
    val s = spark.newSession()
    GraftExtensions.register(s)
    s.sql("select * from values (array(1L, 2L), array(2L, 3L), 4) as t(a, b, x)")
      .createOrReplaceTempView("t")
    for (q <- Seq("select graft_band_keys(a, 0, 4) from t", "select graft_jaccard(a, b, x) from t"))
      withClue(q)(intercept[IllegalArgumentException](s.sql(q)))
  }
}
