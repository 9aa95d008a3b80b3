package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{ImageCodec, SyntheticCorpus}

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

class PipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("synthetic corpus is deterministic and partitioning-independent") {
    val a = SyntheticCorpus.corpus(spark, 200, partitions = 2).collect().sortBy(_.image_id)
    val b = SyntheticCorpus.corpus(spark, 200, partitions = 7).collect().sortBy(_.image_id)
    assert(a.length === 200)
    a.zip(b).foreach { case (x, y) =>
      assert(x.image_id === y.image_id)
      assert(x.caption === y.caption)
      assert(x.phash === y.phash)
      assert(java.util.Arrays.equals(x.bytes, y.bytes))
    }
  }

  test("per-row decode invariant: lossless allclose, lossy PSNR >= 40 dB (BASELINE.json:15)") {
    val rows = SyntheticCorpus.corpus(spark, 400).collect()
    val base = SyntheticCorpus.nBase(400)
    var checkedLossy = 0
    rows.foreach { r =>
      val dec = ImageCodec.decode(r.bytes, r.fmt).get
      assert(dec.w === r.w && dec.h === r.h)
      val id = r.image_id.stripPrefix("img_").toLong
      if (r.fmt == "ppm") {
        // lossless: decoded pixels are exactly what the generator produced
        // (for dup rows, what the perturbation produced — checked via round-trip)
        val reenc = ImageCodec.encodePpm(dec.rgb, dec.w, dec.h)
        assert(java.util.Arrays.equals(reenc, r.bytes))
      } else if (r.fmt == "png") {
        // real PNG container: lossless, so decoded pixels must be
        // byte-exact vs the SOURCE row's generated pixels
        val (src, kind) = SyntheticCorpus.dupPlan(id, base)
        assert(kind === "pngenc")
        assert(java.util.Arrays.equals(dec.rgb, SyntheticCorpus.genPixels(src)),
          s"png decode not byte-exact for ${r.image_id}")
      } else {
        // lossy (simulated ppmq or real JPEG container): decoded pixels
        // vs the SOURCE row's pixels must hold the ≥ 40 dB invariant
        val (src, kind) = SyntheticCorpus.dupPlan(id, base)
        assert(kind === "reencode" || kind === "jpgenc" || kind === "capedit", kind)
        val orig = SyntheticCorpus.genPixels(src)
        val p = ImageCodec.psnr(dec.rgb, orig)
        assert(p >= 40.0, s"PSNR $p < 40 for ${r.image_id} ($kind)")
        checkedLossy += 1
      }
    }
    assert(checkedLossy > 0, "corpus must contain lossy rows")
  }

  test("exact dup rows have byte-equal payload and caption equality") {
    val n = 400L
    val base = SyntheticCorpus.nBase(n)
    val rows = SyntheticCorpus.corpus(spark, n).collect().map(r => r.image_id -> r).toMap
    val gt = SyntheticCorpus.groundTruth(spark, n).collect()
    assert(gt.nonEmpty)
    gt.filter(_.kind == "exact").foreach { d =>
      val dup = rows(d.dup_id); val src = rows(d.src_id)
      assert(java.util.Arrays.equals(dup.bytes, src.bytes))
      assert(dup.caption === src.caption)
    }
    gt.filter(_.kind == "reencode").foreach { d =>
      assert(rows(d.dup_id).caption === rows(d.src_id).caption)
    }
  }

  test("connected components: known graph") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (3L, 4L), (20L, 1L)).toDF("src", "dst")
    val nodes = (1L to 4L).union(Seq(10L, 11L, 20L, 99L)).toDF("id")
    val labels = ConnectedComponents.labelAll(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(1L) === 1L && labels(2L) === 1L && labels(3L) === 1L &&
      labels(4L) === 1L && labels(20L) === 1L)
    assert(labels(10L) === 10L && labels(11L) === 10L)
    assert(labels(99L) === 99L) // singleton
  }

  test("connected components: random graphs match a union-find model") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 60 + rnd.nextInt(80)
      val edges = Seq.fill(n)( (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong) )
      // union-find model
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val model = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val got = ConnectedComponents.labelAll(
          (0L until n.toLong).toDF("id"), edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // components must partition identically AND use the min-id label
      (0 until n).foreach { i =>
        assert(got(i.toLong) === model(i.toLong), s"trial $trial node $i")
      }
    }
  }

  test("cc loop width: explicit override wins; auto honors the session ceiling") {
    // tiny edge set: keep the small fixed width (one pipelined job/round)
    assert(ConnectedComponents.chooseLoopWidth(100L, 32, 2000000L) === 8)
    // big edge set: width grows with the data, up to the session ceiling —
    // the round-2 clamp bug made this impossible (min(8, 2000) = 8)
    assert(ConnectedComponents.chooseLoopWidth(10000000000L, 2000, 2000000L) === 2000)
    // session ceiling below the floor: never exceed the session value
    assert(ConnectedComponents.chooseLoopWidth(10000000000L, 4, 2000000L) === 4)
    // mid-size: proportional between floor and ceiling
    assert(ConnectedComponents.chooseLoopWidth(100000000L, 2000, 2000000L) === 50)
  }

  test("cc loop runs wider than 8 when the session raises shuffle partitions") {
    val conf = spark.conf
    val before = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", "64")
    try {
      val n = 600
      val rnd = new scala.util.Random(11)
      val edges = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      // edgesPerPartition=4 makes the auto width data-bound (~150),
      // clamped to the raised session ceiling 64 — strictly > 8
      val wide = CcLoop(edges.toDF("src", "dst"), edgesPerPartition = 4L)
      // the label agg itself is lazy (runs under session confs, AQE
      // coalesces it), so probe the LOOP's materialized width where it is
      // preserved: the checkpointed star-edge RDD feeding the plan
      val loopParts = wide.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.getNumPartitions
      }
      assert(loopParts.nonEmpty && loopParts.exists(_ > 8),
        s"loop materialized at $loopParts partitions — width still clamped?")
      // labels are identical to the default-width run
      val narrow = CcLoop(edges.toDF("src", "dst"))
      val a = wide.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val b = narrow.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(a === b)
      // session confs restored by the loop
      assert(conf.get("spark.sql.shuffle.partitions") === "64")
      assert(conf.get("spark.sql.adaptive.enabled") === "true")
    } finally conf.set("spark.sql.shuffle.partitions", before)
  }

  test("connected components: adversarial chain converges (log-round guarantee)") {
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("src", "dst")
    val labels = CcLoop(chain, maxIter = 25)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.values.toSet === Set(0L))
    assert(labels.size === 201)
  }

  test("capedit pairs are caught by the suffix-array LCS rule, cold on all others") {
    val n = 2000L
    val cfg = DedupConfig()
    val corpus = SyntheticCorpus.corpus(spark, n).toDF()
    val sk = DedupPipeline.sketches(corpus, cfg).cache()
    val gt = SyntheticCorpus.groundTruth(spark, n).toDF()
      .where($"kind" === "capedit")
      .select(xxhash64($"dup_id").as("a"), xxhash64($"src_id").as("b"))
    val nPairs = gt.count()
    assert(nPairs > 0, "corpus must contain capedit pairs")
    // scoresAllRules: attribution needs EVERY rule scored on every pair —
    // the pipeline's scores short-circuits the LCS kernel on cheap-confirmed
    // pairs (edge set identical; asserted by the short-circuit test)
    val scored = PipelineOracles.scoresAllRules(gt, sk, cfg)
    val rules = DedupPipeline.edgeRules(cfg)
    val agg = scored.agg(
      count(lit(1)).as("n"),
      rules.map { case (name, c) => sum(when(c, 1).otherwise(0)).as(name) }: _*)
      .head()
    val byRule = rules.indices.map(i => rules(i)._1 -> agg.getLong(i + 1)).toMap
    info(s"capedit rule hits over ${agg.getLong(0)} pairs: $byRule")
    // every capedit pair is confirmed by the suffix-array pass...
    assert(byRule("suffix_lcs") === nPairs, byRule.toString)
    // ...and the pass is load-bearing: the sketch rules are cold on these
    // pairs (head rewrite kills caption jaccard/containment/simhash;
    // re-quantization kills pixel-shingle jaccard)
    assert(byRule("img_minhash") === 0L, byRule.toString)
    assert(byRule("cap_minhash") === 0L, byRule.toString)
    assert(byRule("simhash_corrob") === 0L, byRule.toString)
    // coincidental template-shingle overlap can push a minority of pairs
    // over phash_corrob's cap_sim >= 0.3 floor; the LCS pass must remain
    // the only rule catching the MAJORITY (load-bearing, not redundant)
    val others = byRule("phash_corrob")
    assert(others <= nPairs / 2,
      s"phash_corrob catches $others of $nPairs capedit pairs — kind not cold enough")
    sk.unpersist()
  }

  test("lcs short-circuit: edge set identical, sentinel fires on cheap-confirmed pairs") {
    val n = 1500L
    val cfg = DedupConfig()
    val corpus = SyntheticCorpus.corpus(spark, n).toDF()
    val tagged = DedupPipeline.exactDedupWindowed(
      DedupPipeline.sketches(corpus, cfg)).cache()
    val skReps = tagged.where($"image_id" === $"rep")
    val cands = DedupPipeline.candidates(skReps, cfg).cache()
    def edgeSet(all: Boolean): Set[(Long, Long)] =
      (if (all) PipelineOracles.scoresAllRules(cands, skReps, cfg)
       else DedupPipeline.scores(cands, skReps, cfg))
        .where(DedupPipeline.edgeRule(cfg))
        .select($"a", $"b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = edgeSet(true)
    val short = edgeSet(false)
    assert(full.nonEmpty)
    assert(short === full, "short-circuit changed the confirmed edge set")
    // both gates are load-bearing: cheap-confirmed pairs skip the kernel
    // (-1), and pairs where no lcs value could matter skip it too (-2).
    // The staged shape drops most -2 candidates before the kernel gate,
    // but enough corroborated pairs still reach it for both to fire
    val bySentinel = DedupPipeline.scores(cands, skReps, cfg)
      .groupBy($"cap_lcs" === -1, $"cap_lcs" === -2).count()
      .collect().map(r => (r.getBoolean(0), r.getBoolean(1)) -> r.getLong(2)).toMap
    assert(bySentinel.getOrElse((true, false), 0L) > 0,
      "no pair took the cheap-confirmed short-circuit — gate dead?")
    assert(bySentinel.getOrElse((false, true), 0L) > 0,
      "no pair took the irrelevance short-circuit — gate dead?")
    cands.unpersist(); tagged.unpersist()
  }

  test("prefilter: edge set identical, reject pass is load-bearing") {
    val n = 1500L
    val cfg = DedupConfig()
    val corpus = SyntheticCorpus.corpus(spark, n).toDF()
    val tagged = DedupPipeline.exactDedupWindowed(
      DedupPipeline.sketches(corpus, cfg)).cache()
    val skReps = tagged.where($"image_id" === $"rep")
    val cands = DedupPipeline.candidates(skReps, cfg).cache()
    val nCands = cands.count()
    // the slim reject may only drop pairs no rule could confirm: edges
    // from the COMPLETE scoring of every candidate (scoresAllRules — the
    // ungated all-pairs shape) must survive the staged path exactly
    val unfiltered = PipelineOracles.scoresAllRules(cands, skReps, cfg)
      .where(DedupPipeline.edgeRule(cfg))
      .select($"a", $"b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // scores emits one row per candidate that passes the slim reject
    val nKept = DedupPipeline.scores(cands, skReps, cfg).count()
    val confirmed = DedupPipeline.confirm(cands, skReps, cfg)
      .select($"a", $"b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unfiltered.nonEmpty)
    assert(confirmed === unfiltered, "prefilter changed the confirmed edge set")
    // load-bearing: the fingerprint-coincidence mass actually gets dropped
    assert(nKept < nCands, s"prefilter kept all $nCands candidates — gate dead?")
    info(s"prefilter kept $nKept of $nCands candidates, ${unfiltered.size} edges")
    cands.unpersist(); tagged.unpersist()
  }

  test("DedupConfig is constants: no constructor parameter, every value in its rendering") {
    // the rendering is Lineage.checkpointedClusters' config fingerprint
    // input; it pins all 18 values, so checkpoints written before the
    // fields became constants still resume
    assert(DedupConfig().toString ===
      "DedupConfig(SketchConfig(128,16,false,42,0,false),4,SketchConfig(128,4,false,42,0,false)," +
        "32,4,8,16,0.35,0.92,0.8,3,3,64,4,20,30,4096,25)")
    val ctors = classOf[DedupConfig].getConstructors
    assert(ctors.nonEmpty && ctors.forall(_.getParameterCount == 0), ctors.toSeq)
  }

  test("end-to-end dedup: recall >= 0.99 vs ground truth at n=2000") {
    assertDedupMatchesGroundTruth(2000L, maxFusions = 0)
  }

  test("end-to-end dedup: recall 1.0 + bounded fusions at n=100000 (second-scale gate)") {
    // the flagship's oracle gate runs at 5,000 rows (sf0.01); this pins
    // the recall criterion at 20x that scale, where LSH bucket
    // population, fingerprint collision rates, and CC round counts all
    // behave differently than at 10^3. This gate is what caught the
    // round-4 pipeline silently losing 9% of capedit pairs (saturated
    // phash-block buckets) and, after the Manku-key fix completed the
    // candidate set, 2,808 coincidence merges the old confirm rules
    // would have accepted. Precision side: the synthetic corpus at 10^5
    // genuinely CONTAINS unlabeled near-identical coincidences (caption
    // chunk + phash within ham 1 + a shared pixel shingle — three
    // independent modalities agreeing), so the partition criterion here
    // is a measured fusion BOUND (<= 2 cluster fusions per 10^5 rows,
    // currently 1) rather than exact equality, which only the labeled
    // n=2000 corpus can promise.
    assertDedupMatchesGroundTruth(100000L, maxFusions = 2)
  }

  private def assertDedupMatchesGroundTruth(n: Long, maxFusions: Int): Unit = {
    val corpus = SyntheticCorpus.corpus(spark, n).toDF()
    val clusters = DedupPipeline.clusters(corpus).cache()
    val assign = clusters.select($"image_id", $"cluster")
    val gt = SyntheticCorpus.groundTruth(spark, n).toDF()

    val joined = gt
      .join(assign.withColumnRenamed("image_id", "dup_id").withColumnRenamed("cluster", "c_dup"), "dup_id")
      .join(assign.withColumnRenamed("image_id", "src_id").withColumnRenamed("cluster", "c_src"), "src_id")
    val perKind = joined.groupBy($"kind")
      .agg(count(lit(1)).as("n"), sum(when($"c_dup" === $"c_src", 1).otherwise(0)).as("hit"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val total = perKind.map(_._2).sum
    val hits = perKind.map(_._3).sum
    val recall = hits.toDouble / total
    info(s"recall = $recall over $total dup pairs; per kind: " +
      perKind.map { case (k, n0, h) => s"$k $h/$n0" }.mkString(", "))
    assert(recall >= 0.99, s"recall $recall < 0.99; per kind: " +
      perKind.map { case (k, n0, h) => s"$k $h/$n0" }.mkString(", "))

    // sanity: dedup actually collapses ~5% of rows
    val nClusters = clusters.select($"cluster").distinct().count()
    assert(nClusters < n && nClusters > n / 2)

    // PRECISION: with recall 1.0 established above, the cluster partition
    // must EQUAL the ground-truth partition — any false merge (e.g. a
    // phash collision between unrelated images clearing the splice floor
    // on template boilerplate) would fuse two expected clusters and fail
    // the set-of-member-sets comparison
    val gtParent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      val p = gtParent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); gtParent(x) = r; r }
    }
    SyntheticCorpus.groundTruth(spark, n).collect().foreach { d =>
      val (ra, rb) = (find(d.dup_id), find(d.src_id))
      if (ra != rb) {
        val (lo, hi) = if (ra < rb) (ra, rb) else (rb, ra)
        gtParent(hi) = lo
      }
    }
    val ids = (0L until n).map(i => s"img_$i")
    val actualPairs = assign.collect().map(r => (r.getString(0), r.getString(1)))
    if (maxFusions == 0) {
      val expected = ids.groupBy(find).values.map(_.toSet).toSet
      val actual = actualPairs.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
      assert(actual === expected, "cluster partition differs from ground truth")
    } else {
      // recall 1.0 already implies no expected cluster is SPLIT (every
      // gt pair shares an actual cluster); bound the FUSIONS: an actual
      // cluster spanning k expected components contributes k-1
      val fusions = actualPairs.groupBy(_._2).values
        .map(members => members.map(m => find(m._1)).distinct.length - 1)
        .sum
      info(s"cluster fusions at n=$n: $fusions (bound $maxFusions)")
      assert(fusions <= maxFusions,
        s"$fusions cluster fusions exceed the $maxFusions bound at n=$n")
    }
    clusters.unpersist()
  }

  test("thumbnail: NN sampling maps quadrants, BT.601 luma, degenerate sizes") {
    // 2×2 image with four distinct solid pixels: upscaling to 8×8 by
    // nearest neighbor must tile each source pixel over one 4×4 quadrant
    val px = Array[Int](
      255, 0, 0, /* */ 0, 255, 0,
      0, 0, 255, /* */ 255, 255, 255)
    val rgb = px.map(_.toByte)
    val g = ImageCodec.thumbnail(ImageCodec.Decoded(rgb, 2, 2), 8)
    assert(g.length === 64)
    def luma(r: Int, gr: Int, b: Int) = (299 * r + 587 * gr + 114 * b) / 1000
    val expect = Array(luma(255, 0, 0), luma(0, 255, 0), luma(0, 0, 255),
      luma(255, 255, 255))
    for (gy <- 0 until 8; gx <- 0 until 8) {
      val q = (gy / 4) * 2 + (gx / 4)
      assert(g(gy * 8 + gx) === expect(q), s"cell ($gy,$gx)")
    }
    // downscale: 8×8 gradient to 2×2 picks the NN source pixels exactly
    val grad = Array.tabulate(8 * 8 * 3)(i => ((i / 3) * 4).toByte)
    val g2 = ImageCodec.thumbnail(ImageCodec.Decoded(grad, 8, 8), 2)
    val pick = Seq(0, 4, 32, 36) // (0,0),(0,4),(4,0),(4,4) row-major
    assert(g2.toSeq === pick.map { p =>
      val v = (p * 4) & 0xff; luma(v, v, v)
    })
    // 1×1 source: every grid cell is that pixel
    val one = ImageCodec.thumbnail(
      ImageCodec.Decoded(Array[Byte](100.toByte, 100.toByte, 100.toByte), 1, 1), 8)
    assert(one.forall(_ === 100))
  }
}
