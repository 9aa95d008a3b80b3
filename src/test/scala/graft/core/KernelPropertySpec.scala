package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/**
 * Property-based algebra of the sketch kernels — the laws the
 * distributed operators silently rely on, checked over randomized
 * unsigned-64 sketch inputs (200 cases each, fixed scalacheck seed
 * derivation for reproducibility):
 *
 *  - merge associativity/commutativity under bottom-k truncation is WHY
 *    d07's sharded map-side combine equals a single global sketch
 *    (`MinHashAgg`'s recombination property);
 *  - downsample composition (m1 then m2 == min(m1, m2) once) is why
 *    sm08 may downsample incrementally at any stage of a plan;
 *  - comparison bounds/symmetry guard the confirm thresholds;
 *  - the single-pass `intersectionSize` every Jaccard runs equals the
 *    merge-based definition it replaced.
 */
class KernelPropertySpec extends AnyFunSuite {

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(200)
    .withInitialSeed(org.scalacheck.rng.Seed(42L))

  private def check(name: String, p: Prop): Unit = {
    val r = SCTest.check(params, p)
    assert(r.passed, s"$name: ${r.status}")
  }

  /** Sorted-by-unsigned distinct mins — the invariant every sketch
    * source maintains. Values span the full u64 range (negative longs
    * are the upper half). */
  private val minsGen: Gen[Array[Long]] =
    Gen.listOf(Gen.choose(Long.MinValue, Long.MaxValue)).map { xs =>
      xs.distinct.sortWith(java.lang.Long.compareUnsigned(_, _) < 0).toArray
    }

  private val cfgK = SketchConfig(num = 8, ksize = 4)
  private val cfgScaled = SketchConfig(num = 0, ksize = 4, maxHash = Long.MinValue) // 2^63

  test("merge is commutative (bottom-k and scaled configs)") {
    check("commutativity", Prop.forAll(minsGen, minsGen) { (a, b) =>
      MinHash.merge(a, b, cfgK).sameElements(MinHash.merge(b, a, cfgK)) &&
        MinHash.merge(a, b, cfgScaled).sameElements(MinHash.merge(b, a, cfgScaled))
    })
  }

  test("merge is associative under bottom-k truncation (recombination property)") {
    check("associativity", Prop.forAll(minsGen, minsGen, minsGen) { (a, b, c) =>
      val left = MinHash.merge(MinHash.merge(a, b, cfgK), c, cfgK)
      val right = MinHash.merge(a, MinHash.merge(b, c, cfgK), cfgK)
      left.sameElements(right)
    })
  }

  test("bottom-k merge equals bottom-k of the exact set union (model check)") {
    check("model", Prop.forAll(minsGen, minsGen) { (a, b) =>
      val model = (a ++ b).distinct
        .sortWith(java.lang.Long.compareUnsigned(_, _) < 0).take(cfgK.num)
      MinHash.merge(a, b, cfgK).sameElements(model)
    })
  }

  test("downsample composes: m1 then m2 == single min(m1, m2) cut") {
    // 0 is the "not scaled" sentinel (downsample is a no-op there), and
    // it is also the unsigned minimum — the composition law holds only
    // over real cutoffs, so the generator excludes the sentinel
    val mh = Gen.choose(Long.MinValue, Long.MaxValue).suchThat(_ != 0L)
    check("downsample", Prop.forAll(minsGen, mh, mh) { (a, m1, m2) =>
      val ab = Array.tabulate(a.length)(i => (i + 1).toLong)
      val (two, twoAb) = {
        val (m, ma) = MinHash.downsample(a, ab, m1)
        MinHash.downsample(m, ma, m2)
      }
      val mMin =
        if (java.lang.Long.compareUnsigned(m1, m2) <= 0) m1 else m2
      val (one, oneAb) = MinHash.downsample(a, ab, mMin)
      two.sameElements(one) && twoAb.sameElements(oneAb) &&
        MinHash.downsample(a, ab, 0L)._1.sameElements(a) // 0-sentinel: no-op
    })
  }

  test("compare is symmetric, bounded, and 1.0 on self") {
    check("compare", Prop.forAll(minsGen, minsGen) { (a, b) =>
      val ab = MinHash.compare(a, b, cfgK)
      val ba = MinHash.compare(b, a, cfgK)
      ab == ba && ab >= 0.0 && ab <= 1.0 &&
        (a.isEmpty || MinHash.compare(a, a, cfgK) == 1.0)
    })
  }

  /** The merge-based `intersection_size` the single truncated-union
    * pass replaced: merge-union re-truncated to `num`, intersect A with
    * B, then re-intersect that with the combined sketch. */
  private def intersectionSizeByMerge(a: Array[Long], b: Array[Long],
      cfg: SketchConfig): (Long, Long) = {
    val combined = MinHash.merge(a, b, cfg)
    val ab = new Array[Long](math.min(a.length, b.length))
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      val c = java.lang.Long.compareUnsigned(a(i), b(j))
      if (c == 0) { ab(n) = a(i); n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val common = U64.intersectSize(java.util.Arrays.copyOf(ab, n), combined)
    (common.toLong, combined.length.toLong)
  }

  /** Overlapping pairs up to `maxLen` long: both sides are random subsets
    * of one pool drawn over the full u64 range (high bit set on about
    * half the values), so A∩B is large and a bottom-k cut falls inside
    * it; empty sides come up whenever a subset or the pool is empty. */
  private def pairGen(maxLen: Int): Gen[(Array[Long], Array[Long])] = for {
    n <- Gen.choose(0, maxLen)
    pool <- Gen.listOfN(n, Gen.choose(Long.MinValue, Long.MaxValue))
    inA <- Gen.listOfN(n, Gen.prob(0.6))
    inB <- Gen.listOfN(n, Gen.prob(0.6))
  } yield {
    val sorted = pool.distinct.sortWith(java.lang.Long.compareUnsigned(_, _) < 0)
    def pick(in: List[Boolean]) = sorted.zip(in).collect { case (x, true) => x }.toArray
    (pick(inA), pick(inB))
  }

  test("single-pass intersectionSize/compare == the merge-based oracle") {
    val configs = Seq(
      SketchConfig(num = 1, ksize = 4),
      SketchConfig(num = 8, ksize = 4),
      SketchConfig(num = 500, ksize = 4),
      cfgScaled,
      // non-normalized: num AND maxHash set, so merge still truncates
      SketchConfig(num = 8, ksize = 4, maxHash = Long.MinValue))
    val edges = Seq(Array.emptyLongArray, Array(Long.MinValue, -1L),
      Array(0L, 1L, Long.MaxValue, Long.MinValue, -2L, -1L))
    for (cfg <- configs) {
      def agrees(a: Array[Long], b: Array[Long]): Boolean = {
        val (common, denom) = intersectionSizeByMerge(a, b, cfg)
        MinHash.intersectionSize(a, b, cfg) == ((common, denom)) &&
          MinHash.compare(a, b, cfg) == common.toDouble / math.max(1L, denom).toDouble
      }
      for (a <- edges; b <- edges)
        assert(agrees(a, b), s"$cfg a=${a.toSeq} b=${b.toSeq}")
      check(s"oracle num=${cfg.num} maxHash=${cfg.maxHash}",
        Prop.forAll(pairGen(if (cfg.num == 500) 1200 else 40)) { case (a, b) => agrees(a, b) })
    }
  }

  test("containment is bounded and 1.0 on self; countCommon matches the set model") {
    check("containment", Prop.forAll(minsGen, minsGen) { (a, b) =>
      val c = MinHash.containment(a, b)
      val model = a.toSet.intersect(b.toSet).size.toLong
      c >= 0.0 && c <= 1.0 &&
        (a.isEmpty || MinHash.containment(a, a) == 1.0) &&
        MinHash.countCommon(a, b) == model
    })
  }

  test("angular similarity is symmetric, bounded, 1.0 on self") {
    val abGen = minsGen.map { m =>
      (m, Array.tabulate(m.length)(i => (i % 7 + 1).toLong))
    }
    check("angular", Prop.forAll(abGen, abGen) { case ((ma, aa), (mb, ab)) =>
      val s = MinHash.angularSimilarity(ma, aa, mb, ab)
      val t = MinHash.angularSimilarity(mb, ab, ma, aa)
      s == t && s >= 0.0 && s <= 1.0 &&
        (ma.isEmpty || MinHash.angularSimilarity(ma, aa, ma, aa) == 1.0)
    })
  }
}
