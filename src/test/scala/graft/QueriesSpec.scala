package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SparkTestSession
import graft.queries.{Dedup, Embeddings, Multimodal, QuerySupport, Streaming, Text}

/** Operator-surface checks beyond the driver's DuckDB gate (which covers
  * the oracle'd queries): structural assertions for rows-only operators. */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("the driver-contract entry point clusters the 1000-row corpus") {
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    assert(rows.nonEmpty, "driver smoke-check: entry must return rows")
    assert(df.columns.contains("image_id") && df.columns.contains("cluster"))
    assert(rows.length == 1000, "one label per corpus row (singletons included)")
  }

  test("every registered query runs and every oracle key has a query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    // cheap structural run (no action) to catch analysis errors early
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, name)
    }
  }

  test("d04 confirmed minhash pairs are ordered and above threshold") {
    val rows = SparkEntry.queries("d04_minhash_jaccard_dedup")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.5)
    }
  }

  test("d15 audit: exact side matches a direct kernel recount; error is sketch-noise-sized") {
    val rows = SparkEntry.queries("d15_sketch_error_audit")(spark, sf).collect()
    assert(rows.nonEmpty)
    // 128-min estimator noise is ~1/sqrt(128) ≈ 0.088 one-sigma; anything
    // past 3 sigma would mean the est/exact sides disagree on the gram
    // universe, not statistics
    rows.foreach { r =>
      val (est, exact, err) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(err === math.abs(BigDecimal(est - exact)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      assert(err <= 0.27, s"pair (${r.getLong(0)},${r.getLong(1)}): |$est-$exact|")
    }
    // one pair re-counted straight from the raw text with the kernel's
    // own normalizer — pins the query's gram universe to Shingles'
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val r0 = rows.minBy(_.getLong(0))
    def gramSet(id: Long): Set[String] = {
      val nt = graft.core.Shingles.normalizeText(docs(id))
      if (nt.length < 4) Set(nt) else nt.sliding(4).toSet
    }
    val (ga, gb) = (gramSet(r0.getLong(0)), gramSet(r0.getLong(1)))
    val expected = BigDecimal(ga.intersect(gb).size.toDouble / ga.union(gb).size)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r0.getDouble(3) === expected)
    // the query's SQL normalizer must equal the kernel's on hostile
    // whitespace (leading \n\t, internal runs, trailing \r) — trim-first
    // would keep a leading space the sketch never sees
    import spark.implicits._
    val hostile = Seq("\n\tfoo  bar baz\r", "  QUICK\t\tbrown ", "x")
    val viaSql = hostile.toDF("text")
      .select(trim(regexp_replace(lower(col("text")), "\\s+", " ")))
      .collect().map(_.getString(0)).toSeq
    assert(viaSql === hostile.map(graft.core.Shingles.normalizeText))
  }

  test("d15 gram universe: short texts keep their whole-string gram like the kernel") {
    import spark.implicits._
    // sub-gram-width, exact-width, hostile-whitespace-only, and empty
    // texts; the kernel sketches "ab" as one whole-string shingle and
    // "" as nothing (Shingles.charShingleHashes) — the audit's gram
    // derivation must agree or short candidate endpoints vanish
    val docs = Seq((1L, "ab"), (2L, "abcd"), (3L, " \t\n"), (4L, ""), (5L, "abcde"))
      .toDF("doc_id", "text")
    val normed = docs.select(col("doc_id"),
      trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("nt"))
    val got = Dedup.auditGrams(normed).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
    assert(got.get(1L).contains(Set("ab")))
    assert(got.get(2L).contains(Set("abcd")))
    assert(!got.contains(3L) && !got.contains(4L)) // empty after normalize
    assert(got.get(5L).contains(Set("abcd", "bcde")))
    // parity with the kernel's own universe on every row
    for ((id, text) <- Seq(1L -> "ab", 2L -> "abcd", 5L -> "abcde")) {
      val nt = graft.core.Shingles.normalizeText(text)
      val kernel = if (nt.isEmpty) Set.empty[String]
        else if (nt.length < 4) Set(nt) else nt.sliding(4).toSet
      assert(got.getOrElse(id, Set.empty) === kernel, s"doc $id")
    }
    // the production derivation (hash inside the lambda, distinct on
    // longs) must equal auditGrams → xxhash64(gram) row-for-row on the
    // same hostile corpus — d15 runs auditGramHashes, the spec above
    // pins auditGrams, this equality ties the two
    val viaStrings = Dedup.auditGrams(normed)
      .select(col("doc_id"), xxhash64(col("gram")).as("gh"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaHashes = Dedup.auditGramHashes(normed)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaHashes === viaStrings)
  }

  test("sm07 angular scoring clamps fp round-up past ρ=1 to similarity 1.0, never NaN") {
    import spark.implicits._
    val rows = Seq(
      (1.0000001, 1.0, 1.0), // ρ > 1 by construction: unclamped acos → NaN
      (3.0, 3.0, 3.0),       // identical vectors: dot = n2a = n2b
      (0.0, 2.0, 5.0),       // orthogonal: acos(0) → sim 0
      (-4.0, 4.0, 4.0))      // opposite: ρ = −1 → sim −1
      .toDF("dot", "n2a", "n2b")
    val got = rows.select(
        Dedup.angularSimCol(col("dot"), col("n2a"), col("n2b")).as("s"))
      .collect().map(_.getDouble(0)).toSeq
    assert(!got.exists(_.isNaN), s"NaN leaked through the clamp: $got")
    assert(got === Seq(1.0, 1.0, 0.0, -1.0))
    // kernel twin agrees on the identical-sketch case
    val mins = Array(11L, 22L, 33L)
    val ab = Array(2L, 5L, 7L)
    assert(graft.core.MinHash.angularSimilarity(mins, ab, mins, ab) === 1.0)
  }

  test("t06 unigram logprob: a hand-rolled corpus model reproduces one doc's score") {
    val out = SparkEntry.queries("t06_unigram_logprob")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty).toSeq)
    val df = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.length.toLong).toMap
    val total = df.values.sum.toDouble
    val (id, toks) = docs.minBy(_._1)
    val expected = toks.map(w => math.log(df(w) / total)).sum / toks.length
    val (n, got) = out(id)
    assert(n === toks.length.toLong)
    assert(math.abs(got - expected) < 1e-5, s"doc $id: $got vs $expected")
    // every score is a genuine log-probability: strictly negative
    assert(out.values.forall(_._2 < 0.0))
  }

  test("e03 LSH pairs are a subset of e02 brute-force pairs (same threshold)") {
    val brute = SparkEntry.queries("e02_embedding_pairs")(spark, sf)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("e03_embedding_lsh_pairs")(spark, sf)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute), s"LSH produced non-brute pairs: ${lsh -- brute}")
    // hard recall gate: multi-probe LSH must find ≥90% of the true pairs
    // (the sf0.01 oracle additionally requires exact equality there)
    assert(lsh.size >= math.ceil(brute.size * 0.9),
      s"e03 recall ${lsh.size}/${brute.size} below 0.9")
    info(s"e03 recall vs brute force: ${lsh.size}/${brute.size}")
  }

  test("d11 keeps exactly one representative per d06 cluster, the token-argmax") {
    val toks: String => Long =
      s => s.split(" ").count(_.nonEmpty).toLong
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> toks(r.getString(1))).toMap
    val clusters = SparkEntry.queries("d06_doc_clusters")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val kept = SparkEntry.queries("d11_canonical_keep")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val members = clusters.groupBy(_._2).map { case (c, xs) => c -> xs.map(_._1).toSet }
    assert(kept.length == members.size, "one keeper per cluster")
    // members accounted exactly once across keepers' clusters
    assert(kept.map(_._3).sum == docs.size)
    kept.foreach { case (c, keepId, nMembers, keepTokens) =>
      val m = members(c)
      assert(m.contains(keepId), s"keeper $keepId not in cluster $c")
      assert(nMembers == m.size)
      assert(keepTokens == docs(keepId))
      // argmax rule: no member strictly longer; ties resolve to lowest id
      assert(m.forall(id => docs(id) < keepTokens ||
        (docs(id) == keepTokens && id >= keepId)),
        s"cluster $c keeper $keepId is not the (tokens desc, id asc) argmax")
    }
  }

  test("d12 probes the delta against the corpus index and finds every mixed d04 pair") {
    val rows = SparkEntry.queries("d12_incremental_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    rows.foreach { case (newId, dupOf, jac) =>
      assert(newId % 5 == 0, s"$newId is not a delta doc")
      assert(dupOf % 5 != 0, s"dup_of $dupOf is not a corpus doc")
      assert(jac >= 0.5)
    }
    assert(rows.map(_._1).distinct.length == rows.length, "one decision per new doc")
    // completeness vs the batch self-dedup: every d04-confirmed pair with
    // exactly one delta endpoint must surface that delta doc here (d04's
    // total-bucket cap <= 64 implies d12's old-side cap <= 64)
    val mixed = SparkEntry.queries("d04_minhash_jaccard_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) =>
        (a % 5 == 0, b % 5 == 0) match {
          case (true, false) => Some(a)
          case (false, true) => Some(b)
          case _ => None
        }
      }.toSet
    val reported = rows.map(_._1).toSet
    assert(mixed.subsetOf(reported),
      s"delta docs with a confirmed corpus dup missing from d12: ${mixed -- reported}")
    info(s"d12 decisions: ${rows.length}; mixed d04 pairs covered: ${mixed.size}")
  }

  test("d13 reproduces the repeated 8-gram span rule computed locally") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val grams: Map[Long, Seq[String]] = docs.map { case (id, t) =>
      val ts = t.split(" ").filter(_.nonEmpty)
      id -> (if (ts.length < 8) Seq.empty[String]
             else ts.sliding(8).map(_.mkString(" ")).toSeq)
    }
    val docFreq = grams.toSeq.flatMap { case (id, gs) => gs.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.size }
    val got = SparkEntry.queries("d13_repeated_ngram_spans")(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == docs.keySet, "one row per document")
    docs.keys.foreach { id =>
      val expected = (grams(id).size.toLong,
        grams(id).count(docFreq(_) >= 2).toLong)
      assert(got(id) == expected, s"doc $id: got ${got(id)}, expected $expected")
    }
    val dup = got.values.map(_._2).sum
    assert(dup > 0, "near-dup docs must share flagged spans at this sf")
    info(s"d13 duplicated-span grams: $dup of ${got.values.map(_._1).sum}")
  }

  test("d19 boilerplate strip equals a local segment-df rewrite, byte for byte") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // local reference: non-overlapping 8-token segments, df >= 3 dropped
    val segs: Map[Long, Seq[String]] = docs.map { case (id, t) =>
      val ts = t.split(" ").filter(_.nonEmpty)
      id -> ts.grouped(8).filter(_.length == 8).map(_.mkString(" ")).toSeq
    }
    val docFreq = segs.toSeq.flatMap { case (id, gs) => gs.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.size }
    val expected = docs.map { case (id, t) =>
      val ts = t.split(" ").filter(_.nonEmpty)
      val nseg = ts.length / 8
      val kept = segs(id).zipWithIndex.collect { case (g, _) if docFreq(g) < 3 => g }
      val tail = ts.drop(nseg * 8)
      val clean = (kept ++ (if (tail.nonEmpty) Seq(tail.mkString(" ")) else Nil)).mkString(" ")
      id -> ((nseg.toLong, (nseg - kept.size).toLong,
        (kept.size * 8 + tail.length).toLong, clean))
    }
    val got = SparkEntry.queries("d19_boilerplate_strip")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(got.keySet == docs.keySet, "one row per document")
    docs.keys.foreach { id =>
      assert(got(id) == expected(id), s"doc $id: got ${got(id)}, expected ${expected(id)}")
    }
    val dropped = got.values.map(_._2).sum
    assert(dropped > 0, "the df>=3 template threshold must bite at this sf")
    assert(got.values.exists(_._2 == 0), "most docs must survive untouched")
    info(s"d19 boilerplate segments dropped: $dropped across " +
      s"${got.values.count(_._2 > 0)} of ${docs.size} docs")
  }

  test("d20 dedup-pressure matrix is exactly the d04 edge set attributed to source pairs") {
    val srcOf = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val edges = SparkEntry.queries("d04_minhash_jaccard_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = edges
      .map { case (a, b) =>
        val (sa, sb) = (srcOf(a), srcOf(b))
        ((if (sa <= sb) sa else sb, if (sa <= sb) sb else sa), (a, b))
      }
      .groupBy(_._1)
      .map { case (k, xs) =>
        k -> ((xs.length.toLong,
          xs.flatMap { case (_, (a, b)) => Seq(a, b) }.distinct.length.toLong))
      }
    val got = SparkEntry.queries("d20_dedup_pressure")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == expected, s"matrix mismatch: got $got expected $expected")
    assert(got.nonEmpty, "the injected near-dups must produce at least one cell")
    val cross = got.keys.count { case (sa, sb) => sa != sb }
    info(s"d20 cells: ${got.size} (${cross} cross-source), " +
      s"pairs ${got.values.map(_._1).sum}")
  }

  test("d21 dilution audit is exactly the d04 edge set rolled up over the d06 clusters") {
    val edges = SparkEntry.queries("d04_minhash_jaccard_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val clusterOf = SparkEntry.queries("d06_doc_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val members = clusterOf.groupBy(_._2).map { case (c, xs) => c -> xs.size.toLong }
    val byCluster = edges.groupBy { case (a, b, _) =>
      val c = clusterOf(a)
      assert(c == clusterOf(b), s"edge ($a,$b) spans clusters — closure broken")
      c
    }
    val expected = byCluster.map { case (c, es) =>
      val n = members(c)
      c -> ((n, es.length.toLong,
        BigDecimal(es.length * 2.0 / (n * (n - 1))).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        es.map(_._3).min))
    }
    val got = SparkEntry.queries("d21_cluster_dilution")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(got == expected, s"dilution mismatch: got $got expected $expected")
    assert(got.nonEmpty, "injected near-dups must produce at least one multi-member cluster")
    // every cluster with >= 2 members appears: CC clusters are edge-built
    assert(got.keySet == members.filter(_._2 >= 2).keySet)
    val chains = got.values.count(_._3 < 1.0)
    info(s"d21 clusters: ${got.size}, non-clique (diluted): $chains, " +
      s"weakest link ${got.values.map(_._4).min}")
  }

  test("d22 split is cluster-keyed: rule matches, no confirmed edge straddles a boundary") {
    val rows = SparkEntry.queries("d22_cluster_safe_split")(spark, sf).collect()
    val clusterOf = SparkEntry.queries("d06_doc_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.length == clusterOf.size, "one split row per document")
    val splitOf = rows.map(r => r.getLong(0) -> r.getString(2)).toMap
    rows.foreach { r =>
      val (doc, cluster, split) = (r.getLong(0), r.getLong(1), r.getString(2))
      assert(cluster == clusterOf(doc), s"doc $doc labeled off the d06 closure")
      val expected = (cluster % 10) match {
        case 0 => "val"; case 1 => "test"; case _ => "train"
      }
      assert(split == expected, s"doc $doc: rule mismatch")
    }
    // the property the query exists for: confirmed near-dup pairs never
    // straddle a split boundary (per-document splitting violates this on
    // every injected dup whose ids hash apart)
    val edges = SparkEntry.queries("d04_minhash_jaccard_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    edges.foreach { case (a, b) =>
      assert(splitOf(a) == splitOf(b), s"near-dup pair ($a,$b) leaks across splits")
    }
    val perDocLeaks = edges.count { case (a, b) => a % 10 != b % 10 }
    info(s"d22 splits: ${rows.groupBy(_.getString(2)).map { case (k, v) => s"$k=${v.length}" }.mkString(", ")}; " +
      s"edges checked ${edges.length}; naive per-doc split would leak $perDocLeaks of them")
  }

  test("d23 split-stability audit: prefix chain is a real clustering, leak flags exact") {
    val rows = SparkEntry.queries("d23_split_stability")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4), r.getBoolean(5)))
    val nDocs = SparkEntry.queries("d22_cluster_safe_split")(spark, sf).count()
    val cutoff = nDocs * 4 / 5
    assert(rows.length == cutoff, "one row per prefix doc")
    assert(rows.forall(_._1 < cutoff), "only prefix docs audited")
    def rule(c: Long): String = (c % 10) match {
      case 0 => "val"; case 1 => "test"; case _ => "train"
    }
    val fullOf = SparkEntry.queries("d06_doc_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (doc, pre, full, sp, sf2, leaked) =>
      assert(full == fullOf(doc), s"doc $doc: cluster_full off the d06 closure")
      assert(sp == rule(pre) && sf2 == rule(full), s"doc $doc: split rule mismatch")
      assert(leaked == (sp != sf2), s"doc $doc: leak flag wrong")
    }
    // cluster_pre is a min-member labeling of the prefix: every label is
    // a member of its own cluster and is its minimum
    rows.groupBy(_._2).foreach { case (label, members) =>
      assert(members.map(_._1).min == label,
        s"prefix cluster $label is not its min member")
    }
    val leaks = rows.count(_._6)
    val moved = rows.count(r => r._2 != r._3)
    info(s"d23: ${rows.length} prefix docs, $moved changed cluster id on growth, " +
      s"$leaks leaked across a split boundary")
  }

  test("d23 detection path: a growth bridge merges prefix clusters and flips a split") {
    import spark.implicits._
    import graft.operators.ConnectedComponents
    // the failure mode the audit exists for, constructed directly (the
    // LSH/confirm stages feeding the closure are oracle-verified in
    // d03/d04; at sf0.001/sf0.01 no injected dup happens to bridge the
    // 4n/5 cutoff, so the corpus runs show only the stable case): prefix
    // clusters {0,10} and {1,11}; growth adds doc 20 (>= cutoff) whose
    // confirmed edges 10-20 and 20-11 BRIDGE them. The merged cluster
    // inherits min id 0, so docs 1 and 11 move cluster 1 -> 0 — i.e.
    // split test (1%10) -> val (0%10): a leak d23's flag must raise.
    def labels(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] =
      ConnectedComponents.labelAll(nodes.toDF("id"), edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pre = labels(Seq(0L, 1L, 10L, 11L), Seq((0L, 10L), (1L, 11L)))
    val full = labels(Seq(0L, 1L, 10L, 11L, 20L),
      Seq((0L, 10L), (1L, 11L), (10L, 20L), (20L, 11L)))
    assert(pre == Map(0L -> 0L, 10L -> 0L, 1L -> 1L, 11L -> 1L))
    assert(full(1L) == 0L && full(11L) == 0L, "bridge must merge the clusters")
    // the registered rule (the same Column both d22 and d23 run) flips
    val out = Seq(1L, 11L).toDF("c")
      .select(Dedup.clusterSplitRule(col("c")).as("before"),
        Dedup.clusterSplitRule(lit(0L)).as("after")).collect()
    out.foreach { r =>
      assert(r.getString(0) == "test" && r.getString(1) == "val",
        "cluster 1 -> 0 must move test -> val")
    }
    // exactly the leak predicate d23 publishes
    val leaked = Seq(1L, 11L).map(doc =>
      (doc, pre(doc) % 10 != full(doc) % 10)).filter(_._2).map(_._1)
    assert(leaked == Seq(1L, 11L), s"leak flags wrong: $leaked")
  }

  test("m11 keeps exactly one least-degraded image per flagship cluster") {
    val sfDir = sf
    val labels = SparkEntry.queries("m01_corpus_dedup_clusters")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val meta = graft.sources.SyntheticCorpus.corpus(spark, QuerySupport.corpusRows(sfDir)).toDF()
      .select(col("image_id"), col("fmt"), length(col("bytes")).cast("long").as("n_bytes"))
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    def fmtRank(f: String): Int = f match {
      case "ppm" => 0; case "png" => 1; case "ppmq" => 2; case _ => 3
    }
    val expected = labels.groupBy(_._2).map { case (cluster, members) =>
      val pick = members.map(_._1).minBy { id =>
        val (f, nb) = meta(id); (fmtRank(f), -nb, id)
      }
      val (f, nb) = meta(pick)
      cluster -> ((pick, members.head._3, f, nb))
    }
    val got = SparkEntry.queries("m11_image_canonical_keep")(spark, sfDir)
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2), r.getString(3), r.getLong(4))))
      .toMap
    assert(got == expected, "keep table mismatch vs local recompute")
    // the rule bites: at least one multi-member cluster keeps a
    // less-degraded copy over a lossy/requantized member
    val multi = labels.groupBy(_._2).filter(_._2.length >= 2)
    assert(multi.nonEmpty)
    val improved = multi.keys.count { c =>
      val kinds = multi(c).map(id => fmtRank(meta(id._1)._1)).distinct
      kinds.length > 1
    }
    assert(improved > 0,
      "no cluster has mixed degradation levels — the fmt-rank rule never bites")
    info(s"m11: ${got.size} clusters, ${multi.size} multi-member, " +
      s"$improved with mixed degradation levels")
  }

  test("t14 tf-idf top terms match a local recompute exactly") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val n = docs.length
    val tf = docs.flatMap { case (doc, text) =>
      text.split(" ").filter(_.nonEmpty).groupBy(identity)
        .map { case (term, occ) => (doc, term, occ.length.toLong) }
    }
    // per-ROW distinct df — the Spark side's array_distinct formulation
    val dfm = docs.flatMap { case (_, text) =>
      text.split(" ").filter(_.nonEmpty).distinct.toSeq
    }.groupBy(identity).map { case (term, occ) => term -> occ.length.toLong }
    val expected = tf.groupBy(_._1).flatMap { case (doc, rows) =>
      val scored = rows.map { case (_, term, c) =>
        val idf = math.log((n + 1.0) / (dfm(term) + 1.0)) + 1.0
        val score = BigDecimal(c * idf)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (term, c, dfm(term), score)
      }
      scored.sortBy { case (term, _, _, score) => (-score, term) }
        .take(3).zipWithIndex
        .map { case ((term, c, dfv, score), i) => (doc, i + 1, term, c, dfv, score) }
        .toSeq
    }.toSet
    val got = SparkEntry.queries("t14_tfidf_terms")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    assert(got == expected, "tf-idf top-3 mismatch vs local recompute")
    // the idf weighting bites: some doc's top term is NOT its most
    // frequent term (a rarer term outranks a commoner one on idf)
    val byDoc = got.groupBy(_._1)
    val idfBites = byDoc.values.count { rows =>
      val top = rows.minBy(_._2)
      rows.exists(r => r._4 > top._4)
    }
    assert(idfBites > 0, "idf never outranked raw frequency — weighting is vacuous")
    info(s"t14: ${byDoc.size} docs, idf outranks raw tf in $idfBites")
  }

  test("m12 per-cluster caption/phash consistency matches a local recompute") {
    val labels = SparkEntry.queries("m01_corpus_dedup_clusters")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val meta = graft.sources.SyntheticCorpus.corpus(spark, QuerySupport.corpusRows(sf))
      .toDF().select("image_id", "caption", "phash").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val expected = labels.filter(_._3 >= 2).groupBy(_._2).map { case (cl, ms) =>
      val cs = ms.map(m => meta(m._1))
      val caps = cs.map(_._1)
      cl -> ((ms.length.toLong, caps.distinct.length.toLong,
        cs.map(_._2).distinct.length.toLong,
        caps.map(_.length).min, caps.map(_.length).max,
        caps.distinct.length == 1))
    }
    val got = SparkEntry.queries("m12_caption_consistency")(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getInt(5), r.getBoolean(6)))).toMap
    assert(got == expected, "consistency profile mismatch vs local recompute")
    // both report branches are exercised by the injected dup kinds:
    // caption-preserving kinds (exact/noise/reencode/pngenc/jpgenc) give
    // consistent clusters; caption-perturbing kinds (caption/capsub/
    // capedit) give drifted ones
    assert(got.values.exists(_._6), "no caption-consistent cluster")
    assert(got.values.exists(!_._6), "no caption-drifted cluster — dup kinds missing")
    info(s"m12: ${got.size} multi-member clusters, " +
      s"${got.values.count(!_._6)} with caption drift")
  }

  test("d14 containment matches the kernel recompute and catches non-Jaccard subset dups") {
    val rows = SparkEntry.queries("d14_containment_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // recompute from the dumped sketches with the scalar kernel
    val sk = spark.read
      .parquet(s"/tmp/graft_derived/${new java.io.File(sf).getName}/doc_sketches.parquet")
      .select("doc_id", "mins").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    rows.foreach { case (a, b, cab, cba) =>
      assert(a < b)
      assert(math.max(cab, cba) >= 0.8)
      // Spark's round() is HALF_UP, not rint's half-even
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val eab = r6(graft.core.MinHash.containment(sk(a), sk(b)))
      val eba = r6(graft.core.MinHash.containment(sk(b), sk(a)))
      assert(cab == eab && cba == eba, s"($a,$b): got ($cab,$cba), kernel ($eab,$eba)")
    }
    // the semantic justification: containment is NOT symmetric Jaccard —
    // asymmetric pairs (one side contained, the other not) must score
    // differently in the two directions whenever sketch sizes differ
    rows.filter { case (a, b, _, _) => sk(a).length != sk(b).length }
      .foreach { case (a, b, cab, cba) =>
        assert(cab != cba, s"($a,$b) sketch sizes differ but containments equal")
      }
    info(s"d14 containment pairs: ${rows.length}")
  }

  test("d16 decontamination matches a local exact recount; eval side broadcasts") {
    val df = SparkEntry.queries("d16_decontaminate")(spark, sf)
    // the eval gram set must reach the train side as a broadcast, never a
    // shuffle of the 100-TB train grams to meet it
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan)
    val got = df.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    // independent recount on exact gram strings (the query joins on
    // xxhash64 of the same grams)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).filter(_._2.length >= 13)
    def grams(t: String): Set[String] =
      (0 to t.length - 13).map(i => t.substring(i, i + 13)).toSet
    val evalIds = docs.collect { case (id, _) if id % 43 == 0 => id }.toSet
    assert(evalIds.nonEmpty, "mod-43 split selected no eval docs at this sf")
    val evalGrams = docs.filter(d => evalIds(d._1)).flatMap(d => grams(d._2)).toSet
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = docs.filterNot(d => evalIds(d._1)).flatMap { case (id, t) =>
      val g = grams(t)
      val hit = g.count(evalGrams.contains).toLong
      if (hit > 0) {
        val ov = r6(hit.toDouble / g.size)
        Some(id -> ((g.size.toLong, hit, ov, ov >= 0.5)))
      } else None
    }.toMap
    assert(got == expected,
      s"diff: ${(got.keySet ++ expected.keySet).filter(k => got.get(k) != expected.get(k)).take(5)}")
    info(s"d16: ${got.size} train docs overlap the ${evalIds.size}-doc eval set; " +
      s"${got.count(_._2._4)} contaminated")
  }

  test("d17 bloom-prefiltered decontamination equals d16 exactly; the prefilter prunes") {
    val exact = SparkEntry.queries("d16_decontaminate")(spark, sf)
    val bloom = SparkEntry.queries("d17_decontaminate_bloom")(spark, sf)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      .toSet
    // no false negatives (bloom) + exact confirm (join) => identical output
    assert(key(bloom) == key(exact))
    // the exact-confirm join must be the pinned shuffle join (the
    // at-scale regime), with the bloom arriving as a scalar subquery
    val plan = bloom.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(plan.contains("might_contain") || plan.contains("Subquery"), plan)
    // and the prefilter must actually prune: count the grams that would
    // reach the shuffle with vs without it
    graft.functions.GraftFunctions // touch: extensions registered by the query above
    val total = spark.sql("SELECT count(*) FROM decon_grams WHERE NOT ev").head().getLong(0)
    val surviving = spark.sql(
      """WITH eg AS (SELECT DISTINCT gh FROM decon_grams WHERE ev),
        |bloom AS (SELECT graft_bloom_agg(gh, CAST(16384 AS BIGINT)) AS bf FROM eg)
        |SELECT count(*) FROM decon_grams
        |WHERE NOT ev AND graft_might_contain((SELECT bf FROM bloom), gh)""".stripMargin)
      .head().getLong(0)
    assert(surviving < total,
      s"bloom prefilter prunes nothing: $surviving of $total grams survive")
    info(f"d17: bloom prefilter passes $surviving of $total train grams " +
      f"(${100.0 * surviving / total}%.1f%%) to the exact shuffle join")
  }

  test("m08 banded image decontamination equals the all-pairs Hamming ground truth") {
    val df = SparkEntry.queries("m08_image_decontaminate")(spark, sf)
    // eval keys must broadcast — the train keys never shuffle to meet them
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    val got = df.collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getInt(2), r.getString(3)))).toMap
    // brute-force recount from the dumped phashes: every eval×train pair
    val ph = spark.read.parquet(
        s"/tmp/graft_derived/${new java.io.File(sf).getName}/m08_phashes.parquet")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    val (eval, train) = ph.partition(_._3)
    assert(eval.nonEmpty && train.nonEmpty)
    val want = train.flatMap { case (tid, tp, _) =>
      val hits = eval.map { case (eid, ep, _) =>
        (eid, java.lang.Long.bitCount(tp ^ ep)) }.filter(_._2 <= 2)
      if (hits.isEmpty) None
      else Some(tid -> ((hits.length.toLong, hits.map(_._2).min, hits.map(_._1).min)))
    }.toMap
    // equality IS the pigeonhole recall proof: a ham <= 2 pair missed by
    // the 15 four-block keys would be present in `want` but not `got`
    assert(got == want,
      s"diff: ${(got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k)).take(5)}")
    info(s"m08: ${got.size} of ${train.length} train images flagged against " +
      s"${eval.length} eval images (min_ham histogram: ${
        got.values.groupBy(_._2).view.mapValues(_.size).toMap})")
  }

  test("t11 keeps exactly the at/above-P75 docs per lang with no ordering in the plan") {
    val df = SparkEntry.queries("t11_quality_cutoff")(spark, sf)
    // the point of the cutoff formulation: NO window and NO sort-merge —
    // an agg pass plus a broadcast-back filter, both fully parallel
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    val got = df.collect().map(r => r.getLong(0)).toSet
    // local recount with the exact interpolated-percentile rule
    val scored = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "text").collect().map { r =>
        val tk = r.getString(2).split(" ").filter(_.nonEmpty)
        (r.getLong(0), r.getString(1),
          tk.count(x => x == "the" || x == "a").toDouble / tk.length)
      }
    val want = scored.groupBy(_._2).flatMap { case (_, docs) =>
      val s = docs.map(_._3).sorted
      val h = 0.75 * (s.length - 1)
      val cut = s(h.floor.toInt) + (s(h.ceil.toInt) - s(h.floor.toInt)) * (h - h.floor)
      docs.filter(_._3 >= cut).map(_._1).toSeq
    }.toSet
    assert(got == want, s"got-only: ${(got -- want).take(5)}; want-only: ${(want -- got).take(5)}")
    info(s"t11: kept ${got.size} of ${scored.length} docs across ${
      scored.map(_._2).distinct.length} langs")
  }

  test("d18 curation manifest is a strict funnel whose stages cross-check the source queries") {
    val m = SparkEntry.queries("d18_curation_manifest")(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val stages = Seq("raw", "quality", "eval_split", "decontaminated", "near_dedup")
    assert(m.keySet == stages.toSet)
    // monotone funnel in BOTH docs and tokens
    stages.sliding(2).foreach { case Seq(hi, lo) =>
      assert(m(hi)._1 >= m(lo)._1 && m(hi)._2 >= m(lo)._2, s"$hi -> $lo: $m")
    }
    // raw row is the table itself
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(m("raw")._1 == nDocs)
    // decontamination stage drops exactly the d16-flagged docs that were
    // still alive after the quality + eval gates
    val flagged = SparkEntry.queries("d16_decontaminate")(spark, sf)
      .where(col("contaminated")).select("doc_id").collect().map(_.getLong(0)).toSet
    val alive = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect().map { r =>
        val tk = r.getString(1).split(" ").filter(_.nonEmpty)
        val stop = tk.count(x => x == "the" || x == "a")
        (r.getLong(0), tk.length, stop.toDouble / tk.length)
      }.filter { case (id, n, q) => n >= 20 && q >= 0.05 && id % 43 != 0 }
      .map(_._1).toSet
    assert(m("eval_split")._1 - m("decontaminated")._1 == (alive & flagged).size.toLong)
    // near_dedup keeps exactly one doc per cluster that still has members
    val clusters = spark.read.parquet(
        s"/tmp/graft_derived/${new java.io.File(sf).getName}/doc_cluster_labels.parquet")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val survivors = alive -- flagged
    assert(m("near_dedup")._1 == survivors.map(clusters).size.toLong)
    info(s"d18 funnel: ${stages.map(st => s"$st=${m(st)._1}").mkString(" -> ")}")
  }

  test("t10 token-budget mix is the maximal quality-ranked prefix within each budget") {
    val got = SparkEntry.queries("t10_token_budget_mix")(spark, sf).collect()
      .map(r => ((r.getString(1), r.getString(2)), (r.getLong(0), r.getInt(3), r.getLong(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._3)).toMap
    // local recount of the quality ordering (stop-ratio desc, doc_id asc)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "source", "text").collect().map { r =>
        val tk = r.getString(3).split(" ").filter(_.nonEmpty)
        val stop = tk.count(x => x == "the" || x == "a")
        ((r.getString(1), r.getString(2)),
          (r.getLong(0), tk.length, stop.toDouble / tk.length))
      }.groupBy(_._1).view.mapValues(
        _.map(_._2).sortBy { case (id, _, q) => (-q, id) }).toMap
    docs.foreach { case (grp, ranked) =>
      // greedy prefix: docs selected in rank order while cum <= 120,
      // stopping at the FIRST doc that would overflow (window semantics)
      var cum = 0L
      val want = ranked.takeWhile { case (_, n, _) => cum += n; cum <= 120 }
        .map { var c = 0L; d => { c += d._2; (d._1, d._2, c) } }
      assert(got.getOrElse(grp, Array.empty[(Long, Int, Long)]).toSeq == want.toSeq,
        s"group $grp: got ${got.get(grp).map(_.toSeq)}, want ${want.toSeq}")
    }
    val nSel = got.values.map(_.length).sum
    info(s"t10: $nSel docs selected across ${docs.size} (lang, source) shards")
  }

  test("st05 streaming incremental dedup equals d12's one-shot batch answer") {
    def decisions(name: String) =
      SparkEntry.queries(name)(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val stream = decisions("st05_stream_incr_dedup")
    val batch = decisions("d12_incremental_dedup")
    assert(stream == batch,
      s"stream-only: ${stream -- batch}; batch-only: ${batch -- stream}")
    info(s"st05 == d12: ${stream.size} decisions across 2 micro-batches")
  }

  test("st06 streaming decontamination equals d16's one-shot answer") {
    def scores(name: String) =
      SparkEntry.queries(name)(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getBoolean(4))).toSet
    val stream = scores("st06_stream_decontaminate")
    val batch = scores("d16_decontaminate")
    assert(stream == batch,
      s"stream-only: ${(stream -- batch).take(3)}; batch-only: ${(batch -- stream).take(3)}")
    info(s"st06 == d16: ${stream.size} per-doc scores across 2 micro-batches")
  }

  test("st07 streaming image ingest equals m09; m09 equals all-pairs Hamming recount") {
    def verdicts(name: String) =
      SparkEntry.queries(name)(spark, sf).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getAs[Number](2).intValue,
          r.getString(3))).toSet
    val stream = verdicts("st07_stream_image_neardup")
    val batch = verdicts("m09_incremental_image_neardup")
    assert(stream == batch,
      s"stream-only: ${(stream -- batch).take(3)}; batch-only: ${(batch -- stream).take(3)}")
    // second-sf recall re-proof (the sf0.01 oracle brute-forces the same):
    // banded probe == all new×corpus pairs within Hamming 2
    val ph = spark.read.parquet(
        s"/tmp/graft_derived/${new java.io.File(sf).getName}/m09_phashes.parquet")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    val corpus = ph.filter(!_._3)
    val truth = ph.filter(_._3).flatMap { case (nid, nph, _) =>
      val hits = corpus.filter { case (_, cph, _) =>
        java.lang.Long.bitCount(nph ^ cph) <= 2 }
      if (hits.isEmpty) None
      else Some((nid, hits.length.toLong,
        hits.map(h => java.lang.Long.bitCount(nph ^ h._2)).min,
        hits.map(_._1).min))
    }.toSet
    assert(batch == truth,
      s"banded-only: ${(batch -- truth).take(3)}; truth-only: ${(truth -- batch).take(3)}")
    info(s"st07 == m09 == brute force: ${batch.size} flagged of ${ph.count(_._3)} arriving images")
  }

  test("e05 clusters every brute-force near-dup pair together; labels are min-ids") {
    val brute = SparkEntry.queries("e02_embedding_pairs")(spark, sf)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val label = SparkEntry.queries("e05_embedding_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(label.size == n, "one label per vector (singletons included)")
    // confirmed near-dup pairs land in the same component. The edge set is
    // the LSH scale path, spec-gated at >=90% recall at this sf (the sf0.01
    // oracle additionally requires the exact edge set, where this becomes
    // every-pair); transitive closure can only merge, never split.
    val together = brute.count { case (a, b) => label(a) == label(b) }
    assert(together >= math.ceil(brute.length * 0.9),
      s"co-clustered pairs $together/${brute.length} below 0.9")
    info(s"e05 co-clustered brute pairs: $together/${brute.length}")
    // labels are canonical min-ids: a component's label is one of its members
    label.groupBy(_._2).foreach { case (c, members) =>
      assert(members.keySet.contains(c), s"cluster label $c not a member id")
      assert(c == members.keySet.min, s"cluster label $c is not the min id")
    }
  }

  test("e07 semantic dedup: dominance rule recomputed exactly; one row per vector") {
    val out = SparkEntry.queries("e07_semantic_dedup")(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getAs[Number]("cell").longValue,
        r.getDouble(2), r.getAs[Number]("rk").intValue,
        r.getAs[Number]("keep").intValue)))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    assert(out.length == emb.size, "one keep/drop verdict per vector")
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (d, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(d / math.sqrt(na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // within each cell, rk must be the dense (ccos asc, id) order, and a
    // row is dropped IFF a strictly-earlier same-cell row is within tau —
    // the entire keep set recomputed brute-force from raw vectors
    out.groupBy(_._2._1).foreach { case (cell, members) =>
      val sorted = members.sortBy { case (id, (_, ccos, _, _)) => (ccos, id) }
      sorted.zipWithIndex.foreach { case ((id, (_, _, rk, keep)), idx) =>
        assert(rk == idx + 1, s"cell $cell id $id rank $rk != ${idx + 1}")
        val dominated = sorted.take(idx).exists { case (ej, _) =>
          cos(emb(id), emb(ej)) >= 0.4 }
        assert((keep == 0) == dominated,
          s"cell $cell id $id keep=$keep but dominated=$dominated")
      }
    }
    val dropped = out.count(_._2._4 == 0)
    info(s"e07: ${out.length - dropped} kept / $dropped dropped over ${out.length}")
  }

  test("t12 repetition stats: per-row recompute from raw text matches exactly") {
    val out = SparkEntry.queries("t12_doc_repetition")(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
    assert(out.size == docs.length)
    var exercised = 0
    docs.foreach { r =>
      val (id, text) = (r.getLong(0), r.getString(1))
      val ws = text.split(" ").filter(_.nonEmpty)
      val bg = ws.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toArray
      val g3 = ws.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toArray
      val topBg = if (bg.isEmpty) 0 else bg.groupBy(identity).values.map(_.length).max
      val dupG3 = g3.count(g => g3.count(_ == g) >= 2)
      val o = out(id)
      assert(o.getInt(1) == ws.length, s"doc $id n_words")
      assert(o.getInt(2) == ws.distinct.length, s"doc $id n_distinct_words")
      assert(o.getInt(4) == topBg, s"doc $id top_bigram_n")
      assert(o.getInt(5) == dupG3, s"doc $id n_dup_g3")
      if (dupG3 > 0) exercised += 1
    }
    info(s"t12: $exercised docs with intra-doc repeated 3-grams")
  }

  test("e04 IVF recovers >=90% of true near-dup pairs at a bounded scan fraction") {
    val brute = SparkEntry.queries("e02_embedding_pairs")(spark, sf)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "e02 must yield pairs at this sf")
    val ivf = SparkEntry.queries("e04_ivf_topk")(spark, sf)
      .select("vec_id", "neighbor").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the dedup gate: a planted pair counts when either endpoint surfaces
    // the other in its probed-cell top-k (edges are symmetric downstream)
    val hit = brute.count(p => ivf(p) || ivf(p.swap))
    assert(hit >= math.ceil(brute.size * 0.9),
      s"e04 pair recall $hit/${brute.size} below 0.9")
    info(s"e04 IVF pair recall vs brute force: $hit/${brute.size}")
  }

  test("st03 stateful sessions == batch gaps-and-islands; state spans batches") {
    val out = SparkEntry.queries("st03_stream_sessions")(spark, sf)
      .collect().map(r => (r.getLong(0), r.get(1).toString, r.get(2).toString, r.getLong(3))).toSet
    // batch differential computed with Spark window functions
    val events = spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("user_id", "cast(ts as timestamp) as ts")
    events.createOrReplaceTempView("ev_st03")
    val expected = spark.sql(
      """WITH l AS (SELECT user_id, ts,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM ev_st03),
        |m AS (SELECT user_id, ts, CASE WHEN prev IS NULL
        |  OR ts > prev + INTERVAL 8 HOURS THEN 1 ELSE 0 END AS new_s FROM l),
        |g AS (SELECT user_id, ts, SUM(new_s) OVER (PARTITION BY user_id
        |  ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        |SELECT user_id, cast(min(ts) as timestamp_ntz) AS s,
        |  cast(max(ts) as timestamp_ntz) AS e, count(*) AS n
        |FROM g GROUP BY user_id, sid""".stripMargin)
      .collect().map(r => (r.getLong(0), r.get(1).toString, r.get(2).toString, r.getLong(3))).toSet
    assert(out === expected)
    // the batch cutoff (ts midpoint) is crossed by at least one session:
    // the flatMapGroupsWithState state hand-off is load-bearing, not
    // vacuously exercised
    val Array(minT, maxT) = events.selectExpr("min(ts)", "max(ts)").head()
      .toSeq.map(_.asInstanceOf[java.sql.Timestamp].getTime).toArray
    val cut = new java.sql.Timestamp((minT + maxT) / 2).toInstant
    val spanning = out.count { case (_, s, e, _) =>
      java.time.LocalDateTime.parse(s.replace(' ', 'T'))
        .atZone(java.time.ZoneOffset.UTC).toInstant.isBefore(cut) &&
      !java.time.LocalDateTime.parse(e.replace(' ', 'T'))
        .atZone(java.time.ZoneOffset.UTC).toInstant.isBefore(cut)
    }
    info(s"sessions spanning the batch cutoff: $spanning of ${out.size}")
    assert(spanning >= 1, "no session crosses the micro-batch boundary")
  }

  test("st04 event-time-timeout sessions == st03 sentinel-closed sessions") {
    // closure mechanics (engine-fired watermark timeout vs injected
    // sentinel rows) must not change the session partition
    def run(q: String): Set[(Long, String, String, Long)] =
      SparkEntry.queries(q)(spark, sf).collect()
        .map(r => (r.getLong(0), r.get(1).toString, r.get(2).toString, r.getLong(3))).toSet
    val evt = run("st04_stream_sessions_evt")
    val sentinel = run("st03_stream_sessions")
    assert(evt.nonEmpty)
    assert(evt === sentinel)
  }

  test("sessionizeEvt handler: data branch walls the session; timeout branch closes it") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    val gapUs = 8L * 3600 * 1000000
    // data branch: two events fold into one open session, no emission,
    // and the timeout wall lands at (last + gap) in milliseconds
    val open = TestGroupState.create[Streaming.SessionState](
      Optional.empty(), GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 0L, eventTimeWatermarkMs = Optional.of(0L),
      hasTimedOut = false)
    val out1 = Streaming.sessionizeEvt(7L,
      Iterator((7L, 1000000L, null), (7L, 2000000L, null)), open).toList
    assert(out1.isEmpty)
    assert(open.exists)
    assert(open.get === Streaming.SessionState(1000000L, 2000000L, 2L))
    assert(open.getTimeoutTimestampMs.get() === (2000000L + gapUs) / 1000L)
    // in-batch gap: the first session closes inline, the second stays
    // open with a fresh wall
    val rollover = TestGroupState.create[Streaming.SessionState](
      Optional.of(Streaming.SessionState(10L, 20L, 2L)),
      GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(0L), hasTimedOut = false)
    val far = 20L + gapUs + 1L
    val out2 = Streaming.sessionizeEvt(3L, Iterator((3L, far, null)), rollover).toList
    assert(out2 === List((3L, 10L, 20L, 2L)))
    assert(rollover.get === Streaming.SessionState(far, far, 1L))
    // out-of-order row in a LATER batch (legal inside the watermark
    // allowance, which is far below the gap): extends the session START
    // backward — the first-seen event is not necessarily the earliest
    val ooo = TestGroupState.create[Streaming.SessionState](
      Optional.of(Streaming.SessionState(36000000000L, 36000000000L, 1L)), // 10 h
      GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(0L), hasTimedOut = false)
    val out4 = Streaming.sessionizeEvt(5L,
      Iterator((5L, 34200000000L, null)), ooo).toList // 9.5 h, within gap
    assert(out4.isEmpty)
    assert(ooo.get === Streaming.SessionState(34200000000L, 36000000000L, 2L))
    // timeout branch: the engine calls with hasTimedOut and NO rows —
    // the open session is emitted exactly once and the state cleared
    val timedOut = TestGroupState.create[Streaming.SessionState](
      Optional.of(Streaming.SessionState(5L, 9L, 3L)),
      GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(99999999L),
      hasTimedOut = true)
    val out3 = Streaming.sessionizeEvt(1L, Iterator.empty, timedOut).toList
    assert(out3 === List((1L, 5L, 9L, 3L)))
    assert(timedOut.isRemoved)
  }

  test("e04 sampled training yields a working codebook (10^9-row posture)") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cb = Similarity.ivfTrain(emb, "vec_id", "embedding",
      nCells = 4, dim = 64, iters = 2, trainSampleMod = 3)
    assert(cb.count() === 4L)
    val out = Similarity.ivfTopK(emb, "vec_id", "embedding", cb, k = 3, nProbe = 2)
      .collect()
    assert(out.nonEmpty)
    // every query still gets its k neighbors (cells are non-degenerate)
    val perQuery = out.groupBy(_.getLong(0)).map(_._2.length)
    assert(perQuery.forall(_ == 3), perQuery.toString)
  }

  test("e04 collected (driver-local) Lloyd matches the distributed path") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // same init, same assignment semantics — the two paths differ only in
    // summation order (Spark's avg vs a serial loop), so centroids must
    // agree to float-noise tolerance round by round
    for (iters <- Seq(1, 3)) {
      val dist = Similarity.ivfTrain(emb, "vec_id", "embedding",
          nCells = 4, dim = 64, iters = iters)
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      val coll = Similarity.ivfTrain(emb, "vec_id", "embedding",
          nCells = 4, dim = 64, iters = iters, collectTrain = true)
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      assert(dist.keySet === coll.keySet)
      dist.foreach { case (cell, cv) =>
        val cv2 = coll(cell)
        assert(cv.size === cv2.size)
        cv.zip(cv2).foreach { case (a, b) =>
          assert(math.abs(a - b) < 1e-9, s"iters=$iters cell=$cell: $a vs $b")
        }
      }
    }
  }

  test("e04 plans: one broadcast-codebook flop pass; cartesian-free search") {
    import graft.operators.Similarity
    // string-level checks: AdaptiveSparkPlanExec does not expose its
    // inner plan as children, so node-type traversal misses the joins
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val codebook = Similarity.ivfTrain(emb, "vec_id", "embedding",
      nCells = 4, dim = 64, iters = 1)
    // assignment: the only nested-loop join is data × broadcast(codebook);
    // a CartesianProduct would mean the table got crossed with itself,
    // and the partial WindowGroupLimit bounds the shuffle to nProbe/row
    val assignPlan = Similarity.ivfAssign(emb, "vec_id", "embedding", codebook, 4)
      .queryExecution.executedPlan.toString
    assert(!assignPlan.contains("CartesianProduct"), assignPlan)
    assert(assignPlan.contains("BroadcastNestedLoopJoin"), assignPlan)
    assert(assignPlan.contains("WindowGroupLimit"), assignPlan)
    // search (the live pipeline pre-dump — the registered query
    // memoizes its result to parquet for the e06 audit, which would
    // show a plain scan here): the flop pass must NOT reappear — only
    // equi-joins against the materialized inverted file, with the
    // rerank top-k pushed below the final shuffle
    val searchPlan = Embeddings.ivfTopK(spark, sf, dumpResult = false)
      .queryExecution.executedPlan.toString
    assert(!searchPlan.contains("CartesianProduct"), searchPlan)
    assert(!searchPlan.contains("BroadcastNestedLoopJoin"), searchPlan)
    assert(searchPlan.contains("WindowGroupLimit"), searchPlan)
  }

  test("e08 PQ: codes and ADC match plain-Scala recomputes; expression == UDF twin") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val (m, ks, subDim) = (8, 16, 8)
    val cbDf = Similarity.pqTrain(emb, "vec_id", "embedding", m, ks, subDim)
    assert(cbDf.count() === (m * ks).toLong)
    val cb: Map[(Int, Int), Array[Double]] = cbDf.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
    cb.values.foreach(cv => assert(cv.length === subDim))
    val cbFlat = Array.tabulate(m * ks)(i => cb((i / ks, i % ks)))
    val cbLit = Similarity.pqCodebookLiteral(cbDf, m, ks, subDim)
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def encodeLocal(v: Array[Double]): Array[Int] = Array.tabulate(m) { j =>
      (0 until ks).minBy { c => // minBy keeps the FIRST min — the strict-< tie rule
        val cent = cbFlat(j * ks + c)
        var s = 0.0; var i = 0
        while (i < subDim) { val x = v(j * subDim + i) - cent(i); s += x * x; i += 1 }
        s
      }
    }
    val viaExpr = emb.select(col("vec_id"),
        Similarity.pqEncodeCol(col("embedding"), cbLit, m, ks, subDim).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    val viaUdf = emb.select(col("vec_id"),
        Similarity.pqEncodeUdf(expr("transform(embedding, x -> cast(x as double))"),
          cbFlat, m, ks, subDim).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    assert(viaExpr.keySet === vecs.keySet)
    vecs.foreach { case (id, v) =>
      val expected = encodeLocal(v)
      assert(viaExpr(id).toSeq === expected.toSeq, s"vec $id expression encode")
      assert(viaUdf(id).toSeq === expected.toSeq, s"vec $id udf encode")
    }
    // ADC kernel: exact recompute over a handful of (query, candidate) pairs
    val ids = vecs.keys.toSeq.sorted.take(4)
    import spark.implicits._
    val pairs = for (q <- ids; c <- ids if q != c) yield (q, c)
    val got = pairs.toDF("q", "c")
      .join(emb.select(col("vec_id").as("q"), col("embedding").as("qv")), "q")
      .join(emb.select(col("vec_id").as("c"), col("embedding").as("cv")), "c")
      .select(col("q"), col("c"), Similarity.pqAdcCol(col("qv"),
        Similarity.pqEncodeCol(col("cv"), cbLit, m, ks, subDim), cbLit, m, ks, subDim).as("adc"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    pairs.foreach { case (q, c) =>
      val qv = vecs(q)
      val codes = encodeLocal(vecs(c))
      var total = 0.0
      for (j <- 0 until m) {
        val cent = cbFlat(j * ks + codes(j))
        for (i <- 0 until subDim) { val x = qv(j * subDim + i) - cent(i); total += x * x }
      }
      assert(math.abs(got((q, c)) - total) < 1e-9, s"adc($q,$c)")
    }
    // geometry-mismatch fail-fast: a code outside [0, ks) must throw, not
    // silently read another subspace's centroid from the flat layout
    val boom = intercept[org.apache.spark.SparkException] {
      emb.limit(1).select(Similarity.pqAdcCol(
          expr("transform(embedding, x -> cast(x as double))"),
          typedlit(Array.fill(m)(ks)), cbLit, m, ks, subDim).as("adc"))
        .collect()
    }
    assert(boom.getMessage.contains("pq_adc") ||
      Option(boom.getCause).exists(_.getMessage.contains("pq_adc")), boom.getMessage)
  }

  test("e08 PQ top-k recovers planted near-dup pairs; ranks by quantized distance only") {
    val brute = SparkEntry.queries("e02_embedding_pairs")(spark, sf)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "e02 must yield pairs at this sf")
    val pq = SparkEntry.queries("e08_pq_adc_topk")(spark, sf)
    val hits = pq.select("vec_id", "neighbor").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hit = brute.count(p => hits(p) || hits(p.swap))
    // planted near-dups are ~identical vectors: their quantized distance
    // is near the codebook's intrinsic error floor, far below random
    // neighbors — the registered PQ8×8 geometry (ks=256) must surface
    // them like e04's exact rerank does (ks=16 measurably fails this
    // gate at 5/7 — the pqM docstring and PLANS.md record why)
    assert(hit >= math.ceil(brute.size * 0.9),
      s"e08 pair recall $hit/${brute.size} below 0.9")
    info(s"e08 PQ pair recall vs brute force: $hit/${brute.size}")
    // structural: 5 ranked rows per query, adc ascending in rank
    val byQ = pq.collect().groupBy(_.getLong(0))
    byQ.foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq === (1 to sorted.length).toSeq, s"q $q ranks")
      assert(sorted.map(_.getDouble(2)).toSeq ===
        sorted.map(_.getDouble(2)).sorted.toSeq, s"q $q adc order")
    }
    // the search plan joins the compressed code table — never a cartesian,
    // never the assignment flop pass
    val plan = pq.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("e09 exact re-rank: cos is the true cosine, order is exact, top-1 never worse than ADC") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def norm(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val nvs = emb.map { case (k, v) => k -> norm(v) }
    def cos6(a: Long, b: Long): Double = {
      val (x, y) = (nvs(a), nvs(b))
      var (d, i) = (0.0, 0)
      while (i < x.length) { d += x(i) * y(i); i += 1 }
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val out = SparkEntry.queries("e09_pq_rerank_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getInt(4)))
    assert(out.nonEmpty)
    // the exact-score column IS the cosine over normalized vectors
    out.foreach { case (q, nb, _, c, _) =>
      assert(math.abs(c - cos6(q, nb)) <= 1e-9, s"($q,$nb): $c != ${cos6(q, nb)}")
    }
    // ranks are contiguous and ordered by the EXACT score (neighbor-id
    // tiebreak) — quantization error cannot affect the final ordering
    out.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._5)
      assert(sorted.map(_._5).toSeq == (1 to sorted.length), s"q $q ranks")
      sorted.sliding(2).foreach {
        case Array(x, y) =>
          assert(x._4 > y._4 || (x._4 == y._4 && x._2 < y._2), s"q $q order")
        case _ => ()
      }
    }
    // the refine contract: re-ranking the SAME shortlist on exact scores
    // can only improve top-1 agreement with brute-force ground truth
    val bruteTop1 = nvs.keys.map { q =>
      q -> nvs.keys.filter(_ != q).map(n => (n, cos6(q, n)))
        .minBy { case (n, c) => (-c, n) }._1
    }.toMap
    val rerankTop1 = out.filter(_._5 == 1).map(r => r._1 -> r._2).toMap
    val adcTop1 = SparkEntry.queries("e08_pq_adc_topk")(spark, sf).collect()
      .filter(_.getInt(3) == 1).map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agreeR = rerankTop1.count { case (q, n) => bruteTop1(q) == n }
    val agreeA = adcTop1.count { case (q, n) => bruteTop1(q) == n }
    assert(agreeR >= agreeA,
      s"rerank top-1 agreement $agreeR below ADC's $agreeA")
    info(s"e09: top-1 brute agreement rerank $agreeR vs adc $agreeA " +
      s"over ${rerankTop1.size} queries")
  }

  test("t09 plan: one stratum exchange, rank limit pushed below the window") {
    val df = SparkEntry.queries("t09_stratified_sample")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // WindowGroupLimit prunes each stratum to the quota before the full
    // window rank materializes; exactly one shuffle (on the stratum key)
    assert(plan.contains("WindowGroupLimit"), plan)
    assert("Exchange".r.findAllIn(plan).length <= 2, plan) // partial+final limit share one exchange
    // determinism: the same rows come back from a re-run
    val rows = df.collect()
    val b = SparkEntry.queries("t09_stratified_sample")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(rows.map(_.toString).sorted.toSeq === b)
    // quota honored per stratum
    val per = rows.groupBy(r => (r.getString(1), r.getString(2)))
    per.foreach { case (k, g) => assert(g.length <= 3, k) }
  }

  /** The m08/m09 oracle discipline applied spec-side, at scales DuckDB
    * never sees: (1) recall 1.0 — every labeled (dup, src) pair is
    * reported; (2) the reported set EQUALS the brute-force all-pairs
    * truth recomputed from the query's own fingerprint dump (min
    * slot-pair Hamming ≤ maxHam over every id pair). Equality proves the
    * banded path neither misses a pair (a banding gap or heat-cap loss)
    * nor invents one — genuine coincidence pairs inside the radius are
    * correct output, not false positives, so this is strictly stronger
    * than precision-vs-labels (which a true coincidence would fail). The
    * old second-collect `min_hamming <= T` assertion was tautological
    * (the query's own final filter) and is dropped. */
  private def assertMediaDedup(query: String, dump: String, maxHam: Int,
      sfDir: String, labels: Array[graft.sources.DupLabel]): Unit = {
    val found = SparkEntry.queries(query)(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(labels.nonEmpty)
    labels.foreach { l =>
      val p = if (l.dup_id < l.src_id) (l.dup_id, l.src_id) else (l.src_id, l.dup_id)
      assert(found.contains(p), s"missed ${l.kind} dup pair $p")
    }
    // brute-force truth from the per-(id, slot) fingerprint dump the
    // query just materialized (path = Queries' derived-dump layout);
    // driver-side tight loop: ~8M id pairs × k² bitcounts at 4000 rows
    val byId = spark.read
      .parquet(s"/tmp/graft_derived/${new java.io.File(sfDir).getName}/$dump.parquet")
      .collect().groupBy(_.getString(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(2)) }
      .toArray.sortBy(_._1)
    val truth = scala.collection.mutable.Set.empty[(String, String)]
    var i = 0
    while (i < byId.length) {
      val (ia, fa) = byId(i)
      var j = i + 1
      while (j < byId.length) {
        val (ib, fb) = byId(j)
        var best = 64
        var x = 0
        while (x < fa.length) {
          var y = 0
          while (y < fb.length) {
            val h = java.lang.Long.bitCount(fa(x) ^ fb(y))
            if (h < best) best = h
            y += 1
          }
          x += 1
        }
        if (best <= maxHam) truth += ((ia, ib))
        j += 1
      }
      i += 1
    }
    assert(found === truth.toSet,
      s"$query diverges from brute force: missed=${(truth -- found).take(5)} " +
        s"extra=${(found -- truth).take(5)}")
  }

  test("m07 clip near-dup: recall 1.0 + brute-force pair equality over injected trim/renoise/refps dups") {
    assertMediaDedup("m07_clip_neardup_pairs", "m07_frame_phash", 2, sf,
      graft.sources.SyntheticMedia.videoDupLabels(spark, Multimodal.mediaRows(sf)).collect())
  }

  test("m10 audio near-dup: recall 1.0 + brute-force pair equality over injected regain/atrim/renoise dups") {
    assertMediaDedup("m10_audio_neardup_pairs", "m10_audio_fp", 5, sf,
      graft.sources.SyntheticMedia.audioDupLabels(spark, Multimodal.mediaRows(sf)).collect())
  }

  test("m07/m10 second-scale gate: recall + brute-force equality hold at 4000 media rows (20x the driver gate)") {
    // the scale where single-block banding silently lost recall (m07:
    // 197/400 dup pairs, m10: 6/400 — the defect the guaranteed-radius
    // joint keys fix); run the REAL query path at sf0.1's media row count
    val sfBig = "/root/testdata/sf0.1"
    assertMediaDedup("m07_clip_neardup_pairs", "m07_frame_phash", 2, sfBig,
      graft.sources.SyntheticMedia.videoDupLabels(spark, Multimodal.mediaRows(sfBig)).collect())
    assertMediaDedup("m10_audio_neardup_pairs", "m10_audio_fp", 5, sfBig,
      graft.sources.SyntheticMedia.audioDupLabels(spark, Multimodal.mediaRows(sfBig)).collect())
  }

  /** d05's joint-key guarantee re-proven on data (the m07/m10 helper's
    * shape for a single-fingerprint-per-id table): the reported pair set
    * EQUALS the brute-force all-pairs Hamming ≤ 3 truth recomputed from
    * the sketch dump — a banding gap or heat-cap loss fails equality. */
  private def assertSimhashDedup(sfDir: String): Unit = {
    val found = SparkEntry.queries("d05_simhash_dedup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sk = spark.read
      .parquet(s"/tmp/graft_derived/${new java.io.File(sfDir).getName}/doc_sketches.parquet")
      .select("doc_id", "simhash")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val truth = scala.collection.mutable.Set.empty[(Long, Long)]
    var i = 0
    while (i < sk.length) {
      var j = i + 1
      while (j < sk.length) {
        if (java.lang.Long.bitCount(sk(i)._2 ^ sk(j)._2) <= 3)
          truth += ((sk(i)._1, sk(j)._1))
        j += 1
      }
      i += 1
    }
    assert(found === truth.toSet,
      s"d05 diverges from brute force at $sfDir: " +
        s"missed=${(truth -- found).take(5)} extra=${(found -- truth).take(5)}")
  }

  test("d05 simhash pairs == brute-force Hamming<=3 truth (driver gate scale)") {
    assertSimhashDedup(sf)
  }

  test("d05 second-scale gate: brute-force equality at 5000 docs (10x the driver gate)") {
    // the scale where single 8-bit block banding silently lost 75/257
    // true pairs at Hamming<=3 (141 hot buckets, max 1805) — the defect
    // the 5-of-8 joint keys fix (0 hot buckets, max 5, measured here)
    assertSimhashDedup("/root/testdata/sf0.1")
  }

  test("d06 clusters: every confirmed d04 pair lands in one cluster") {
    val assign = SparkEntry.queries("d06_doc_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = SparkEntry.queries("d04_minhash_jaccard_dedup")(spark, sf).collect()
    pairs.foreach { r =>
      assert(assign(r.getLong(0)) === assign(r.getLong(1)))
    }
  }

  test("t04 winnowing emits at least one fingerprint per non-trivial doc") {
    val rows = SparkEntry.queries("t04_winnow_fingerprint")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r => assert(r.getInt(1) > 0, s"doc ${r.getLong(0)}") }
  }

  test("st01 streaming result equals q09 batch counts") {
    // q09 emits TIMESTAMP (LTZ), st01 TIMESTAMP_NTZ — compare formatted
    def fmt(c: org.apache.spark.sql.Column) = date_format(c, "yyyy-MM-dd HH:mm")
    val batch = SparkEntry.queries("q09_events_hourly")(spark, sf)
      .select(fmt(col("hour_start")), col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val stream = SparkEntry.queries("st01_stream_hourly")(spark, sf)
      .select(fmt(col("hour_start")), col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(stream === batch)
  }

  test("t13 KMV: plain-Scala recompute matches; error is 1/sqrt(k)-sized; agg is k-bounded") {
    val k = Text.kmvK
    val got = SparkEntry.queries("t13_cardinality_kmv")(spark, sf)
    // the sketch side is a partial-combining object aggregate over raw
    // occurrences (k-bounded buffers before the exchange) — no window,
    // no per-group sort anywhere in the plan
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("WindowGroupLimit") && !plan.contains("Window ["), plan)
    assert(plan.contains("partial_bottomkagg") || plan.contains("bottomkagg"), plan)
    val rows = got.collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(rows.size === 20)
    // exact local recompute of the whole estimator from raw text
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "text").collect()
      .map(r => r.getString(0) -> r.getString(1))
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map(b => f"$b%02x").mkString
    }
    docs.groupBy(_._1).foreach { case (src, ds) =>
      val grams = ds.flatMap { case (_, t) =>
        (0 to t.length - 8).map(i => t.substring(i, i + 8)) }.distinct
      val hs = grams.map(md5hex).sorted
      val exact = grams.length.toLong
      val est =
        if (hs.length < k) BigDecimal(exact.toDouble)
          .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
        else {
          val hv = java.lang.Long.parseLong(hs(k - 1).take(13), 16).toDouble
          BigDecimal((k - 1).toDouble * math.pow(2.0, 52.0) / hv)
            .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
      val (gotExact, gotEst, gotErr) = rows(src)
      assert(gotExact === exact, s"$src exact")
      assert(gotEst === est, s"$src est")
      assert(gotErr === BigDecimal(math.abs(est - exact) / exact)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, s"$src err")
      // k=256 KMV one-sigma is 1/sqrt(k-2) ≈ 6.3%; past 4 sigma the
      // est/exact sides disagree on the gram universe, not statistics
      assert(gotErr <= 0.25, s"$src err $gotErr")
    }
  }

  test("q12 partitioned scan: static PartitionFilters prune to 2 of 30 days") {
    val df = SparkEntry.queries("q12_partition_pruned_scan")(spark, sf)
    // sparkPlan, not executedPlan: the AQE wrapper is a leaf and hides
    // the scan from node-type traversal (the e04 plan-test note)
    val scan = df.queryExecution.sparkPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("events_by_date")) => f
    }.getOrElse(fail("no FileSourceScanExec over events_by_date in the plan"))
    // pruning is decided at planning time: the filter lives in
    // PartitionFilters (not DataFilters), event_date never occupies file
    // bytes (absent from ReadSchema), and only 2 of the 30 day
    // directories are listed into the scan
    assert(scan.partitionFilters.nonEmpty, scan.toString)
    assert(scan.partitionFilters.mkString.contains("event_date"), scan.toString)
    assert(!scan.requiredSchema.fieldNames.contains("event_date"), scan.toString)
    assert(scan.inputRDDs().head.partitions.nonEmpty)
    val partDirs = scan.relation.location.listFiles(scan.partitionFilters, Nil)
    assert(partDirs.length === 2, s"selected partitions: ${partDirs.length}")
    // and the pruned result equals the full-scan answer (the oracle's
    // question, re-asked in-engine)
    val full = spark.read.parquet(s"$sf/events.parquet")
      .where(date_format(col("ts"), "yyyy-MM-dd")
        .isin("2024-01-05", "2024-01-06"))
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("event_date"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"),
        max(col("value")).as("max_value"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val pruned = df.collect().map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(pruned === full)
  }

  test("q13 DPP: the weekend dim prunes the fact scan to 8 of 30 days at runtime") {
    val df = SparkEntry.queries("q13_dpp_star_join")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // the FINAL adaptive plan, post-execution: the fact scan must carry a
    // dynamic pruning predicate on the partition column, and its runtime
    // metric must show only the weekend partitions were read
    val fin = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    // materialized query stages are leaves — recurse through them
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
      }.flatten
    val scan = scans(fin).find(
      _.relation.location.rootPaths.exists(_.toString.contains("events_by_date")))
      .getOrElse(fail(s"no events_by_date scan in the final plan:\n$fin"))
    assert(scan.partitionFilters.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression])),
      scan.partitionFilters.mkString("; "))
    assert(scan.metrics.contains("numPartitions"), scan.metrics.keySet)
    assert(scan.metrics("numPartitions").value === 8,
      s"partitions read: ${scan.metrics("numPartitions").value}")
    // weekend dates only, and equality with the full-scan answer
    val weekends = Set("2024-01-06", "2024-01-07", "2024-01-13", "2024-01-14",
      "2024-01-20", "2024-01-21", "2024-01-27", "2024-01-28")
    assert(rows.map(_.getString(0)).toSet === weekends)
    val full = spark.read.parquet(s"$sf/events.parquet")
      .where(date_format(col("ts"), "yyyy-MM-dd")
        .isInCollection(weekends))
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("event_date"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"),
        max(col("value")).as("max_value"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(rows.map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap === full)
  }

  test("st08 stream-stream join: emitted matches equal the batch interval join, no dups") {
    val rows = SparkEntry.queries("st08_stream_stream_join")(spark, sf).collect()
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // exactly-once: a replayed micro-batch or a double-emit would
    // surface as duplicate (user, view, purchase) triples
    assert(got.size === rows.length, "duplicate emitted matches")
    assert(got.nonEmpty)
    val ev = spark.read.parquet(s"$sf/events.parquet")
    def side(tpe: String, idAs: String, tsAs: String) =
      ev.where(col("event_type") === tpe)
        .select(col("user_id"), col("event_id").as(idAs),
          col("ts").cast("timestamp").as(tsAs))
    val v = side("view", "view_id", "vts")
    val p = side("purchase", "purchase_id", "pts")
    val batch = v.join(p, v("user_id") === p("user_id") &&
        col("pts") >= col("vts") &&
        col("pts") <= col("vts") + expr("INTERVAL 2 HOURS"))
      .select(v("user_id"), col("view_id"), col("purchase_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === batch)
  }

  test("BottomKAgg: any partitioning/order equals sorted-distinct-take-k; merge commutes") {
    val agg = new graft.functions.BottomKAgg(5)
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 200) {
      val vals = Seq.fill(rnd.nextInt(30))(f"${rnd.nextInt(12)}%02d") // heavy dups
      val expected = vals.distinct.sorted.take(5)
      val (p1, p2) = rnd.shuffle(vals).splitAt(
        if (vals.isEmpty) 0 else rnd.nextInt(vals.length + 1))
      val b1 = p1.foldLeft(agg.zero)(agg.reduce)
      val b2 = p2.foldLeft(agg.zero)(agg.reduce)
      assert(agg.merge(b1, b2).toSeq === expected, s"trial $trial: $vals")
      assert(agg.merge(b2, b1).toSeq === expected, s"trial $trial commuted")
    }
    assert(agg.reduce(agg.zero, null).isEmpty) // null-safe
  }

  test("t13 KMV degenerate branch: fewer distinct values than k means est == exact") {
    val out = Text.kmvCardinality(
      spark.read.parquet(s"$sf/documents.parquet"), k = 1 << 20).collect()
    assert(out.length === 20)
    out.foreach { r =>
      assert(r.getDouble(2) === r.getLong(1).toDouble, r.getString(0))
      assert(r.getDouble(3) === 0.0, r.getString(0))
    }
  }
}
