package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.SignatureSearch
import graft.sources.{FinchJson, SignatureJson}
import graft.queries.QuerySupport._
import graft.queries.Dedup.angularSimCol

/** `smNN` sourmash signature compatibility over the reference fixtures.
  *
  * The oracles are literal: the expected rows are constants derived
  * INDEPENDENTLY of the engine — md5sums are the fixture's own stored
  * values (reference-computed), sm02's counts are the reference's golden
  * test expectations (sourmash-rust `src/index/sbt.rs:526-590`), and
  * sm04's scores were recomputed from the fixture JSON with a standalone
  * implementation of the combined-denominator compare. */
object Sourmash {

  /** Reference fixture root (read-only); queries degrade to empty results
    * when absent so the surface stays runnable anywhere. */
  private[queries] val refData = "/root/reference/tests/data"
  private[queries] def refExists: Boolean = new java.io.File(refData).isDirectory

  /** The empty result of a query whose reference fixture is absent: the
    * live branch's columns (`ddl`), no rows, and a warning naming the
    * fixture — a typed frame that a column check can still inspect. */
  private[queries] def missingFixture(s: SparkSession, query: String, fixture: String,
      ddl: String): DataFrame = {
    org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"$query: reference fixture $refData/$fixture is missing; returning an empty result")
    s.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(ddl))
  }
  private val searchCountsDdl = "mode STRING, threshold DOUBLE, n_matches BIGINT"

  val queries: Seq[QueryDef] = Seq(
    // S1/S2: signature JSON scan + flatten + md5 recompute check
    QueryDef("sm01_signature_load", { (s, _) =>
      if (!refExists) missingFixture(s, "sm01_signature_load", "genome-s10+s11.sig",
        "name STRING, ksize INT, is_protein BOOLEAN, num INT, md5sum STRING, " +
          "md5_recomputed STRING, md5_ok BOOLEAN, n_mins INT")
      else SignatureJson.read(s, s"$refData/genome-s10+s11.sig")
        .withColumn("md5_recomputed",
          SignatureJson.computeMd5sum(col("ksize"), col("mins")))
        .select(col("name"), col("ksize"), col("is_protein"), col("num"),
          col("md5sum"), col("md5_recomputed"),
          (col("md5sum") === col("md5_recomputed")).as("md5_ok"),
          size(col("mins")).as("n_mins"))
    },
      """SELECT * FROM (VALUES
        |  ('s10+s11', 21, true,  500, '93d5d09abf399740a4506310680eb62c', '93d5d09abf399740a4506310680eb62c', true, 500),
        |  ('s10+s11', 21, false, 500, '8a619747693c045afde376263841806b', '8a619747693c045afde376263841806b', true, 500),
        |  ('s10+s11', 30, true,  500, '819dd371bf41739a1b158582d5a04b45', '819dd371bf41739a1b158582d5a04b45', true, 500),
        |  ('s10+s11', 30, false, 500, '19ac462374cc8af809416aa72cbdb8d3', '19ac462374cc8af809416aa72cbdb8d3', true, 500)
        |) AS t(name, ksize, is_protein, num, md5sum, md5_recomputed, md5_ok, n_mins)""".stripMargin),
    // Q1/Q2/Q3: linear search with the v5 fixture's golden thresholds
    QueryDef("sm02_linear_search", { (s, _) =>
      if (!refExists) missingFixture(s, "sm02_linear_search", ".sbt.v5", searchCountsDdl)
      else {
        val db = SignatureJson.read(s, s"$refData/.sbt.v5/*")
          .where(col("md5sum") =!= lit("")) // leaf sigs only
        val cfg = graft.core.SketchConfig(num = 500, ksize = 31)
        val query = db.where(col("filename") === "SRR2060939_1.fastq.gz")
          .select(col("mins")).head().getSeq[Long](0).toArray
        val combos = Seq(("similarity", 0.5), ("similarity", 0.1),
          ("containment", 0.5), ("containment", 0.1))
        combos.map { case (mode, thr) =>
          SignatureSearch.linear(db, query, cfg, thr, mode)
            .agg(count(lit(1)).as("n_matches"))
            .select(lit(mode).as("mode"), lit(thr).as("threshold"), col("n_matches"))
        }.reduce(_ union _)
      }
    },
      """SELECT * FROM (VALUES
        |  ('similarity',  0.5, 1), ('similarity',  0.1, 2),
        |  ('containment', 0.5, 2), ('containment', 0.1, 4)
        |) AS t(mode, threshold, n_matches)""".stripMargin),
    // Q4/Q5 as a persisted index: build the inverted hash index (the
    // saved-SBT analog), search through it, reproduce the same golden
    // counts as the linear scan — the posting pre-filter is exact
    QueryDef("sm05_indexed_search", { (s, _) =>
      if (!refExists) missingFixture(s, "sm05_indexed_search", ".sbt.v5", searchCountsDdl)
      else {
        val db = SignatureJson.read(s, s"$refData/.sbt.v5/*")
          .where(col("md5sum") =!= lit(""))
        val cfg = graft.core.SketchConfig(num = 500, ksize = 31)
        val query = db.where(col("filename") === "SRR2060939_1.fastq.gz")
          .select(col("mins")).head().getSeq[Long](0).toArray
        val idx = s"${derivedDir("sm")}/sig_hash_index.parquet"
        SignatureSearch.buildIndex(db, idx)
        val combos = Seq(("similarity", 0.5), ("similarity", 0.1),
          ("containment", 0.5), ("containment", 0.1))
        combos.map { case (mode, thr) =>
          SignatureSearch.indexed(db, idx, query, cfg, thr, mode)
            .agg(count(lit(1)).as("n_matches"))
            .select(lit(mode).as("mode"), lit(thr).as("threshold"), col("n_matches"))
        }.reduce(_ union _)
      }
    },
      """SELECT * FROM (VALUES
        |  ('similarity',  0.5, 1), ('similarity',  0.1, 2),
        |  ('containment', 0.5, 2), ('containment', 0.1, 4)
        |) AS t(mode, threshold, n_matches)""".stripMargin),
    // Q8 top-N report: threshold + orderBy + limit over linear search
    QueryDef("sm04_search_topn", { (s, _) =>
      if (!refExists) missingFixture(s, "sm04_search_topn", ".sbt.v5",
        "filename STRING, score DOUBLE")
      else {
        val db = SignatureJson.read(s, s"$refData/.sbt.v5/*")
        val cfg = graft.core.SketchConfig(num = 500, ksize = 31)
        val query = db.where(col("filename") === "SRR2060939_1.fastq.gz")
          .select(col("mins")).head().getSeq[Long](0).toArray
        SignatureSearch.linear(db, query, cfg, 0.08, "similarity")
          .orderBy(col("score").desc, col("filename"))
          .limit(3)
          .select(col("filename"), round(col("score"), 6).as("score"))
      }
    },
      """SELECT * FROM (VALUES
        |  ('SRR2060939_1.fastq.gz', 1.0),
        |  ('SRR2060939_2.fastq.gz', 0.356),
        |  ('SRR2255622_1.fastq.gz', 0.086)
        |) AS t(filename, score)""".stripMargin),
    // S6: serialize → reparse round-trip (writer correctness as a query)
    QueryDef("sm03_signature_roundtrip", { (s, _) =>
      if (!refExists) missingFixture(s, "sm03_signature_roundtrip", "genome-s10+s11.sig",
        "name STRING, ksize INT, is_protein BOOLEAN, md5_ok BOOLEAN, mins_ok BOOLEAN")
      else {
        import s.implicits._
        val orig = SignatureJson.read(s, s"$refData/genome-s10+s11.sig")
        val json = SignatureJson.toJson(orig).select(col("json")).as[String].head()
        val tmp = java.nio.file.Files.createTempDirectory("sig_rt")
        val f = tmp.resolve("rt.sig")
        java.nio.file.Files.writeString(f, json)
        val reread = SignatureJson.read(s, f.toString)
        orig.select(col("name"), col("ksize"), col("is_protein"),
            col("md5sum"), col("mins")).as("o")
          .join(reread.select(col("name"), col("ksize"), col("is_protein"),
            col("md5sum").as("md5_rt"), col("mins").as("mins_rt")).as("r"),
            Seq("name", "ksize", "is_protein"))
          .select(col("name"), col("ksize"), col("is_protein"),
            (col("md5sum") === col("md5_rt")).as("md5_ok"),
            (col("mins") === col("mins_rt")).as("mins_ok"))
      }
    },
      """SELECT * FROM (VALUES
        |  ('s10+s11', 21, true,  true, true), ('s10+s11', 21, false, true, true),
        |  ('s10+s11', 30, true,  true, true), ('s10+s11', 30, false, true, true)
        |) AS t(name, ksize, is_protein, md5_ok, mins_ok)""".stripMargin),
    // K8: finch interop — From<MinHashKmers> over a deterministic
    // finch-format fixture; the oracle re-derives the conversion from the
    // same JSON file independently (DuckDB read_json)
    QueryDef("sm06_finch_import", { (s, _) =>
      val path = s"${derivedDir("sm")}/finch_demo.json"
      FinchJson.writeDemoFixture(path)
      FinchJson.toMinHash(FinchJson.read(s, path))
        .select(col("name"), col("num").cast("long").as("num"),
          col("ksize").cast("long").as("ksize"), col("seed"), col("max_hash"),
          size(col("mins")).cast("long").as("n_mins"),
          element_at(col("mins"), 1).as("first_min"),
          element_at(col("mins"), size(col("mins"))).as("last_min"),
          expr("aggregate(abunds, 0L, (acc, x) -> acc + x)").as("sum_abund"))
    },
      // K8 finch conversion re-derived INDEPENDENTLY from the fixture JSON:
      // num = entry count, ksize = first kmer's length, seed/max_hash are
      // the from.rs constants, mins = unsigned-distinct hashes with counts
      // merged — the engine-side SketchBuilder insertion is not consulted
      """WITH sk AS (
        |  SELECT unnest(sketches) AS s
        |  FROM read_json('/tmp/graft_derived/sm/finch_demo.json',
        |    columns = {sketches: 'STRUCT(name VARCHAR, seqLength BIGINT,
        |      numValidKmers BIGINT, comment VARCHAR,
        |      hashes STRUCT(hash HUGEINT, kmer VARCHAR, count BIGINT,
        |      extra_count BIGINT)[])[]'})),
        |ent AS (
        |  SELECT s.name AS name, len(s.hashes) AS num,
        |         length(s.hashes[1].kmer) AS ksize, unnest(s.hashes) AS h
        |  FROM sk),
        |g AS (
        |  SELECT name, num, ksize, CAST(h.hash AS HUGEINT) AS u,
        |         SUM(h.count) AS a
        |  FROM ent
        |  WHERE h.count > 0 -- from.rs loops `count` times: 0 adds nothing
        |  GROUP BY 1, 2, 3, 4),
        |agg AS (
        |  SELECT name, num, ksize, COUNT(*) AS n_mins, MIN(u) AS first_u,
        |         MAX(u) AS last_u, CAST(SUM(a) AS BIGINT) AS sum_abund
        |  FROM g GROUP BY 1, 2, 3)
        |SELECT name, num, ksize, CAST(42 AS BIGINT) AS seed,
        |       CAST(0 AS BIGINT) AS max_hash, n_mins,
        |       CAST(CASE WHEN first_u > 9223372036854775807
        |            THEN first_u - 18446744073709551616 ELSE first_u END AS BIGINT) AS first_min,
        |       CAST(CASE WHEN last_u > 9223372036854775807
        |            THEN last_u - 18446744073709551616 ELSE last_u END AS BIGINT) AS last_min,
        |       sum_abund
        |FROM agg""".stripMargin),
    // ABUNDANCE-WEIGHTED comparison (published sourmash
    // `similarity(ignore_abundance=False)` = angular similarity
    // 1 − 2·acos(ρ)/π, ρ the cosine over the sparse hash→abundance
    // vectors; the reference tracks abundances with merge quirks but
    // stops short of the weighted compare — completed here like
    // scaledToMaxHash completes --scaled).
    // DataFrame formulation: explode (hash, abund), inner-join on common
    // hashes for the dot product (missing hashes contribute 0), per-
    // sketch norms over the FULL abundance vector; pairs sharing no hash
    // are omitted. The kernel twin is MinHash.angularSimilarity
    // (KernelSpec/FinchSpec golden); the oracle re-derives everything
    // from the raw finch JSON independently.
    // Sketch DOWNSAMPLING — the `search --scaled` re-truncation the
    // reference promises ("downsample query to this scaled factor",
    // src/sourmash.yml:71-76) and drops (src/lib.rs:593-601):
    // scaledToMaxHash completes the factor conversion, MinHash.downsample
    // the prefix cut (keep mins <= max_hash UNSIGNED, num -> 0). The
    // genome fixture's four sketches are downsampled at two scaled
    // factors; the oracle filters the fixture JSON's mins independently.
    QueryDef("sm08_downsample", { (s, _) =>
      if (!refExists) missingFixture(s, "sm08_downsample", "genome-s10+s11.sig",
        "name STRING, ksize INT, is_protein BOOLEAN, scaled BIGINT, max_hash BIGINT, " +
          "n_mins INT, first_min BIGINT, last_min BIGINT")
      else {
        val db = SignatureJson.read(s, s"$refData/genome-s10+s11.sig")
        // factors chosen to CUT this fixture (its bottom-500 mins all sit
        // below 2^64/1000, so small factors would be no-ops): 200k keeps
        // 2-10 mins per sketch, 2M keeps 0-2 (incl. genuinely empty
        // results — null first/last)
        Seq(200000L, 2000000L).map { scaled =>
          val mh = graft.core.SketchConfig.scaledToMaxHash(scaled)
          db.select(col("name"), col("ksize"), col("is_protein"),
              lit(scaled).as("scaled"), lit(mh).as("max_hash"),
              graft.functions.GraftFunctions.downsampleMins(col("mins"), mh).as("dmins"))
            .select(col("name"), col("ksize"), col("is_protein"),
              col("scaled"), col("max_hash"),
              size(col("dmins")).as("n_mins"),
              when(size(col("dmins")) > 0, element_at(col("dmins"), 1))
                .as("first_min"),
              when(size(col("dmins")) > 0,
                element_at(col("dmins"), size(col("dmins")))).as("last_min"))
        }.reduce(_ union _)
      }
    },
      // downsample re-derived INDEPENDENTLY from the fixture JSON: the two
      // max_hash constants are the published-sourmash float conversion
      // round(2^64/scaled) computed by hand (scaled=100 -> the f64-rounded
      // ...520, scaled=1000 -> ...552 — see SketchConfig.scaledToMaxHash),
      // and the cut is a plain unsigned filter over the fixture's mins —
      // the engine's prefix-cut binary search is never consulted
      """WITH raw AS (
        |  SELECT name, unnest(signatures) AS mh
        |  FROM read_json('/root/reference/tests/data/genome-s10+s11.sig',
        |    columns = {name: 'VARCHAR',
        |      signatures: 'STRUCT(ksize BIGINT, num BIGINT, molecule VARCHAR,
        |        md5sum VARCHAR, mins UBIGINT[])[]'})),
        |sk AS (SELECT name, mh.ksize AS ksize,
        |         lower(mh.molecule) = 'protein' AS is_protein, mh.mins AS mins
        |       FROM raw),
        |ex AS (SELECT name, ksize, is_protein, unnest(mins) AS u FROM sk),
        |params AS (SELECT * FROM (VALUES (200000, 92233720368548),
        |                                 (2000000, 9223372036855)) p(scaled, max_hash)),
        |e AS (SELECT ex.name, ex.ksize, ex.is_protein, p.scaled, p.max_hash,
        |        ex.u
        |      FROM ex CROSS JOIN params p),
        |agg AS (SELECT name, ksize, is_protein, scaled, max_hash,
        |          COUNT(*) AS n_mins, CAST(MIN(u) AS BIGINT) AS first_min,
        |          CAST(MAX(u) AS BIGINT) AS last_min
        |        FROM e WHERE u <= CAST(max_hash AS UBIGINT)
        |        GROUP BY name, ksize, is_protein, scaled, max_hash),
        |base AS (SELECT s.name, s.ksize, s.is_protein, p.scaled, p.max_hash
        |         FROM sk s CROSS JOIN params p)
        |SELECT b.name, b.ksize, b.is_protein, b.scaled, b.max_hash,
        |  COALESCE(a.n_mins, 0) AS n_mins, a.first_min, a.last_min
        |FROM base b LEFT JOIN agg a
        |  USING (name, ksize, is_protein, scaled, max_hash)""".stripMargin),
    QueryDef("sm07_abund_similarity", { (s, _) =>
      val path = s"${derivedDir("sm")}/finch_demo.json"
      FinchJson.writeDemoFixture(path)
      val sk = FinchJson.toMinHash(FinchJson.read(s, path))
        .select(col("name"), explode(arrays_zip(col("mins"), col("abunds"))).as("h"))
        .select(col("name"), col("h.mins").as("u"), col("h.abunds").as("ab"))
      val norms = sk.groupBy(col("name")).agg(sum(col("ab") * col("ab")).as("n2"))
      val dots = sk.as("x").join(sk.as("y"),
          col("x.u") === col("y.u") && col("x.name") < col("y.name"))
        .groupBy(col("x.name").as("a"), col("y.name").as("b"))
        .agg(sum(col("x.ab") * col("y.ab")).as("dot"))
      dots.join(norms.select(col("name").as("a"), col("n2").as("n2a")), "a")
        .join(norms.select(col("name").as("b"), col("n2").as("n2b")), "b")
        .select(col("a"), col("b"),
          angularSimCol(col("dot"), col("n2a"), col("n2b")).as("angular_sim"))
    },
      // angular similarity re-derived from the raw finch JSON: dup-hash
      // counts merge (SUM ... GROUP BY u), zero-count entries drop, dot
      // over common hashes, norms over each full abundance vector
      """WITH sk AS (
        |  SELECT unnest(sketches) AS s
        |  FROM read_json('/tmp/graft_derived/sm/finch_demo.json',
        |    columns = {sketches: 'STRUCT(name VARCHAR, seqLength BIGINT,
        |      numValidKmers BIGINT, comment VARCHAR,
        |      hashes STRUCT(hash HUGEINT, kmer VARCHAR, count BIGINT,
        |      extra_count BIGINT)[])[]'})),
        |ent AS (
        |  SELECT s.name AS name, unnest(s.hashes) AS h FROM sk),
        |g AS (
        |  SELECT name, CAST(h.hash AS HUGEINT) AS u, SUM(h.count) AS ab
        |  FROM ent WHERE h.count > 0 GROUP BY 1, 2),
        |norm AS (SELECT name, SUM(ab * ab) AS n2 FROM g GROUP BY 1),
        |dot AS (
        |  SELECT x.name AS a, y.name AS b, SUM(x.ab * y.ab) AS d
        |  FROM g x JOIN g y ON x.u = y.u AND x.name < y.name
        |  GROUP BY 1, 2)
        |SELECT a, b,
        |       round(1 - 2 * acos(least(1, greatest(-1, d / sqrt(nx.n2 * ny.n2)))) / pi(), 6) AS angular_sim
        |FROM dot
        |JOIN norm nx ON nx.name = dot.a
        |JOIN norm ny ON ny.name = dot.b""".stripMargin))
}
