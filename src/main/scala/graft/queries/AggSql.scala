package graft
package queries

import org.apache.spark.sql.functions._
import graft.queries.QuerySupport._
import graft.queries.Dedup.{candSql, docCandidates, docSketch, docSketches, jacSql}

/** The aggregate-function and SQL surface: sketch merging through the
  * registered aggregates (d07, d10) and the custom kernels called as SQL
  * functions (d08). */
object AggSql {

  val queries: Seq[QueryDef] = Seq(
    // K6/K7 merge as a Spark aggregation: chunk-level sketches roll up to
    // the whole-document sketch (map-side combine; recombination property)
    QueryDef("d07_sharded_sketch_merge", { (s, d) =>
      val cfg = docSketch
      val chunkSize = 100
      // shard each doc into fixed-size char chunks, sketch each chunk;
      // chunk sketches are dumped — the oracle replicates the merge
      // (bottom-128 of the distinct unsigned-sorted union) in SQL
      val chunkSketches = dumpDerived(s, d, "d07_chunk_sketches") {
        t(s, d, "documents").select(col("doc_id"),
            posexplode(expr(s"transform(sequence(0, int(floor((length(text)-1)/$chunkSize))), i -> substring(text, i*$chunkSize + 1, $chunkSize))"))
              .as(Seq("chunk_idx", "chunk")))
          .select(col("doc_id"), col("chunk_idx"),
            graft.functions.GraftFunctions.captionMinhash(col("chunk"), cfg).as("mins"))
      }
      // NOTE: chunk sketches use the same shingler; merging chunk sketches
      // equals sketching the set-union of chunk shingles (not of the whole
      // undivided text — k-grams crossing chunk borders differ), so the
      // roll-up is verified against the union-of-chunks sketch
      chunkSketches.groupBy(col("doc_id"))
        .agg(graft.functions.MinHashAgg.minhashMerge(col("mins"), cfg).as("merged"))
        .select(col("doc_id"), size(col("merged")).as("n_mins"),
          udf((a: Seq[Long]) => if (a.isEmpty) "" else java.lang.Long.toUnsignedString(a.head))
            .apply(col("merged")).as("first_min"))
    },
      s"""WITH c AS (SELECT doc_id, mins FROM read_parquet(${oraclePath("d07_chunk_sketches")})),
         |docs AS (SELECT DISTINCT doc_id FROM c),
         |e AS (SELECT DISTINCT doc_id, unnest(mins) AS m FROM c),
         |r AS (SELECT doc_id, m,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY (m < 0), m) AS rk
         |  FROM e),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_mins,
         |    arg_min(CASE WHEN m < 0 THEN (m::HUGEINT + 18446744073709551616)::VARCHAR
         |                 ELSE m::VARCHAR END, rk) AS first_min
         |  FROM r WHERE rk <= 128 GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.n_mins, 0) AS n_mins,
         |  coalesce(a.first_min, '') AS first_min
         |FROM docs d LEFT JOIN agg a USING (doc_id)""".stripMargin),
    // K6 ABUNDANCE-merge quirk surface — the reference's `merge` with
    // abundance handling (sourmash-rust src/lib.rs:307-403) driven
    // end-to-end: each document is split into two halves, each half
    // sketched WITH abundance tracking (bottom-128), and the halves are
    // merged pairwise through MinHash.mergeWithAbundance. Two reference
    // quirks become observable columns the oracle must reproduce:
    //  (1) mins are re-truncated to num but abunds are NOT
    //      (lib.rs:400, the reference's own "TODO: reduce this one too")
    //      → n_abunds > n_mins whenever the union exceeds 128;
    //  (2) the merge of two UNTRACKED sketches still yields an abundance
    //      vector — empty, but present (lib.rs:392-400)
    //      → untracked_abunds_present / untracked_n_abunds.
    // The pairwise (not folded) formulation is deliberate: quirk (1)
    // makes a multi-way fold order-dependent (the intermediate's abunds
    // outrun its mins), so only the reference's own binary merge shape
    // has a deterministic oracle.
    QueryDef("d10_abund_merge", { (s, d) =>
      val cfg = docSketch // num=128, ksize=4; tracking set by the UDF
      val halves = dumpDerived(s, d, "d10_half_sketches") {
        t(s, d, "documents").select(col("doc_id"),
            posexplode(expr("transform(sequence(0, 1), i -> substring(text, i * int(ceil(length(text)/2.0)) + 1, int(ceil(length(text)/2.0))))"))
              .as(Seq("half", "chunk")))
          .select(col("doc_id"), col("half"),
            graft.functions.GraftFunctions.captionMinhashAbund(col("chunk"), cfg).as("sk"))
          .select(col("doc_id"), col("half"),
            col("sk._1").as("mins"), col("sk._2").as("abunds"))
      }
      val a = halves.where(col("half") === 0)
        .select(col("doc_id"), col("mins").as("mins_a"), col("abunds").as("ab_a"))
      val b = halves.where(col("half") === 1)
        .select(col("doc_id"), col("mins").as("mins_b"), col("abunds").as("ab_b"))
      val localCfg = cfg
      val mergeUdf = udf((ma: Seq[Long], aa: Seq[Long], mb: Seq[Long], ab: Seq[Long]) => {
        val (m, abm) = graft.core.MinHash.mergeWithAbundance(
          ma.toArray, aa.toArray, mb.toArray, ab.toArray, localCfg)
        // quirk (2): the same merge with tracking OFF on both sides
        val (mu, abu) = graft.core.MinHash.mergeWithAbundance(
          ma.toArray, null, mb.toArray, null, localCfg)
        (m, abm, java.util.Arrays.equals(mu, m), abu != null, abu.length)
      })
      a.join(b, "doc_id")
        .withColumn("r", mergeUdf(col("mins_a"), col("ab_a"), col("mins_b"), col("ab_b")))
        .select(col("doc_id"),
          size(col("r._1")).as("n_mins"),
          size(col("r._2")).as("n_abunds"),
          expr("aggregate(r._2, 0L, (acc, x) -> acc + x)").as("sum_abund"),
          udf((m: Seq[Long]) =>
            if (m.isEmpty) "" else java.lang.Long.toUnsignedString(m.head))
            .apply(col("r._1")).as("first_min"),
          col("r._3").as("untracked_same_mins"),
          col("r._4").as("untracked_abunds_present"),
          col("r._5").as("untracked_n_abunds"))
    },
      // abundance-merge replica from the dumped half sketches: union of
      // (hash → summed count) per doc in unsigned order; the quirk pair is
      // encoded structurally — n_mins caps at 128 (LEAST) while n_abunds is
      // the FULL union size, and the untracked columns are the constants
      // the reference's always-Some(abunds) branch produces. A "fixed"
      // implementation (truncating abunds with mins, or returning None)
      // flips n_abunds / untracked_abunds_present and fails the hash.
      s"""WITH h AS (SELECT doc_id, half, mins, abunds
         |           FROM read_parquet(${oraclePath("d10_half_sketches")})),
         |e AS (SELECT doc_id, unnest(mins) AS m, unnest(abunds) AS ab FROM h),
         |g AS (SELECT doc_id, m,
         |        CASE WHEN m < 0 THEN m::HUGEINT + 18446744073709551616
         |             ELSE m::HUGEINT END AS u,
         |        SUM(ab) AS a
         |      FROM e GROUP BY doc_id, m),
         |agg AS (SELECT doc_id, COUNT(*) AS n_union,
         |          CAST(SUM(a) AS BIGINT) AS sum_abund,
         |          arg_min(CASE WHEN m < 0
         |                       THEN (m::HUGEINT + 18446744073709551616)::VARCHAR
         |                       ELSE m::VARCHAR END, u) AS first_min
         |        FROM g GROUP BY doc_id),
         |docs AS (SELECT DISTINCT doc_id FROM h)
         |SELECT d.doc_id,
         |  COALESCE(LEAST(a.n_union, 128), 0) AS n_mins,
         |  COALESCE(a.n_union, 0) AS n_abunds,
         |  COALESCE(a.sum_abund, 0) AS sum_abund,
         |  COALESCE(a.first_min, '') AS first_min,
         |  true AS untracked_same_mins,
         |  true AS untracked_abunds_present,
         |  0 AS untracked_n_abunds
         |FROM docs d LEFT JOIN agg a USING (doc_id)""".stripMargin),
    // SQL surface: the custom kernels as registered Catalyst functions.
    // Gated by the d03 LSH candidate set — a within-source all-pairs join
    // grows quadratically with block size (the d02 boilerplate blowup one
    // scale-up later); the SQL functions are demonstrated on the bucketed
    // candidates instead, exactly as a 100-TB run would drive them.
    QueryDef("d08_sql_jaccard", { (s, d) =>
      graft.functions.GraftExtensions.register(s)
      docSketches(s, d).createOrReplaceTempView("doc_sketches")
      docCandidates(s, d).createOrReplaceTempView("doc_candidates")
      s.sql(
        """SELECT c.a, c.b,
          |  round(graft_jaccard(sa.mins, sb.mins, 128), 6) AS jac,
          |  round(graft_containment(sa.mins, sb.mins), 6) AS containment
          |FROM doc_candidates c
          |JOIN doc_sketches sa ON sa.doc_id = c.a
          |JOIN doc_sketches sb ON sb.doc_id = c.b
          |WHERE graft_jaccard(sa.mins, sb.mins, 128) >= 0.5""".stripMargin)
    },
      // full replica over the LSH-gated candidates: bucketing/caps/pair-gen
      // from the band dump (candSql), combined-denominator jaccard (num=128,
      // jacSql) + one-sided containment from the sketch dump
      s"""WITH $candSql,
         |$jacSql,
         |cont AS (
         |  SELECT c.a, c.b,
         |    len(list_intersect(sa.mins, sb.mins)) * 1.0 / greatest(len(sa.mins), 1) AS ct
         |  FROM cand c
         |  JOIN sk sa ON sa.doc_id = c.a
         |  JOIN sk sb ON sb.doc_id = c.b)
         |SELECT jac.a, jac.b, round(jac.jac_est, 6) AS jac, round(cont.ct, 6) AS containment
         |FROM jac JOIN cont ON jac.a = cont.a AND jac.b = cont.b
         |WHERE jac.jac_est >= 0.5""".stripMargin))
}
