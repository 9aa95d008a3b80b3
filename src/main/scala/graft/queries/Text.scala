package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.queries.QuerySupport._

/** `tNN` text analysis: tokenization, quality and language signals,
  * sampling, repetition, cardinality and TF-IDF. */
object Text {

  private[queries] def toks(c: Column): Column = filter(split(c, " "), x => x =!= "")

  /** t13's estimator body; `k` is a parameter so the spec can drive the
    * degenerate branch (fewer distinct values than k → the sketch IS the
    * exact set and the estimate must equal the exact count). */
  private[graft] val kmvK = 256
  private[graft] def kmvCardinality(docs: DataFrame, k: Int): DataFrame = {
    // The production side is the SKETCH alone: [[graft.functions
    // .BottomKAgg]] reduces raw gram occurrences — duplicates and all,
    // no distinct pre-pass, no per-group sort — into one ≤k sorted
    // distinct buffer per (source, map partition) BEFORE the exchange
    // (ObjectHashAggregate partial), so at 100 TB the estimator costs
    // one exchange of k-bounded sketches regardless of corpus size.
    // The exact-distinct side is the AUDIT's calibration cost — the
    // heavyweight distinct a pipeline pays once to pick k, then drops.
    val occurrences = docs.select(col("source"),
      explode(when(length(col("text")) >= 8,
        transform(sequence(lit(1), length(col("text")) - 7),
          i => col("text").substr(i, lit(8))))
        .otherwise(array().cast("array<string>"))).as("gram"))
    val sketch = occurrences
      .select(col("source"), md5(col("gram")).as("h"))
      .groupBy(col("source"))
      .agg(graft.functions.BottomKAgg.bottomK(col("h"), k).as("bk"))
      .select(col("source"), element_at(col("bk"), -1).as("kth"),
        size(col("bk")).as("n_in"))
    val exact = occurrences.distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("exact_distinct"))
    // the kth hash's leading 13 hex digits as an exact 52-bit integer in
    // a double (< 2^53, so conv→cast is exact); u = hv/2^52 is the
    // fraction of the hash space covered by the k smallest values
    val hv = conv(substring(col("kth"), 1, 13), 16, 10).cast("double")
    exact.join(sketch, "source")
      .withColumn("est_distinct",
        when(col("n_in") < k, round(col("exact_distinct") * lit(1.0), 3))
          .otherwise(round(lit((k - 1).toDouble) * pow(lit(2.0), lit(52.0)) / hv, 3)))
      .select(col("source"), col("exact_distinct"), col("est_distinct"),
        round(abs(col("est_distinct") - col("exact_distinct")) /
          col("exact_distinct"), 6).as("rel_err"))
  }

  val queries: Seq[QueryDef] = Seq(
    // token counting (whitespace tokenizer)
    QueryDef("t01_token_count", { (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        size(toks(col("text"))).as("n_tokens"),
        length(col("text")).as("n_chars_m"))
    },
      """SELECT doc_id,
        |  len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens,
        |  length(text) AS n_chars_m
        |FROM documents""".stripMargin),
    // quality scoring: structural ratios, 6-digit stable rounding
    QueryDef("t02_quality_score", { (s, d) =>
      val df = t(s, d, "documents")
        .withColumn("n_tokens", size(toks(col("text"))))
        .withColumn("n_chars_m", length(col("text")))
        .withColumn("n_stop", size(filter(toks(col("text")),
          x => x === "the" || x === "a")))
      df.select(col("doc_id"), col("n_tokens"), col("n_stop"),
        round(col("n_stop") * lit(1.0) / col("n_tokens"), 6).as("stop_ratio"),
        round(col("n_chars_m") * lit(1.0) / col("n_tokens"), 6).as("avg_tok_len"))
    },
      """WITH b AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens,
        |    length(text) AS n_chars_m,
        |    len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS n_stop
        |  FROM documents)
        |SELECT doc_id, n_tokens, n_stop,
        |  round(n_stop*1.0/n_tokens, 6) AS stop_ratio,
        |  round(n_chars_m*1.0/n_tokens, 6) AS avg_tok_len
        |FROM b""".stripMargin),
    // language id: deterministic marker-token argmax (n-gram heuristic family)
    QueryDef("t03_lang_id", { (s, d) =>
      val tk = toks(col("text"))
      def cnt(ws: Seq[String]) =
        size(filter(tk, x => ws.map(w => x === w).reduce(_ || _)))
      t(s, d, "documents").select(col("doc_id"), col("lang"),
          cnt(Seq("the", "a", "and", "of")).as("s_en"),
          cnt(Seq("der", "die", "das", "und")).as("s_de"),
          cnt(Seq("le", "la", "et", "les")).as("s_fr"),
          cnt(Seq("el", "los", "y", "las")).as("s_es"))
        .withColumn("predicted",
          when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") &&
            col("s_en") >= col("s_es") && col("s_en") > 0, "en")
            .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_es") &&
              col("s_de") > 0, "de")
            .when(col("s_fr") >= col("s_es") && col("s_fr") > 0, "fr")
            .when(col("s_es") > 0, "es")
            .otherwise("unknown"))
    },
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split(text,' '), x -> x IN ('the','a','and','of'))) AS s_en,
        |    len(list_filter(string_split(text,' '), x -> x IN ('der','die','das','und'))) AS s_de,
        |    len(list_filter(string_split(text,' '), x -> x IN ('le','la','et','les'))) AS s_fr,
        |    len(list_filter(string_split(text,' '), x -> x IN ('el','los','y','las'))) AS s_es
        |  FROM documents)
        |SELECT doc_id, lang, s_en, s_de, s_fr, s_es,
        |  CASE
        |    WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
        |    WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
        |    WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
        |    WHEN s_es > 0 THEN 'es'
        |    ELSE 'unknown' END AS predicted
        |FROM b""".stripMargin),
    // LM-quality scoring, CCNet-style: per-doc mean unigram log-probability
    // under the corpus' own unigram model — the standard "train a cheap LM
    // on the corpus, keep the head of the score distribution" quality
    // filter. Two aggregations: the vocabulary (a dimension table even at
    // web scale — AQE broadcasts it into the token join from runtime
    // stats), then the per-doc mean. The global token total rides on the
    // vocabulary agg as an unpartitioned window over the tiny vocab frame
    // — no separate count job, no driver scalar.
    QueryDef("t06_unigram_logprob", { (s, d) =>
      // no spread: the whitespace explode is too cheap to amortize the
      // widening exchange, and `tokens` has two consumers that would
      // each rerun it (measured +0.2-0.3 s with spread at sf0.1)
      val tokens = t(s, d, "documents")
        .select(col("doc_id"), explode(toks(col("text"))).as("w"))
      val vocab = tokens.groupBy(col("w")).agg(count(lit(1)).as("df"))
        .withColumn("lp",
          log(col("df")) - log(sum(col("df")).over(Window.partitionBy())))
      tokens.join(vocab.select(col("w"), col("lp")), "w")
        .groupBy(col("doc_id")).agg(
          count(lit(1)).as("n_tokens"),
          round(sum(col("lp")) / count(lit(1)), 6).as("avg_logprob"))
    },
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), x -> x != '')) AS w
        |  FROM documents),
        |vocab AS (SELECT w, count(*) AS df FROM toks GROUP BY 1),
        |lp AS (
        |  SELECT w, ln(df) - ln(sum(df) OVER ()) AS lp FROM vocab)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |  round(sum(l.lp) / count(*), 6) AS avg_logprob
        |FROM toks t JOIN lp l USING (w)
        |GROUP BY 1""".stripMargin),
    // BPE-ish regex tokenization (the GPT-2 pre-tokenizer family,
    // ASCII-simplified): contractions | space?+letter-run | space?+digit-
    // run | space?+punct-run | residual whitespace. Pure per-row codegen'd
    // regex — no shuffle, embarrassingly parallel at any scale. The
    // BPE-per-word fertility ratio is the standard tokenizer-cost signal
    // a training pipeline budgets by.
    QueryDef("t07_bpe_tokens", { (s, d) =>
      val bpeRe = "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+|\\s+"
      // the corpus is pure lowercase word soup (fertility would be
      // identically 1.0), so a fixed mixed-token suffix — mirrored in
      // the oracle — exercises every branch: contraction split,
      // digit-runs, punctuation-runs ("it's test-case 3.14 x42" is 4
      // whitespace tokens but 10 BPE-ish tokens)
      val aug = concat(col("text"), lit(" it's test-case 3.14 x42"))
      // no spread: the single regexp_count pass is cheaper than the
      // widening exchange at this scale (measured +0.1 s with spread)
      t(s, d, "documents").select(col("doc_id"),
          regexp_count(aug, lit(bpeRe)).as("n_bpe"),
          size(filter(split(aug, " "), x => x =!= "")).as("n_ws"))
        .withColumn("fertility",
          round(col("n_bpe") * lit(1.0) / greatest(col("n_ws"), lit(1)), 6))
    },
      // the doubled '' is a single quote inside the DuckDB string literal;
      // RE2 and Java regex agree on every construct used here
      """WITH aug AS (
        |  SELECT doc_id, text || ' it''s test-case 3.14 x42' AS aug
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(aug,
        |    '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+|\s+')) AS n_bpe,
        |  len(list_filter(string_split(aug, ' '), x -> x != '')) AS n_ws,
        |  round(len(regexp_extract_all(aug,
        |      '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+|\s+')) * 1.0 /
        |    greatest(len(list_filter(string_split(aug, ' '), x -> x != '')), 1),
        |    6) AS fertility
        |FROM aug""".stripMargin),
    // PII detection/redaction stats: the corpus carries no PII, so a
    // deterministic augmentation (derived purely from doc_id, mirrored
    // in the oracle) plants synthetic emails/phones first — the operator
    // under test is the detect/redact pass, which is again pure per-row
    // codegen'd regex work with no shuffle.
    QueryDef("t08_pii_redact", { (s, d) =>
      val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phoneRe = "555-[0-9]{4}"
      val aug = concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact me at user"), col("doc_id").cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" call 555-0"),
            lpad((col("doc_id") % 100).cast("string"), 3, "0")))
          .otherwise(lit("")))
      spread(s, t(s, d, "documents")).select(col("doc_id"), aug.as("aug"))
        .select(col("doc_id"),
          regexp_count(col("aug"), lit(emailRe)).as("n_emails"),
          regexp_count(col("aug"), lit(phoneRe)).as("n_phones"),
          length(col("aug")).as("raw_len"),
          length(regexp_replace(regexp_replace(col("aug"), emailRe, "[EMAIL]"),
            phoneRe, "[PHONE]")).as("redacted_len"))
    },
      """WITH aug AS (
        |  SELECT doc_id,
        |    text ||
        |    CASE WHEN doc_id % 7 = 0
        |      THEN ' contact me at user' || doc_id || '@example.com now'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0
        |      THEN ' call 555-0' || lpad(CAST(doc_id % 100 AS VARCHAR), 3, '0')
        |      ELSE '' END AS aug
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(aug, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(aug, '555-[0-9]{4}')) AS n_phones,
        |  length(aug) AS raw_len,
        |  length(regexp_replace(regexp_replace(aug,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
        |    '555-[0-9]{4}', '[PHONE]', 'g')) AS redacted_len
        |FROM aug""".stripMargin),
    // Deterministic stratified sampling — the data-mixing primitive: an
    // exact per-(lang, source) quota drawn by ranking on md5(doc_id), a
    // seed-free order both engines reproduce bit-for-bit (hex strings
    // compare identically). One shuffle on the stratum key; quotas are
    // exact, re-runs and retries select the same rows. At 10^12 rows a
    // handful of strata makes the in-stratum sort the skew surface — the
    // production variant pre-filters on a per-stratum hash threshold
    // (from a broadcast counts agg) to oversample ~quota rows before
    // this exact ranking; the q11 salting pattern applies unchanged.
    QueryDef("t09_stratified_sample", { (s, d) =>
      val w = Window.partitionBy(col("lang"), col("source"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      t(s, d, "documents").select(col("doc_id"), col("lang"), col("source"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
    },
      """SELECT doc_id, lang, source, rk FROM (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY lang, source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 3""".stripMargin),
    // TOKEN-BUDGET MIXING — t09's companion data-mixing primitive: fill a
    // per-(lang, source) TOKEN budget greedily by quality (stopword-ratio
    // rank, the t02 signal; CCNet buckets by exactly this family of
    // scores), i.e. "give me the best 120 tokens of every shard". One
    // running-sum window per (lang, source) group — a web-scale mix is
    // computed per shard precisely so the global sort this would
    // otherwise need parallelizes into thousands of independent groups
    // (here 5 langs × 20 sources; a coarser grouping at scale would swap
    // the exact rank for a quality-histogram cutoff — two parallel
    // passes — at the cost of an approximate budget edge). Ordering is
    // deterministic: the quality key is one IEEE division identical in
    // both engines, ties broken by doc_id.
    QueryDef("t10_token_budget_mix", { (s, d) =>
      val base = t(s, d, "documents").select(
        col("doc_id"), col("lang"), col("source"),
        size(toks(col("text"))).as("n_tokens"),
        size(filter(toks(col("text")), x => x === "the" || x === "a")).as("n_stop"))
      val w = Window.partitionBy(col("lang"), col("source"))
        .orderBy((col("n_stop") * lit(1.0) / col("n_tokens")).desc, col("doc_id"))
      base.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .where(col("cum_tokens") <= 120)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_tokens"), col("cum_tokens"))
    },
      """WITH b AS (
        |  SELECT doc_id, lang, source,
        |    len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens,
        |    len(list_filter(string_split(text, ' '),
        |        x -> x = 'the' OR x = 'a')) AS n_stop
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang, source
        |      ORDER BY n_stop*1.0/n_tokens DESC, doc_id) AS cum_tokens
        |  FROM b)
        |SELECT doc_id, lang, source, n_tokens, cum_tokens FROM r
        |WHERE cum_tokens <= 120""".stripMargin),
    // QUALITY-PERCENTILE CUTOFF — the scale path t10's scaladoc promises
    // for COARSE strata (few groups → a per-group total order would
    // serialize): two fully parallel passes instead of a sort. Pass 1
    // aggregates each lang's exact P75 quality (Spark's `percentile` —
    // map-side partial agg); pass 2 broadcasts the tiny cutoff table
    // back and filters. Keeps the top quality quartile per language with
    // no window and no per-group ordering anywhere in the plan. The
    // interpolated cutoff is computed from identical IEEE doubles in
    // both engines (lower + (upper−lower)·frac), so the >= boundary is
    // exact cross-engine — the oracle's hash gate proves it per run.
    QueryDef("t11_quality_cutoff", { (s, d) =>
      val scored = t(s, d, "documents").select(col("doc_id"), col("lang"),
          size(toks(col("text"))).as("n_tokens"),
          size(filter(toks(col("text")), x => x === "the" || x === "a")).as("n_stop"))
        .withColumn("q", col("n_stop") * lit(1.0) / col("n_tokens"))
      val cuts = scored.groupBy(col("lang"))
        .agg(expr("percentile(q, 0.75)").as("cut"))
      scored.join(broadcast(cuts), "lang")
        .where(col("q") >= col("cut"))
        .select(col("doc_id"), col("lang"),
          round(col("q"), 6).as("quality"), round(col("cut"), 6).as("cutoff"))
    },
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens,
        |    len(list_filter(string_split(text, ' '),
        |        x -> x = 'the' OR x = 'a')) AS n_stop
        |  FROM documents),
        |s AS (SELECT doc_id, lang, n_stop*1.0/n_tokens AS q FROM b),
        |c AS (SELECT lang, quantile_cont(q, 0.75) AS cut FROM s GROUP BY lang)
        |SELECT s.doc_id, s.lang, round(s.q, 6) AS quality,
        |  round(c.cut, 6) AS cutoff
        |FROM s JOIN c USING (lang) WHERE s.q >= c.cut""".stripMargin),
    // INTRA-DOCUMENT REPETITION — the Gopher/MassiveText repetition-filter
    // family (Rae et al. 2021 §A1.1: duplicate n-gram and top-n-gram
    // fractions), the per-row complement of d13's CORPUS-level repeated
    // spans: a doc that repeats ITSELF is low-quality even when nothing
    // else in the corpus shares its text. Everything here is higher-order
    // array functions over the row's own token array — per-row codegen,
    // ZERO shuffle at any scale (the 100-TB form is a map-only pass). The
    // nested-lambda counts are O(n·distinct) per row, bounded by the same
    // doc-length cap the sketch tier already assumes (4096 chars). The
    // synthetic corpus has no newlines, so the paper's duplicate-LINE
    // rules instantiate at their n-gram members (top 2-gram, dup 3-gram —
    // 3 because it is the shortest order this corpus actually repeats
    // within documents, so the dup-fraction path is exercised, not
    // vacuously zero).
    QueryDef("t12_doc_repetition", { (s, d) =>
      // spread: the per-row quadratic membership counts below are the
      // whole cost of this zero-shuffle query
      val base = spread(s, t(s, d, "documents"))
        .select(col("doc_id"), toks(col("text")).as("ws"))
        .withColumn("n_words", size(col("ws")))
      // grams hash to longs IN the lambda (the d-family gram-kernel
      // idiom): the quadratic membership counts below then compare
      // primitives, not strings. 64-bit collisions are ignorable at
      // ≤10² grams/doc (the d02 precedent, same exact-string oracle).
      val bigrams = when(col("n_words") >= 2,
        transform(sequence(lit(0), col("n_words") - 2),
          i => xxhash64(concat_ws(" ", element_at(col("ws"), i + 1),
            element_at(col("ws"), i + 2)))))
        .otherwise(array().cast("array<bigint>"))
      val grams3 = when(col("n_words") >= 3,
        transform(sequence(lit(0), col("n_words") - 3),
          i => xxhash64(array_join(slice(col("ws"), i + 1, lit(3)), " "))))
        .otherwise(array().cast("array<bigint>"))
      base.withColumn("bg", bigrams).withColumn("g3", grams3)
        .withColumn("top_bigram_n",
          coalesce(array_max(transform(array_distinct(col("bg")),
            g => size(filter(col("bg"), x => x === g)))), lit(0)))
        .withColumn("n_dup_g3",
          size(filter(col("g3"),
            x => size(filter(col("g3"), y => y === x)) >= 2)))
        .select(col("doc_id"), col("n_words"),
          size(array_distinct(col("ws"))).as("n_distinct_words"),
          round(size(array_distinct(col("ws"))) * lit(1.0) /
            greatest(col("n_words"), lit(1)), 6).as("distinct_frac"),
          col("top_bigram_n"), col("n_dup_g3"),
          round(col("n_dup_g3") * lit(1.0) /
            greatest(col("n_words") - 2, lit(1)), 6).as("dup_g3_frac"))
    },
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x != '') AS ws
        |  FROM documents),
        |b AS (SELECT doc_id, ws, len(ws) AS n_words FROM w),
        |g AS (
        |  SELECT doc_id, n_words, ws,
        |    CASE WHEN n_words >= 2 THEN
        |      list_transform(range(1, n_words), i -> ws[i] || ' ' || ws[i+1])
        |    ELSE [] END AS bg,
        |    CASE WHEN n_words >= 3 THEN
        |      list_transform(range(1, n_words - 1),
        |        i -> array_to_string(ws[i:i+2], ' '))
        |    ELSE [] END AS g3
        |  FROM b),
        |m AS (
        |  SELECT doc_id, n_words,
        |    len(list_distinct(ws)) AS n_distinct_words,
        |    coalesce(list_max(list_transform(list_distinct(bg),
        |      g2 -> len(list_filter(bg, x -> x = g2)))), 0) AS top_bigram_n,
        |    len(list_filter(g3,
        |      x -> len(list_filter(g3, y -> y = x)) >= 2)) AS n_dup_g3
        |  FROM g)
        |SELECT doc_id, n_words, n_distinct_words,
        |  round(n_distinct_words * 1.0 / greatest(n_words, 1), 6) AS distinct_frac,
        |  top_bigram_n, n_dup_g3,
        |  round(n_dup_g3 * 1.0 / greatest(n_words - 2, 1), 6) AS dup_g3_frac
        |FROM m""".stripMargin),
    // KMV (bottom-k) CARDINALITY ESTIMATION — sourmash's own sketch shape
    // (the k smallest distinct hash values, src/lib.rs:192-245's bottom-k
    // mode) reused as the classic distinct-count estimator a corpus tier
    // runs per shard/source: est = (k−1)·H/h_k where h_k is the k-th
    // smallest distinct hash in a space of size H (Bar-Yossef et al.
    // 2002). Registered as a CALIBRATION AUDIT (the d15/e06 discipline):
    // estimate vs exact distinct char-8-gram count per source with the
    // relative error made measurable — mean |err| ≈ 4% at k=256, the
    // 1/√k regime. The hash is md5's leading 52 bits, replicable in
    // DuckDB digit-by-digit, so the oracle re-derives the ENTIRE
    // estimator — ranking, kth-hash fraction, estimate — from raw text.
    QueryDef("t13_cardinality_kmv", { (s, d) =>
      // spread: the char-8-gram explode runs twice (sketch + exact audit
      // side) and dominates; both sides parallelize off one rebalance
      kmvCardinality(spread(s, t(s, d, "documents")), kmvK)
    },
      // full KMV replica from raw text: the 8-gram explode, the distinct
      // set, md5 ranking (fixed-width lowercase hex, so lexicographic
      // order IS numeric order in both engines), the kth hash's leading
      // 52 bits rebuilt digit-by-digit as exact powers of two, and the
      // (k−1)/u estimate — a wrong rank, a biased hash slice, or a
      // fraction off by one nibble all fail the hash gate
      """WITH g AS (
        |  SELECT DISTINCT source,
        |    unnest(list_transform(range(1, CAST(len(text) AS BIGINT) - 6),
        |      i -> substr(text, CAST(i AS INT), 8))) AS gram
        |  FROM documents),
        |h AS (SELECT source, md5(gram) AS h FROM g),
        |r AS (SELECT source, h,
        |        row_number() OVER (PARTITION BY source ORDER BY h) AS rk
        |      FROM h),
        |b AS (SELECT source, max(h) AS kth, count(*) AS n_in
        |      FROM r WHERE rk <= 256 GROUP BY 1),
        |e AS (SELECT source, count(*) AS exact_distinct FROM g GROUP BY 1),
        |v AS (SELECT source, n_in,
        |        list_sum(list_transform(range(13), i ->
        |          (strpos('0123456789abcdef', substr(kth, CAST(i + 1 AS INT), 1)) - 1)
        |            * 2.0 ** (4 * (12 - i)))) AS hv
        |      FROM b),
        |s AS (SELECT e.source, e.exact_distinct,
        |        CASE WHEN v.n_in < 256 THEN round(e.exact_distinct * 1.0, 3)
        |             ELSE round(255.0 * (2.0 ** 52) / v.hv, 3) END AS est_distinct
        |      FROM e JOIN v USING (source))
        |SELECT source, exact_distinct, est_distinct,
        |  round(abs(est_distinct - exact_distinct) / exact_distinct, 6) AS rel_err
        |FROM s""".stripMargin),
    // TF-IDF SALIENT TERMS — the term-weighting family (keyword
    // extraction / topic tagging, the signal a curation tier uses for
    // domain mixing and index routing): per document, the top-3 terms by
    // tf·idf with the smooth-idf form idf = ln((N+1)/(df+1)) + 1 (the
    // sklearn default — never divides by zero, never goes negative).
    // Scale shape: two column-pruned corpus scans but only THREE
    // exchanges, none corpus-wide in payload — (1) the (doc_id, term) tf
    // aggregation (map-side partial combine collapses in-doc repeats
    // before the shuffle), (2) the df count over PER-ROW-DISTINCT tokens
    // (array_distinct inside the row, so the exchange keys on the term
    // alone with map-side combine — no doc_id-keyed re-shuffle on this
    // side), whose output is vocabulary-sized (a dimension table at any
    // corpus scale — broadcast back by hint), and (3) the per-doc top-k
    // window, which runs on the tf table with WindowGroupLimit pruning
    // rows past rank 3 BEFORE the sort within each partition. df counts
    // per-ROW distinct terms (rows = documents under the table contract
    // of one row per doc_id; the oracle and spec replicate the per-row
    // formulation literally, so the gate is contract-independent). Ranking
    // uses the ROUNDED score in both engines so a 1-ulp ln() divergence
    // cannot flip an order; ties break on the term string (total order —
    // deterministic cross-engine).
    QueryDef("t14_tfidf_terms", { (s, d) =>
      val docs = t(s, d, "documents")
      val n = tableRows(s, d, "documents")
      val tf = docs.select(col("doc_id"), explode(toks(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dfT = docs.select(explode(array_distinct(toks(col("text")))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
        .withColumn("idf", log((lit(n) + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0))
      val scored = tf.join(broadcast(dfT), "term")
        .withColumn("score", round(col("tf") * col("idf"), 6))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))
      scored.withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("term"),
          col("tf"), col("df"), col("score"))
    },
      // full tf·idf replica from raw text: same tokenizer, same smooth-idf
      // formula, ranking on the ROUNDED score with term-string tiebreak —
      // a wrong df, a wrong N, or a divergent ln() all fail the hash gate.
      // df counts per-ROW distinct terms (list_distinct before unnest),
      // mirroring the Spark side's array_distinct formulation exactly —
      // the two agree under ANY input, not just unique doc_ids
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfr AS (
        |  SELECT unnest(list_distinct(
        |    list_filter(string_split(text, ' '), x -> x != ''))) AS term
        |  FROM documents),
        |dfq AS (SELECT term, count(*) AS df FROM dfr GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |sc AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
        |    round(tf.tf * (ln((n.n + 1.0) / (dfq.df + 1.0)) + 1.0), 6) AS score
        |  FROM tf JOIN dfq USING (term) CROSS JOIN n),
        |rr AS (SELECT doc_id, term, tf, df, score,
        |         row_number() OVER (PARTITION BY doc_id
        |           ORDER BY score DESC, term) AS rk
        |       FROM sc)
        |SELECT doc_id, rk, term, tf, df, score FROM rr WHERE rk <= 3""".stripMargin))
}
