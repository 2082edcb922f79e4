package graft.queries

import graft.engine.{Materialize, Semantics, Tables}
import graft.operators.TextOps
import org.apache.spark.sql.functions._

/** Text-analysis extension queries over `documents` (builder prompt: langid,
  * quality scoring, token counting, fingerprinting, TF-IDF). All pure
  * built-ins + higher-order array functions — map-side work plus one shuffle
  * for corpus aggregates; scales as a linear scan at 100 TB. */
object Text extends QueryGroup {

  /** X1: exact dedup by content hash — hash-groupBy with deterministic
    * min-id keeper. */
  private val q17 = QueryDef(
    "q17_dedup_exact",
    (s, dir) => graft.operators.DedupOps
      .exactDedupGroups(Tables.documents(s, dir), col("doc_id"), col("text"))
      .orderBy(col("content_hash")),
    Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
           |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin))

  /** Token counting per language: whitespace tokens, corpus rollup. */
  private val q18 = QueryDef(
    "q18_token_stats",
    (s, dir) => Tables.documents(s, dir)
      .withColumn("n_tokens", size(TextOps.tokenize(col("text"))).cast("long"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        round(avg(col("n_tokens")), 4).as("avg_tokens"))
      .orderBy(col("lang")),
    Some("""SELECT lang, count(*) AS n_docs,
           |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           |  round(avg(len(string_split(text, ' '))), 4) AS avg_tokens
           |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))

  /** Quality scoring: stopword ratio + mean word length + length prior. */
  private val q19 = QueryDef(
    "q19_quality_score",
    (s, dir) => {
      val stops = TextOps.defaultStopwords
      Tables.documents(s, dir)
        .withColumn("toks", TextOps.tokenize(col("text")))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .withColumn("stop_ratio",
          round(TextOps.stopwordCount(col("toks"), stops).cast("double") / col("n_tokens").cast("double"), 6))
        .withColumn("mean_word_len",
          round(col("n_chars").cast("double") / col("n_tokens").cast("double"), 6))
        .withColumn("quality",
          TextOps.qualityScore(col("n_tokens"), col("stop_ratio"), col("mean_word_len")))
        .select(col("doc_id"), col("n_tokens"), col("stop_ratio"), col("mean_word_len"), col("quality"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (
           |  SELECT doc_id, n_chars, string_split(text, ' ') AS toks,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           |  FROM documents),
           |f AS (
           |  SELECT doc_id, n_tokens,
           |    round(CAST(len(list_filter(toks, x -> x IN ('the','a','an','of','and','to','in','is','it','on','for'))) AS DOUBLE)
           |      / CAST(n_tokens AS DOUBLE), 6) AS stop_ratio,
           |    round(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS mean_word_len
           |  FROM t)
           |SELECT doc_id, n_tokens, stop_ratio, mean_word_len,
           |  round(0.4 * (CASE WHEN stop_ratio BETWEEN 0.05 AND 0.5 THEN 1.0 ELSE 0.0 END)
           |      + 0.3 * (CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END)
           |      + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0), 4) AS quality
           |FROM f ORDER BY doc_id""".stripMargin))

  /** Language-ID heuristic: stopword-marker argmax with fixed tie order. */
  private val q20 = QueryDef(
    "q20_langid",
    (s, dir) => {
      val df = Tables.documents(s, dir)
        .withColumn("toks", TextOps.tokenize(col("text")))
      val scored = TextOps.langIdScores(col("toks")).foldLeft(df) {
        case (d, (lang, score)) => d.withColumn(s"${lang}_hits", score)
      }
      scored
        .withColumn("predicted_lang",
          TextOps.langIdPredict(col("en_hits"), col("de_hits"), col("es_hits"), col("fr_hits")))
        .select(col("doc_id"), col("lang"), col("predicted_lang"),
          col("en_hits"), col("de_hits"), col("es_hits"), col("fr_hits"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (
           |  SELECT doc_id, lang,
           |    CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','and','of','is'))) AS BIGINT) AS en_hits,
           |    CAST(len(list_filter(string_split(text,' '), x -> x IN ('der','die','und','das'))) AS BIGINT) AS de_hits,
           |    CAST(len(list_filter(string_split(text,' '), x -> x IN ('el','la','de','que'))) AS BIGINT) AS es_hits,
           |    CAST(len(list_filter(string_split(text,' '), x -> x IN ('le','les','des','est'))) AS BIGINT) AS fr_hits
           |  FROM documents)
           |SELECT doc_id, lang,
           |  CASE WHEN en_hits + de_hits + es_hits + fr_hits = 0 THEN 'und'
           |       WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
           |       WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
           |       WHEN es_hits >= fr_hits THEN 'es'
           |       ELSE 'fr' END AS predicted_lang,
           |  en_hits, de_hits, es_hits, fr_hits
           |FROM t ORDER BY doc_id""".stripMargin))

  /** Fingerprint dedup: md5-of-normalized-text prefix as near-exact key. */
  private val q21 = QueryDef(
    "q21_fingerprint",
    (s, dir) => Tables.documents(s, dir)
      .groupBy(TextOps.fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_docs"))
      .orderBy(col("fp")),
    Some("""SELECT substr(md5(lower(regexp_replace(text, '\s+', ' ', 'g'))), 1, 16) AS fp,
           |  min(doc_id) AS keeper_id, count(*) AS n_docs
           |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin))

  /** Rolling-hash fingerprinting: whole-doc Rabin–Karp dedup key (native
    * StringPolyHash expression) plus the doc's shingle-window rolling-hash
    * extrema as a structural signature. */
  private val q33 = QueryDef(
    "q33_rolling_hash",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val docFp = docs.select(col("doc_id"), TextOps.rollingHash(col("text")).as("doc_fp"))
      val windows = TextOps.shingleRows(docs, col("doc_id"), col("source"), col("text"))
        .withColumn("wfp", TextOps.rollingHash(col("sh")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_windows"), min(col("wfp")).as("min_wfp"), max(col("wfp")).as("max_wfp"))
      docFp.join(windows, Seq("doc_id"), "left")
        .select(col("doc_id"), col("doc_fp"),
          coalesce(col("n_windows"), lit(0L)).as("n_windows"),
          col("min_wfp"), col("max_wfp"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH ph AS (
           |  SELECT doc_id,
           |    list_reduce(list_prepend(0::BIGINT,
           |      list_transform(string_split_regex(text, ''), c -> ascii(c)::BIGINT)),
           |      (h, c) -> (h * 31 + c) % 1000000007) AS doc_fp
           |  FROM documents),
           |${OracleSql.shingleSetsCte(3)},
           |w AS (
           |  SELECT doc_id, count(*) AS n_windows,
           |    min(list_reduce(list_prepend(0::BIGINT,
           |      list_transform(string_split_regex(sh, ''), c -> ascii(c)::BIGINT)),
           |      (h, c) -> (h * 31 + c) % 1000000007)) AS min_wfp,
           |    max(list_reduce(list_prepend(0::BIGINT,
           |      list_transform(string_split_regex(sh, ''), c -> ascii(c)::BIGINT)),
           |      (h, c) -> (h * 31 + c) % 1000000007)) AS max_wfp
           |  FROM (SELECT doc_id, unnest(shset) AS sh FROM sets) GROUP BY 1)
           |SELECT ph.doc_id, ph.doc_fp,
           |  coalesce(w.n_windows, 0) AS n_windows, w.min_wfp, w.max_wfp
           |FROM ph LEFT JOIN w ON ph.doc_id = w.doc_id
           |ORDER BY ph.doc_id""".stripMargin))

  /** X4 TF-IDF: top-30 (doc, term) by tf·ln(N/df). Two hash aggregates +
    * one broadcastable dim join (term→df) + a scalar N cross join; top-k via
    * TakeOrderedAndProject. */
  private val q27 = QueryDef(
    "q27_tfidf_top_terms",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val terms = docs.select(col("doc_id"), explode(TextOps.tokenize(col("text"))).as("term"))
      // r16 (guide §2.4): df derives FROM tf — tf has exactly one row per
      // (doc, term), so count-per-term of tf rows IS the document
      // frequency (the bm25Scores idiom); the pre-r16 form re-tokenized
      // the corpus under a separate distinct + aggregate. The checkpoint
      // (q162 idiom) is load-bearing: a lazy tf would be column-pruned
      // under the df branch (Catalyst rewrites count(non-null tf) back to
      // count(1) and drops the count from that copy of the aggregate),
      // recreating the double tokenize. tf is the smallest shared point —
      // ≤ one narrow row per (doc, distinct term).
      val tf = Materialize.checkpoint(terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
      tf.join(dfreq, "term").crossJoin(n)
        .withColumn("tfidf",
          round(col("tf").cast("double") * log(col("n_docs").cast("double") / col("df").cast("double")), 6))
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"))
        .orderBy(desc("tfidf"), col("doc_id"), col("term"))
        .limit(30)
    },
    Some("""WITH terms AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
           |dfreq AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY 1),
           |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
           |SELECT doc_id, term, tf, df,
           |  round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
           |FROM tf JOIN dfreq USING (term) CROSS JOIN n
           |ORDER BY tfidf DESC, doc_id, term LIMIT 30""".stripMargin))

  /** Token counting, whitespace vs BPE-ish regex tokenizer side by side
    * (builder prompt's token-counting pair): per-language totals from both,
    * plus the punctuation-token surplus the regex tokenizer surfaces. */
  private val q34 = QueryDef(
    "q34_token_regex_stats",
    (s, dir) => Tables.documents(s, dir)
      .withColumn("n_ws", size(TextOps.tokenize(col("text"))).cast("long"))
      .withColumn("n_re", size(TextOps.tokenizeRegex(col("text"))).cast("long"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_ws")).as("ws_tokens"),
        sum(col("n_re")).as("re_tokens"),
        round(avg((col("n_re") - col("n_ws")).cast("double")), 4).as("avg_extra"))
      .orderBy(col("lang")),
    Some(s"""SELECT lang, count(*) AS n_docs,
           |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           |  CAST(sum(len(regexp_extract_all(text, '[\\p{L}\\p{N}]+|[^\\p{L}\\p{N}\\s]'))) AS BIGINT) AS re_tokens,
           |  round(avg(CAST(len(regexp_extract_all(text, '[\\p{L}\\p{N}]+|[^\\p{L}\\p{N}\\s]'))
           |    - len(string_split(text, ' ')) AS DOUBLE)), 4) AS avg_extra
           |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))

  /** X4 custom-UDAF exercise: per-language stopword document frequencies via
    * the typed DocFrequency Aggregator (bounded-vocab map buffer, partial
    * aggregation merges constant-size state). */
  private val q37 = QueryDef(
    "q37_docfreq_udaf",
    (s, dir) => {
      val dfq = udaf(new graft.functions.DocFrequency(TextOps.defaultStopwords))
      Tables.documents(s, dir)
        .select(col("lang"), TextOps.tokenize(col("text")).as("toks"))
        .groupBy(col("lang"))
        .agg(dfq(col("toks")).as("df_map"))
        .select(col("lang"), explode(col("df_map")).as(Seq("term", "df")))
        .orderBy(col("lang"), col("term"))
    },
    Some("""SELECT lang, term, count(*) AS df
           |FROM (SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS term
           |      FROM documents)
           |WHERE term IN ('the','a','an','of','and','to','in','is','it','on','for')
           |GROUP BY 1, 2 ORDER BY lang, term""".stripMargin))

  /** Collocation mining — top-20 adjacent word pairs by PMI with support
    * ≥ 5 (X4 depth: the association statistic behind phrase detection /
    * tokenizer-merge candidates). PMI factors evaluate left-to-right in
    * doubles on both engines; round-6 + zero-normalize pins the hash. */
  private val q55 = QueryDef(
    "q55_collocation_pmi",
    (s, dir) => TextOps
      .collocationPmi(Tables.documents(s, dir), col("doc_id"), col("text"), 5)
      .withColumn("pmi", Semantics.roundz(col("pmi"), 6))
      .orderBy(desc("pmi"), col("w1"), col("w2"))
      .limit(20),
    Some(s"""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
           |bi0 AS (
           |  SELECT unnest(${OracleSql.ngramsSql(2, "s")}) AS bg
           |  FROM sp),
           |bi AS (SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2 FROM bi0),
           |uni AS (SELECT unnest(s) AS tok FROM sp),
           |cuni AS (SELECT tok, count(*) AS c FROM uni GROUP BY 1),
           |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2 HAVING count(*) >= 5),
           |n AS (SELECT (SELECT count(*) FROM bi) AS n_big, (SELECT count(*) FROM uni) AS n_uni)
           |SELECT w1, w2, c12,
           |  round(ln(c12::DOUBLE * n_uni * n_uni / (n_big::DOUBLE * ca.c * cb.c)), 6) + 0.0 AS pmi
           |FROM c12 JOIN cuni ca ON ca.tok = c12.w1 JOIN cuni cb ON cb.tok = c12.w2 CROSS JOIN n
           |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin))

  /** PIVOT — long-to-wide reshape: the source × language document-count
    * matrix a corpus dashboard shows. Spark's pivot with an EXPLICIT value
    * list skips the distinct-values collection job and keeps the output
    * schema stable at any scale; the plan is the standard two-phase
    * aggregate (by (source, lang), then pivot-first by source). Absent
    * cells coalesce to 0 to match conditional-aggregation semantics. */
  private val langCols = Seq("de", "en", "es", "fr", "zh")
  private val q57 = QueryDef(
    "q57_pivot_lang_matrix",
    (s, dir) => Tables.documents(s, dir)
      .groupBy(col("source"))
      .pivot("lang", langCols)
      .agg(count(lit(1)))
      .select(col("source") +: langCols.map(l => coalesce(col(l), lit(0L)).as(l)): _*)
      .orderBy(col("source")),
    Some(s"""SELECT source,
           |  ${langCols.map(l => s"count(*) FILTER (WHERE lang = '$l') AS $l").mkString(",\n  ")}
           |FROM documents GROUP BY 1 ORDER BY source""".stripMargin))

  /** Exact heavy hitters through a Misra-Gries prefilter (X4 scale depth):
    * tokens in ≥ 1/200 of all occurrences. The sketch pass ships ≤ k=400
    * entries per partition (vs the full vocabulary a plain groupBy
    * shuffles); the exact rescan touches only candidate rows, so the
    * output hash-matches the full GROUP BY HAVING the oracle runs —
    * sketch-prefilter + exact-verify, like the Bloom decontamination. */
  private val q64 = QueryDef(
    "q64_heavy_hitters",
    (s, dir) => TextOps.heavyHitters(
        Tables.documents(s, dir).select(explode(TextOps.tokenize(col("text"))).as("tok")),
        col("tok"), k = 400, shareDen = 200L)
      .orderBy(desc("n_occurrences"), col("tok")),
    Some("""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
           |tot AS (SELECT count(*) AS n FROM toks)
           |SELECT tok, CAST(count(*) AS BIGINT) AS n_occurrences
           |FROM toks CROSS JOIN tot
           |GROUP BY tok, tot.n
           |HAVING CAST(count(*) AS BIGINT) * 200 >= tot.n
           |ORDER BY n_occurrences DESC, tok""".stripMargin))

  /** q64's sketch rung with a HARD oracle: a count-min sketch (d=4 rows ×
    * w=512 salted-md5 counters — [[graft.operators.SketchOps]]) estimates
    * the frequency of the top-20 exact tokens; the oracle re-executes the
    * whole sketch in SQL and the estimates hash-match because CMS is
    * ALL-INTEGER arithmetic (unlike q36's HLL there is not even a float
    * division to pin down). `overcount` = est − exact exposes the sketch's
    * one-sided error per probe (≥ 0 structurally, ≤ εN w.h.p. — the bound
    * the spec asserts). The counter table is d·w cells at any corpus
    * size — the state a 100 TB frequency monitor actually keeps. */
  private val q129 = QueryDef(
    "q129_count_min_sketch",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(TextOps.tokenize(col("text"))).as("tok"))
      val sketch = graft.operators.SketchOps.cmsCounters(toks, col("tok"), d = 4, w = 512)
      val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_tf"))
        .orderBy(desc("exact_tf"), col("tok")).limit(20)
      graft.operators.SketchOps.cmsQuery(sketch, top, col("tok"))
        .withColumn("overcount", col("cms_est") - col("exact_tf"))
        .select(col("tok"), col("exact_tf"), col("cms_est"), col("overcount"))
        .orderBy(desc("exact_tf"), col("tok"))
    },
    Some("""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
           |hits AS (SELECT r.r AS row,
           |    ('0x' || substr(md5(r.r::VARCHAR || ':' || tok), 1, 8))::BIGINT % 512 AS col
           |  FROM toks CROSS JOIN unnest(range(4)) AS r(r)),
           |cnt AS (SELECT row, col, count(*) AS c FROM hits GROUP BY 1, 2),
           |top AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact_tf FROM toks
           |  GROUP BY 1 ORDER BY exact_tf DESC, tok LIMIT 20),
           |probe AS (SELECT top.tok, top.exact_tf,
           |    CAST(min(coalesce(cnt.c, 0)) AS BIGINT) AS cms_est
           |  FROM top CROSS JOIN unnest(range(4)) AS r(r)
           |  LEFT JOIN cnt ON cnt.row = r.r AND cnt.col =
           |    ('0x' || substr(md5(r.r::VARCHAR || ':' || top.tok), 1, 8))::BIGINT % 512
           |  GROUP BY 1, 2)
           |SELECT tok, exact_tf, cms_est, cms_est - exact_tf AS overcount
           |FROM probe ORDER BY exact_tf DESC, tok""".stripMargin))

  /** Within-doc repetition profile (Gopher repetition signals): per-doc
    * duplicate token/bigram/trigram fractions via the codegen-resident
    * posexplode + lead formulation and one Expand aggregate. */
  private val q68 = QueryDef(
    "q68_repetition_stats",
    (s, dir) => TextOps.repetitionStats(
        Tables.documents(s, dir), col("doc_id"), col("text"))
      .orderBy(col("doc_id")),
    Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           |g AS (SELECT doc_id, toks,
           |  ${OracleSql.ngramsSql(2, "toks")} AS bi,
           |  ${OracleSql.ngramsSql(3, "toks")} AS tri
           |  FROM t)
           |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
           |  CASE WHEN len(toks) > 0 THEN round((len(toks) - len(list_distinct(toks)))
           |    / CAST(len(toks) AS DOUBLE), 6) + 0.0 ELSE 0.0 END AS dup_token_frac,
           |  CASE WHEN len(bi) > 0 THEN round((len(bi) - len(list_distinct(bi)))
           |    / CAST(len(bi) AS DOUBLE), 6) + 0.0 ELSE 0.0 END AS dup_bigram_frac,
           |  CASE WHEN len(tri) > 0 THEN round((len(tri) - len(list_distinct(tri)))
           |    / CAST(len(tri) AS DOUBLE), 6) + 0.0 ELSE 0.0 END AS dup_trigram_frac
           |FROM g ORDER BY doc_id""".stripMargin))

  /** Unigram-LM surprisal scoring (CCNet-filter shape): per-doc mean
    * −log₂ p(token) under the corpus unigram distribution — vocabulary
    * aggregate + token-equi scoring join + per-doc aggregate. */
  private val q69 = QueryDef(
    "q69_surprisal_score",
    (s, dir) => TextOps.surprisalScores(
        Tables.documents(s, dir), col("doc_id"), TextOps.tokenize(col("text")))
      .orderBy(col("doc_id")),
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           |  FROM documents),
           |v AS (SELECT tok, count(*) AS tf FROM tok GROUP BY 1),
           |n AS (SELECT CAST(sum(tf) AS DOUBLE) AS n FROM v)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           |  round(avg(-log2(CAST(tf AS DOUBLE) / n.n)), 6) + 0.0 AS avg_surprisal
           |FROM tok JOIN v USING (tok) CROSS JOIN n
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** X4 corpus-composition report: per-source language mix with Shannon
    * entropy (bits) — the profile a mixture owner reads before setting
    * q66's targets. One (source, lang) aggregate + a window riding its
    * partitioning + the per-source fold; state is source×lang cardinality. */
  private val q76 = QueryDef(
    "q76_lang_mix_entropy",
    (s, dir) => TextOps.categoryEntropy(
        Tables.documents(s, dir), col("source"), col("lang"))
      .select(col("grp").as("source"), col("n_rows"), col("n_categories"), col("entropy"))
      .orderBy(col("source")),
    Some("""WITH c AS (SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
           |w AS (SELECT source, n, sum(n) OVER (PARTITION BY source) AS tot FROM c)
           |SELECT source, CAST(max(tot) AS BIGINT) AS n_rows,
           |  count(*) AS n_categories,
           |  round(-sum((CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))
           |    * log2(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))), 6) + 0.0 AS entropy
           |FROM w GROUP BY 1 ORDER BY 1""".stripMargin))

  /** X4 distribution-drift report: per-source unigram KL divergence from
    * the corpus (bits) — catches a source whose token mix silently shifts
    * between crawls. Vocabulary-bounded state, token-equi scoring join. */
  private val q79 = QueryDef(
    "q79_source_kl_drift",
    (s, dir) => TextOps.distributionDrift(
        Tables.documents(s, dir), col("source"), TextOps.tokenize(col("text")))
      .select(col("grp").as("source"), col("n_tokens"), col("kl_bits"))
      .orderBy(col("source")),
    Some("""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok
           |  FROM documents),
           |g AS (SELECT source, tok, count(*) AS ns FROM tok GROUP BY 1, 2),
           |gt AS (SELECT source, tok, ns, sum(ns) OVER (PARTITION BY source) AS tot_g FROM g),
           |c AS (SELECT tok, count(*) AS nc FROM tok GROUP BY 1),
           |n AS (SELECT CAST(sum(nc) AS DOUBLE) AS tot_c FROM c)
           |SELECT source, CAST(max(tot_g) AS BIGINT) AS n_tokens,
           |  round(sum((CAST(ns AS DOUBLE) / CAST(tot_g AS DOUBLE))
           |    * log2((CAST(ns AS DOUBLE) / CAST(tot_g AS DOUBLE))
           |      / (CAST(nc AS DOUBLE) / tot_c))), 6) + 0.0 AS kl_bits
           |FROM gt JOIN c USING (tok) CROSS JOIN n
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** X4 REAL subword tokenization (q34's "BPE-ish regex" upgraded to an
    * actual encoder): greedy longest-match over a literal merge vocab with
    * char fallback — the codegen'd [[graft.functions.SubwordEncode]] trie,
    * one walk per character regardless of vocab size. Output: the corpus's
    * top-30 subwords by frequency. The oracle replays the identical
    * vocabulary through a per-position max-match table + recursive-CTE walk
    * ([[OracleSql.subwordWalkSql]]) — tokenization hash-matches
    * cross-engine, not just counts. */
  private val q91 = QueryDef(
    "q91_subword_tokens",
    (s, dir) => Tables.documents(s, dir)
      .select(explode(TextOps.subwordTokenize(col("text"))).as("sub"))
      .groupBy(col("sub")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("sub")).limit(30),
    Some(s"""${OracleSql.subwordWalkSql(TextOps.defaultSubwordVocab)}
           |SELECT tok AS sub, count(*) AS n FROM walk
           |GROUP BY 1 ORDER BY n DESC, sub LIMIT 30""".stripMargin))

  /** X4 tokenizer-quality profile over the REAL subword stream: per-doc
    * fertility (subwords per whitespace word — the standard tokenizer
    * efficiency metric) and duplicate-subword fraction (q68's repetition
    * signal re-based onto model tokens, which is what a filtering
    * threshold actually sees). Pure map work + one explode-free aggregate:
    * the subword array never leaves the row. */
  private val q93 = QueryDef(
    "q93_subword_fertility",
    (s, dir) => Tables.documents(s, dir)
      .select(col("doc_id"),
        TextOps.subwordTokenize(col("text")).as("subs"),
        size(filter(TextOps.tokenize(col("text")), w => length(w) > 0))
          .cast("long").as("n_words"))
      .select(col("doc_id"), col("n_words"),
        size(col("subs")).cast("long").as("n_subwords"),
        when(col("n_words") > 0, graft.engine.Semantics.roundz(
            size(col("subs")).cast("double") / col("n_words").cast("double"), 6))
          .otherwise(lit(0.0)).as("fertility"),
        when(size(col("subs")) > 0, graft.engine.Semantics.roundz(
            (size(col("subs")) - size(array_distinct(col("subs")))).cast("double")
              / size(col("subs")).cast("double"), 6))
          .otherwise(lit(0.0)).as("dup_subword_frac"))
      .orderBy(col("doc_id")),
    Some(s"""${OracleSql.subwordWalkSql(TextOps.defaultSubwordVocab)},
           |agg AS (SELECT doc_id, count(*) AS n_subwords, count(DISTINCT tok) AS n_distinct
           |  FROM walk GROUP BY 1)
           |SELECT d.doc_id,
           |  CAST(len(list_filter(string_split(d.text, ' '), x -> len(x) > 0)) AS BIGINT) AS n_words,
           |  CAST(coalesce(a.n_subwords, 0) AS BIGINT) AS n_subwords,
           |  CASE WHEN len(list_filter(string_split(d.text, ' '), x -> len(x) > 0)) > 0
           |    THEN round(CAST(coalesce(a.n_subwords, 0) AS DOUBLE)
           |      / len(list_filter(string_split(d.text, ' '), x -> len(x) > 0)), 6) + 0.0
           |    ELSE 0.0 END AS fertility,
           |  CASE WHEN coalesce(a.n_subwords, 0) > 0
           |    THEN round(CAST(a.n_subwords - a.n_distinct AS DOUBLE) / a.n_subwords, 6) + 0.0
           |    ELSE 0.0 END AS dup_subword_frac
           |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id""".stripMargin))

  /** X4 bigram-LM surprisal (q69's unigram scorer upgraded to a
    * conditional model, add-one smoothed — the next rung of the
    * CCNet/Gopher LM-filtering ladder): per-doc mean −log₂ p̂(wᵢ|wᵢ₋₁).
    * Codegen window-lead bigrams, vocabulary-bounded count state,
    * token-equi scoring joins, broadcast V scalar. */
  private val q97 = QueryDef(
    "q97_bigram_surprisal",
    (s, dir) => TextOps.bigramSurprisal(
        Tables.documents(s, dir), col("doc_id"), col("text"))
      .orderBy(col("doc_id")),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           |bi AS (SELECT doc_id, toks[i.i + 1] AS w1, toks[i.i + 2] AS w2
           |  FROM t, unnest(range(len(toks) - 1)) AS i(i) WHERE len(toks) >= 2),
           |cbi AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
           |cl AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
           |v AS (SELECT count(DISTINCT tok) AS v
           |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents))
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           |  round(avg(-log2((c12 + 1.0) / (c1 + v.v))), 6) + 0.0 AS avg_bigram_surprisal
           |FROM bi JOIN cbi USING (w1, w2) JOIN cl USING (w1) CROSS JOIN v
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** X4 BPE merge TRAINING in the engine ([[TextOps.bpeTrain]]) — the
    * learning half of the subword tokenizer, so train AND encode both run
    * distributed: 10 merges learned from the corpus's distinct-word
    * frequency table (character start, frequency-weighted adjacent-pair
    * argmax, lexicographic tie-break, greedy non-overlap reapplication).
    * Output = the merge table in training order with pair counts. With the
    * merge count a literal the loop UNROLLS into an exact CTE chain
    * ([[OracleSql.bpeCtes]] — all string/integer arithmetic, nothing to
    * round), completing the unrolled-trainer oracle sweep (k-means
    * q41/q90/q95, logistic q125); BpeTrainSpec additionally verifies
    * against an independent reference trainer and composes the learned
    * vocab into [[TextOps.subwordTokenize]]. */
  private val q96 = QueryDef(
    "q96_bpe_train",
    (s, dir) => {
      import s.implicits._
      val merges = TextOps.bpeTrain(Tables.documents(s, dir), col("text"), numMerges = 10)
      merges.zipWithIndex.map { case ((a, b, n), i) =>
        (i.toLong + 1L, a, b, a + b, n)
      }.toDF("rank", "left", "right", "merged", "n").orderBy(col("rank"))
    },
    Some(s"""WITH ${OracleSql.bpeCtes("bp", 10)}
           |${OracleSql.bpeMergeTableSelect("bp", 10)}""".stripMargin))

  /** X4 the full tokenizer loop IN the engine: [[TextOps.bpeTrain]] learns
    * 10 merges from the corpus, their folded tokens become the vocabulary,
    * and [[TextOps.subwordTokenize]] (the codegen trie encoder) re-encodes
    * the same corpus — train and encode both distributed, no hand vocab.
    * Output: top-20 trained subwords by frequency. Oracle-checked END TO
    * END: [[OracleSql.bpeCtes]]' unrolled training feeds its learned
    * vocab straight into the recursive longest-match walk
    * ([[OracleSql.subwordWalkSqlFrom]]) — train and encode both
    * re-executed by the second engine in one statement. */
  private val q98 = QueryDef(
    "q98_trained_subword",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = TextOps.bpeTrain(docs, col("text"), numMerges = 10)
        .map { case (a, b, _) => a + b }
      docs.select(explode(TextOps.subwordTokenize(col("text"), vocab)).as("sub"))
        .groupBy(col("sub")).agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("sub")).limit(20)
    },
    Some(s"""${OracleSql.subwordWalkSqlFrom(
              vocabCte = "vocab(v) AS (SELECT DISTINCT a || b FROM (" +
                (1 to 10).map(k => s"SELECT a, b FROM bpt$k").mkString(" UNION ALL ") + "))",
              prelude = OracleSql.bpeCtes("bp", 10))}
           |SELECT tok AS sub, count(*) AS n FROM walk
           |GROUP BY 1 ORDER BY n DESC, sub LIMIT 20""".stripMargin))

  /** Tokenizer-validation audit — the check a pipeline runs BEFORE
    * committing to a tokenizer: train BPE on the q45 train split only,
    * encode the held-out TEST split with the learned vocab, and report
    * each source's char-fallback rate (pieces of length 1 — every learned
    * merge is ≥ 2 chars, so a 1-char piece is exactly an uncovered
    * position). High fallback on one source = the tokenizer underserves
    * it (the multilingual-tokenizer-fairness measurement). Oracle-checked
    * END-TO-END: the split filter, the unrolled training, the trained
    * vocab and the recursive longest-match walk all re-execute in one
    * DuckDB statement over the SAME split membership. */
  private val q131 = QueryDef(
    "q131_vocab_coverage",
    (s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("split",
        graft.operators.CurationOps.hashSplit(col("doc_id"),
          Seq("train" -> 80, "valid" -> 90, "test" -> 100)))
      val vocab = TextOps.bpeTrain(
        docs.filter(col("split") === "train"), col("text"), numMerges = 10)
        .map { case (a, b, _) => a + b }
      docs.filter(col("split") === "test")
        .select(col("source"), explode(TextOps.subwordTokenize(col("text"), vocab)).as("p"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_pieces"),
          sum(when(length(col("p")) === 1, 1L).otherwise(0L)).as("n_fallbacks"))
        .withColumn("fallback_rate", Semantics.roundz(
          col("n_fallbacks").cast("double") / col("n_pieces").cast("double"), 6))
        .orderBy(col("source"))
    },
    Some {
      val bkt = """bkt AS (SELECT doc_id, source, text,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket
        |  FROM documents)""".stripMargin
      s"""${OracleSql.subwordWalkSqlFrom(
            vocabCte = "vocab(v) AS (SELECT DISTINCT a || b FROM (" +
              (1 to 10).map(k => s"SELECT a, b FROM bpt$k").mkString(" UNION ALL ") + "))",
            prelude = bkt + ",\n" +
              OracleSql.bpeCtes("bp", 10, "(SELECT text FROM bkt WHERE bucket < 80)"),
            docsSql = "(SELECT doc_id, text FROM bkt WHERE bucket >= 90)")}
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_pieces,
         |  CAST(sum(CASE WHEN len(tok) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_fallbacks,
         |  round(CAST(sum(CASE WHEN len(tok) = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |      / CAST(count(*) AS DOUBLE), 6) + 0.0 AS fallback_rate
         |FROM walk JOIN bkt d USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    })

  /** Per-source lexical-diversity report: type-token ratio and
    * distinct-bigram ratio (distinct-n) — the corpus-level diversity
    * metrics that catch template-generated or self-repeating sources (q68
    * is the per-DOCUMENT repetition view; this is the per-SOURCE roll-up
    * a mixture planner reads). Bigrams stay within document boundaries via
    * the codegen posexplode + window-`lead` idiom; one Expand-backed
    * aggregate per source carries both distinct measures. */
  private val q104 = QueryDef(
    "q104_diversity",
    (s, dir) => graft.operators.TextOps
      .diversityStats(Tables.documents(s, dir), col("source"), col("doc_id"), col("text"))
      .withColumnRenamed("grp", "source")
      .orderBy(col("source")),
    Some("""WITH tk AS (SELECT source, doc_id, i.i AS pos,
           |    string_split(text, ' ')[i.i + 1] AS tok
           |  FROM documents, unnest(range(len(string_split(text, ' ')))) AS i(i)),
           |bi AS (SELECT source, doc_id, pos, tok,
           |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
           |  FROM tk)
           |SELECT source, count(tok) AS n_tokens,
           |  CASE WHEN count(tok) > 0
           |    THEN round(count(DISTINCT tok)::DOUBLE / count(tok), 6) + 0.0
           |    ELSE 0.0 END AS type_token_ratio,
           |  CASE WHEN count(CASE WHEN nxt IS NOT NULL THEN 1 END) > 0
           |    THEN round(count(DISTINCT CASE WHEN nxt IS NOT NULL THEN tok || ' ' || nxt END)::DOUBLE
           |      / count(CASE WHEN nxt IS NOT NULL THEN 1 END), 6) + 0.0
           |    ELSE 0.0 END AS distinct_bigram_ratio
           |FROM bi GROUP BY 1 ORDER BY 1""".stripMargin))

  /** BM25 keyword retrieval (Robertson; Lucene k1/b parameterization with
    * the +1 idf floor) — rank the corpus against a literal 3-term query.
    * The lexical retrieval ranker that runs next to embedding k-NN in a
    * data pipeline: targeted corpus probes, quality-by-query audits,
    * BM25-negative mining. The term scan filters to the query terms BEFORE
    * any shuffle; doc length is a narrow map (the token stream is never
    * exploded unfiltered); corpus stats and per-term idf are 1-row /
    * |query|-row broadcasts. Both engines evaluate the score formula with
    * identical operator association; only the ≤3-term per-doc sum is
    * rounded (1e-6) against cross-engine sum-order drift. */
  private val q106 = QueryDef(
    "q106_bm25_retrieval",
    (s, dir) => TextOps
      .bm25Scores(Tables.documents(s, dir), col("doc_id"), col("text"),
        Seq("vector", "stream", "hash"), k1 = 1.2, b = 0.75)
      .select(col("doc_id"), col("dl").cast("long").as("dl"),
        col("n_terms_matched"),
        Semantics.roundz(col("bm25"), 6).as("bm25"))
      .orderBy(desc("bm25"), col("doc_id"))
      .limit(15),
    Some("""WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
           |st AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl::DOUBLE) AS avgdl FROM d),
           |tm AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
           |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tm
           |  WHERE term IN ('vector', 'stream', 'hash') GROUP BY 1, 2),
           |dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
           |idf AS (SELECT term, ln(1 + (n_docs - df + 0.5) / (df + 0.5)) AS idf, avgdl
           |  FROM dfq, st),
           |sc AS (SELECT tf.doc_id,
           |    sum(idf * tf * (1.2 + 1) / (tf + 1.2 * (0.25 + 0.75 * (d.dl::DOUBLE) / avgdl))) AS s,
           |    count(*) AS n_terms_matched
           |  FROM tf JOIN idf USING (term) JOIN d ON d.doc_id = tf.doc_id GROUP BY 1)
           |SELECT sc.doc_id, d.dl::BIGINT AS dl, n_terms_matched, round(s, 6) + 0.0 AS bm25
           |FROM sc JOIN d ON d.doc_id = sc.doc_id
           |ORDER BY round(s, 6) DESC, sc.doc_id LIMIT 15""".stripMargin))

  /** Per-source DATA CARD — the one-row-per-source profile a data vendor
    * ships with a corpus release (Datasheets-for-Datasets shape): volume
    * (docs, tokens), quality mass (q19's composite score summed —
    * boundary-safe vs a divided mean), median length, and language mix
    * (q76's distinct-lang count + entropy). Pure composition of linear
    * aggregates — one pass over the token stream, one percentile, one
    * (source, lang) aggregate; the provenance/dup half of a card lives in
    * q114's overlap matrix. */
  private val q115 = QueryDef(
    "q115_data_card",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val f = docs
        .withColumn("toks", TextOps.tokenize(col("text")))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .withColumn("stop_ratio", round(
          TextOps.stopwordCount(col("toks")).cast("double") / col("n_tokens").cast("double"), 6))
        .withColumn("mean_word_len", round(
          col("n_chars").cast("double") / col("n_tokens").cast("double"), 6))
        .withColumn("quality",
          TextOps.qualityScore(col("n_tokens"), col("stop_ratio"), col("mean_word_len")))
      val prof = f.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        Semantics.roundz(sum(col("quality")), 6).as("sum_quality"),
        Semantics.roundz(percentile(col("n_chars"), lit(0.5)), 6).as("p50_chars"))
      val langs = TextOps.categoryEntropy(docs, col("source"), col("lang"))
        .select(col("grp").as("source"), col("n_categories").as("n_langs"),
          col("entropy").as("lang_entropy"))
      prof.join(langs, "source").orderBy(col("source"))
    },
    Some("""WITH t AS (SELECT source, doc_id, n_chars,
           |    string_split(text, ' ') AS toks,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           |  FROM documents),
           |f AS (SELECT source, n_chars, n_tokens,
           |    round(CAST(len(list_filter(toks, x -> x IN ('the','a','an','of','and','to','in','is','it','on','for'))) AS DOUBLE)
           |      / CAST(n_tokens AS DOUBLE), 6) AS stop_ratio,
           |    round(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS mean_word_len
           |  FROM t),
           |q AS (SELECT source, n_chars, n_tokens,
           |    round(0.4 * (CASE WHEN stop_ratio BETWEEN 0.05 AND 0.5 THEN 1.0 ELSE 0.0 END)
           |        + 0.3 * (CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END)
           |        + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0), 4) AS quality
           |  FROM f),
           |prof AS (SELECT source, count(*) AS n_docs,
           |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           |    round(sum(quality), 6) + 0.0 AS sum_quality,
           |    round(quantile_cont(n_chars, 0.5), 6) + 0.0 AS p50_chars
           |  FROM q GROUP BY 1),
           |lg AS (SELECT source, count(*) AS n_langs,
           |    round(-sum((CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))
           |      * log2(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))), 6) + 0.0 AS lang_entropy
           |  FROM (SELECT source, n, sum(n) OVER (PARTITION BY source) AS tot
           |        FROM (SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2))
           |  GROUP BY 1)
           |SELECT source, n_docs, total_tokens, sum_quality, p50_chars, n_langs, lang_entropy
           |FROM prof JOIN lg USING (source) ORDER BY source""".stripMargin))

  /** X1+F-class: canonical-equivalence-invariant fingerprinting — the
    * Unicode normalization pass that must precede content hashing when a
    * corpus mixes crawl sources. Each document is materialized in BOTH
    * canonical encodings of the same visible text (precomposed U+00E1 vs
    * decomposed U+0061+U+0301 — byte-distinct, md5-distinct), then
    * fingerprinted through the codegen'd [[graft.functions.NfcNormalize]]:
    * every group unifies exactly the two byte variants under one
    * normalized hash, which is the property that makes exact dedup robust
    * to encoding provenance. Oracle replays the identical transform with
    * DuckDB's `nfc_normalize` (same UAX #15 NFC). Stateless narrow map +
    * one hash aggregate — a linear scan at 100 TB. */
  private val q142 = QueryDef(
    "q142_nfc_fingerprint",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val pre = d.select(col("doc_id"),
        replace(col("text"), lit("a"), lit("\u00e1")).as("vtext"))
      val dec = d.select(col("doc_id"),
        replace(col("text"), lit("a"), lit("a\u0301")).as("vtext"))
      pre.unionAll(dec)
        .groupBy(md5(graft.functions.GraftFunctions.nfcNormalize(col("vtext"))
          .cast("binary")).as("norm_hash"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(md5(col("vtext").cast("binary"))).as("n_byte_variants"),
          min(col("doc_id")).as("keeper_id"))
        .orderBy(col("norm_hash"))
    },
    Some("""WITH v AS (
           |  SELECT doc_id, replace(text, 'a', chr(225)) AS vtext FROM documents
           |  UNION ALL
           |  SELECT doc_id, replace(text, 'a', 'a' || chr(769)) AS vtext FROM documents)
           |SELECT md5(nfc_normalize(vtext)) AS norm_hash, count(*) AS n_rows,
           |  CAST(count(DISTINCT md5(vtext)) AS BIGINT) AS n_byte_variants,
           |  min(doc_id) AS keeper_id
           |FROM v GROUP BY 1 ORDER BY norm_hash""".stripMargin))

  /** X7 URL canonicalization + per-site rollup ([[TextOps.canonicalizeUrl]]):
    * crawl records carry the same resource under casing/port/tracking-param/
    * trailing-slash/param-order variants; the canonical key collapses them
    * before dedup and the host rollup is the per-site quota/blocklist view.
    * Four raw variants are derived per doc (canonical, cased+default-port,
    * tracking-params+slash+fragment, reordered real params); per host the
    * canonical distinct count collapses the first three. Every step is a
    * mirrored regex/array built-in — no UDF, no parse_url — and a stateless
    * narrow map before one hash aggregate. */
  private val q144 = QueryDef(
    "q144_url_canonical",
    (s, dir) => {
      val pathPart = (col("doc_id") % 7).cast("string")
      val u = Tables.documents(s, dir).withColumn("url",
        when(col("doc_id") % 4 === 0,
          concat(lit("https://"), col("source"), lit(".example.com/docs/"), pathPart))
        .when(col("doc_id") % 4 === 1,
          concat(lit("HTTPS://"), upper(col("source")), lit(".EXAMPLE.COM:443/docs/"), pathPart))
        .when(col("doc_id") % 4 === 2,
          concat(lit("https://"), col("source"), lit(".example.com/docs/"), pathPart,
            lit("/?utm_source=feed&gclid=xyz#frag")))
        .otherwise(
          concat(lit("https://"), col("source"), lit(".example.com/docs/"), pathPart,
            lit("?b=2&a=1"))))
      u.withColumn("curl", TextOps.canonicalizeUrl(col("url")))
        .withColumn("host", TextOps.urlHost(col("url")))
        .withColumn("domain", TextOps.registeredDomain(col("host")))
        .groupBy(col("host"), col("domain"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("url")).as("n_raw"),
          countDistinct(col("curl")).as("n_canon"))
        .orderBy(col("host"))
    },
    Some("""WITH u AS (
           |  SELECT doc_id, source,
           |    CASE doc_id % 4
           |      WHEN 0 THEN 'https://' || source || '.example.com/docs/' || CAST(doc_id % 7 AS VARCHAR)
           |      WHEN 1 THEN 'HTTPS://' || upper(source) || '.EXAMPLE.COM:443/docs/' || CAST(doc_id % 7 AS VARCHAR)
           |      WHEN 2 THEN 'https://' || source || '.example.com/docs/' || CAST(doc_id % 7 AS VARCHAR) || '/?utm_source=feed&gclid=xyz#frag'
           |      ELSE 'https://' || source || '.example.com/docs/' || CAST(doc_id % 7 AS VARCHAR) || '?b=2&a=1'
           |    END AS url
           |  FROM documents),
           |c AS (SELECT url, regexp_replace(url, '#.*$', '') AS nofrag FROM u),
           |p AS (
           |  SELECT url,
           |    lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
           |    lower(regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]+)', 1)) AS hostport,
           |    regexp_replace(regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*([^?]*)', 1), '/+$', '') AS path,
           |    regexp_extract(nofrag, '\?(.*)$', 1) AS qs
           |  FROM c),
           |f AS (
           |  SELECT url, scheme,
           |    CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
           |         WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
           |         ELSE hostport END AS host,
           |    path,
           |    coalesce(array_to_string(list_sort(list_filter(string_split(qs, '&'),
           |      x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid)(=|$)'))), '&'), '') AS sq
           |  FROM p)
           |SELECT host, regexp_extract(regexp_replace(host, ':[0-9]+$', ''), '([^.]+\.[^.]+)$', 1) AS domain,
           |  count(*) AS n_docs,
           |  CAST(count(DISTINCT url) AS BIGINT) AS n_raw,
           |  CAST(count(DISTINCT scheme || '://' || host || path ||
           |    CASE WHEN sq = '' THEN '' ELSE '?' || sq END) AS BIGINT) AS n_canon
           |FROM f GROUP BY 1, 2 ORDER BY host""".stripMargin))

  /** X4 character-entropy quality signal: per-doc Shannon entropy of the
    * character distribution — the classic gibberish/boilerplate detector
    * (random bytes score high, repeated filler scores low) that complements
    * q19's token-ratio score. Shape is exactly word-count: explode to
    * (doc, char), hash-aggregate counts (partial aggregation absorbs the
    * ~n_chars× fan-out map-side), one doc-partitioned window for totals,
    * then the per-source rollup. Linear scan at 100 TB, no global window. */
  private val q147 = QueryDef(
    "q147_char_entropy",
    (s, dir) => {
      val ent = TextOps.docCharEntropy(Tables.documents(s, dir),
        col("doc_id"), col("text"), carry = Seq("source" -> col("source")))
      ent.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("h")), 6).as("avg_entropy"),
          round(min(col("h")), 6).as("min_entropy"),
          round(max(col("h")), 6).as("max_entropy"))
        .orderBy(col("source"))
    },
    Some("""WITH ch AS (
           |  SELECT doc_id, source, unnest(string_split_regex(text, '')) AS c
           |  FROM documents),
           |cnt AS (
           |  SELECT doc_id, source, c, count(*) AS n FROM ch WHERE c <> '' GROUP BY 1, 2, 3),
           |ent AS (
           |  SELECT doc_id, source,
           |    round(-sum((CAST(n AS DOUBLE) / tot) * log2(CAST(n AS DOUBLE) / tot)), 6) AS h
           |  FROM (SELECT doc_id, source, c, n,
           |          CAST(sum(n) OVER (PARTITION BY doc_id) AS DOUBLE) AS tot FROM cnt)
           |  GROUP BY 1, 2)
           |SELECT source, count(*) AS n_docs, round(avg(h), 6) AS avg_entropy,
           |  round(min(h), 6) AS min_entropy, round(max(h), 6) AS max_entropy
           |FROM ent GROUP BY 1 ORDER BY source""".stripMargin))

  /** X4 script-mix profile ([[TextOps.scriptCharCounts]]): per-source
    * counts of Latin/CJK/Cyrillic/Greek characters plus how many docs mix
    * scripts — the router signal stopword langid can't see (it has no
    * markers for unknown languages; script ranges classify every char).
    * Script content is derived per doc (three non-Latin tails by doc_id
    * residue) since the fixture corpus is pure ASCII; all outputs are
    * integer-exact. Stateless narrow map + one hash aggregate. */
  private val q149 = QueryDef(
    "q149_script_profile",
    (s, dir) => {
      val d = Tables.documents(s, dir).withColumn("mtext",
        when(col("doc_id") % 4 === 1, concat(col("text"), lit(" \u4f60\u597d\u4e16\u754c")))
          .when(col("doc_id") % 4 === 2, concat(col("text"), lit(" \u0432\u043e\u0434\u0430 \u043c\u0438\u0440")))
          .when(col("doc_id") % 4 === 3, concat(col("text"), lit(" \u03b3\u03b5\u03b9\u03ac \u03c3\u03bf\u03c5")))
          .otherwise(col("text")))
      val counted = TextOps.scriptCharCounts(col("mtext")).foldLeft(d) {
        case (df, (name, c)) => df.withColumn(s"__$name", c.cast("long"))
      }
      counted.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__latin")).as("latin_chars"),
          sum(col("__cjk")).as("cjk_chars"),
          sum(col("__cyrillic")).as("cyrillic_chars"),
          sum(col("__greek")).as("greek_chars"),
          sum(when((when(col("__latin") > 0, 1).otherwise(0) +
            when(col("__cjk") > 0, 1).otherwise(0) +
            when(col("__cyrillic") > 0, 1).otherwise(0) +
            when(col("__greek") > 0, 1).otherwise(0)) >= 2, 1L).otherwise(0L))
            .as("n_multiscript"))
        .orderBy(col("source"))
    },
    Some("""WITH m AS (
           |  SELECT source,
           |    CASE doc_id % 4
           |      WHEN 1 THEN text || ' 你好世界'
           |      WHEN 2 THEN text || ' вода мир'
           |      WHEN 3 THEN text || ' γειά σου'
           |      ELSE text END AS mtext
           |  FROM documents),
           |c AS (
           |  SELECT source,
           |    CAST(len(regexp_extract_all(mtext, '[A-Za-z]')) AS BIGINT) AS lat,
           |    CAST(len(regexp_extract_all(mtext, '[\x{4e00}-\x{9fff}]')) AS BIGINT) AS cjk,
           |    CAST(len(regexp_extract_all(mtext, '[\x{0400}-\x{04ff}]')) AS BIGINT) AS cyr,
           |    CAST(len(regexp_extract_all(mtext, '[\x{0370}-\x{03ff}]')) AS BIGINT) AS grk
           |  FROM m)
           |SELECT source, count(*) AS n_docs,
           |  CAST(sum(lat) AS BIGINT) AS latin_chars, CAST(sum(cjk) AS BIGINT) AS cjk_chars,
           |  CAST(sum(cyr) AS BIGINT) AS cyrillic_chars, CAST(sum(grk) AS BIGINT) AS greek_chars,
           |  CAST(sum(CASE WHEN (CASE WHEN lat > 0 THEN 1 ELSE 0 END +
           |    CASE WHEN cjk > 0 THEN 1 ELSE 0 END +
           |    CASE WHEN cyr > 0 THEN 1 ELSE 0 END +
           |    CASE WHEN grk > 0 THEN 1 ELSE 0 END) >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_multiscript
           |FROM c GROUP BY 1 ORDER BY source""".stripMargin))

  /** X4 encoding-damage (mojibake) detection + repair
    * ([[TextOps.mojibakeCount]]/[[TextOps.fixMojibake]]): the q142
    * synthesis discipline applied to CHARSET rot — accents are injected
    * into the fixture text, half the docs (by id parity) are then damaged
    * by the REAL transform (their UTF-8 bytes re-read as Latin-1, Spark's
    * own encode/decode — not a hand-faked replace), and the repair
    * re-encodes as Latin-1 and re-decodes as UTF-8, gated on the
    * provably-invertible pattern. The oracle replays damage and repair as
    * literal replace chains — equal on exactly these rows, which is the
    * point: the generic inversion and the lookup table must agree
    * wherever both apply. `n_roundtrip_ok = n_docs` in every source row
    * is the checked proof that repair is exact and untouched rows pass
    * through byte-identical. Stateless narrow map + one aggregate. */
  private val q156 = QueryDef(
    "q156_mojibake_repair",
    (s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("clean",
          replace(replace(col("text"), lit("merge"), lit("mérge")),
            lit("data"), lit("dätá")))
        .withColumn("observed",
          when(col("doc_id") % 2 === 0,
            decode(encode(col("clean"), "UTF-8"), "ISO-8859-1"))
            .otherwise(col("clean")))
        .withColumn("n_moji", TextOps.mojibakeCount(col("observed")))
        .withColumn("repaired", TextOps.fixMojibake(col("observed")))
      d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_moji") > 0, 1L).otherwise(0L)).as("n_damaged"),
          sum(col("n_moji")).as("n_sequences"),
          sum(when(col("repaired") =!= col("observed"), 1L).otherwise(0L))
            .as("n_repaired"),
          sum(when(col("repaired") === col("clean"), 1L).otherwise(0L))
            .as("n_roundtrip_ok"))
        .orderBy(col("source"))
    },
    Some(("""WITH c AS (
           |  SELECT doc_id, source,
           |    replace(replace(text, 'merge', 'm__E9__rge'),
           |      'data', 'd__E4__t__E1__') AS clean
           |  FROM documents),
           |o AS (
           |  SELECT doc_id, source, clean,
           |    CASE WHEN doc_id % 2 = 0
           |      THEN replace(replace(replace(clean, '__E9__', '__C3____A9__'),
           |        '__E4__', '__C3____A4__'), '__E1__', '__C3____A1__')
           |      ELSE clean END AS observed
           |  FROM c),
           |r AS (
           |  SELECT source, clean, observed,
           |    CAST(len(regexp_extract_all(observed,
           |      '__C3__[\x{00a0}-\x{00bf}]')) AS BIGINT) AS n_moji,
           |    CASE WHEN regexp_matches(observed, '__C3__[\x{00a0}-\x{00bf}]')
           |           AND regexp_matches(observed,
           |             '^(?:[\x{0000}-\x{007f}]|__C3__[\x{00a0}-\x{00bf}])*$')
           |      THEN replace(replace(replace(observed, '__C3____A9__', '__E9__'),
           |        '__C3____A4__', '__E4__'), '__C3____A1__', '__E1__')
           |      ELSE observed END AS repaired
           |  FROM o)
           |SELECT source, count(*) AS n_docs,
           |  CAST(sum(CASE WHEN n_moji > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_damaged,
           |  CAST(sum(n_moji) AS BIGINT) AS n_sequences,
           |  CAST(sum(CASE WHEN repaired <> observed THEN 1 ELSE 0 END) AS BIGINT) AS n_repaired,
           |  CAST(sum(CASE WHEN repaired = clean THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip_ok
           |FROM r GROUP BY 1 ORDER BY source""".stripMargin
        .replace("__E9__", "é").replace("__E4__", "ä")
        .replace("__E1__", "á").replace("__C3__", "Ã")
        .replace("__A9__", "©").replace("__A4__", "¤")
        .replace("__A1__", "¡"))))

  /** X4 BM25 served from the persisted-index path ([[TextOps
    * .buildTextIndex]]/[[TextOps.bm25Serve]]): ONE index build amortizes
    * across queries — two distinct term queries are served from the same
    * postings, where q106 re-scans the corpus per query. The scoring
    * pipeline is bit-identical to q106's (spec-certified parity), so the
    * oracle replays each query as the direct BM25 chain; what this adds
    * to the hash is the multi-query serving shape (per-query top-10 off
    * one artifact). At 100 TB the served path reads only the query
    * terms' postings (term-range row-group pruning under
    * [[TextOps.writeTextIndex]]'s term-sorted layout), never the corpus. */
  private val q158 = QueryDef(
    "q158_bm25_served_index",
    (s, dir) => {
      val idx = TextOps.buildTextIndex(Tables.documents(s, dir),
        col("doc_id"), col("text"))
      def serveTop(label: String, terms: Seq[String]) =
        TextOps.bm25Serve(idx, terms)
          .select(lit(label).as("query"), col("doc_id"),
            col("dl").cast("long").as("dl"), col("n_terms_matched"),
            Semantics.roundz(col("bm25"), 6).as("bm25"))
          .orderBy(desc("bm25"), col("doc_id")).limit(10)
      serveTop("qa", Seq("vector", "stream", "hash"))
        .unionByName(serveTop("qb", Seq("merge", "window", "filter", "sort")))
        .orderBy(col("query"), desc("bm25"), col("doc_id"))
    },
    Some("""WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
           |st AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl::DOUBLE) AS avgdl FROM d),
           |tm AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
           |tfa AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tm
           |  WHERE term IN ('vector', 'stream', 'hash') GROUP BY 1, 2),
           |dfa AS (SELECT term, count(*)::DOUBLE AS df FROM tfa GROUP BY 1),
           |ia AS (SELECT term, ln(1 + (n_docs - df + 0.5) / (df + 0.5)) AS idf, avgdl
           |  FROM dfa, st),
           |sa AS (SELECT tfa.doc_id,
           |    sum(idf * tf * (1.2 + 1) / (tf + 1.2 * (0.25 + 0.75 * (d.dl::DOUBLE) / avgdl))) AS s,
           |    count(*) AS n_terms_matched
           |  FROM tfa JOIN ia USING (term) JOIN d ON d.doc_id = tfa.doc_id GROUP BY 1),
           |tfb AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tm
           |  WHERE term IN ('merge', 'window', 'filter', 'sort') GROUP BY 1, 2),
           |dfb AS (SELECT term, count(*)::DOUBLE AS df FROM tfb GROUP BY 1),
           |ib AS (SELECT term, ln(1 + (n_docs - df + 0.5) / (df + 0.5)) AS idf, avgdl
           |  FROM dfb, st),
           |sb AS (SELECT tfb.doc_id,
           |    sum(idf * tf * (1.2 + 1) / (tf + 1.2 * (0.25 + 0.75 * (d.dl::DOUBLE) / avgdl))) AS s,
           |    count(*) AS n_terms_matched
           |  FROM tfb JOIN ib USING (term) JOIN d ON d.doc_id = tfb.doc_id GROUP BY 1)
           |SELECT * FROM (
           |  SELECT 'qa' AS query, sa.doc_id, d.dl::BIGINT AS dl, n_terms_matched,
           |    round(s, 6) + 0.0 AS bm25
           |  FROM sa JOIN d ON d.doc_id = sa.doc_id
           |  ORDER BY round(s, 6) DESC, sa.doc_id LIMIT 10)
           |UNION ALL
           |SELECT * FROM (
           |  SELECT 'qb' AS query, sb.doc_id, d.dl::BIGINT AS dl, n_terms_matched,
           |    round(s, 6) + 0.0 AS bm25
           |  FROM sb JOIN d ON d.doc_id = sb.doc_id
           |  ORDER BY round(s, 6) DESC, sb.doc_id LIMIT 10)
           |ORDER BY query, bm25 DESC, doc_id""".stripMargin))

  override val defs: Seq[QueryDef] =
    Seq(q17, q18, q19, q20, q21, q27, q33, q34, q37, q55, q57, q64, q68, q69, q76, q79, q91,
      q93, q96, q97, q98, q104, q106, q115, q129, q131, q142, q144, q147, q149, q156, q158)
}
