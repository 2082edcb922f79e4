package graft.queries

import graft.engine.{Semantics, Tables}
import graft.operators.CurationOps
import org.apache.spark.sql.functions._

/** Corpus-curation queries over `documents` (builder prompt; SURVEY §2.10):
  * the split / sample / scrub / profile steps of a training-data pipeline.
  * All assignments are md5-derived so DuckDB reproduces them exactly. */
object Curation extends QueryGroup {

  /** Deterministic 80/10/10 train/valid/test split — per-split doc count and
    * mean length. The assignment is a stateless hash of doc_id: no shuffle,
    * stable under corpus growth (a recrawl never migrates an old doc across
    * splits — the leak-free property eval sets need). */
  private val q45 = QueryDef(
    "q45_hash_split",
    (s, dir) => Tables.documents(s, dir)
      .withColumn("split", CurationOps.hashSplit(col("doc_id"),
        Seq("train" -> 80, "valid" -> 90, "test" -> 100)))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        Semantics.roundz(avg(col("n_chars")), 6).as("avg_chars"))
      .orderBy(col("split")),
    Some(s"""SELECT ${OracleSql.hashSplitSql("doc_id")} AS split,
           |  count(*) AS n_docs, round(avg(n_chars), 6) + 0.0 AS avg_chars
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Per-source quota sampling — keep at most 10 docs per source,
    * deterministically ranked by (md5(doc_id), doc_id). The kept SET is the
    * checked output (not an aggregate of it), so the oracle pins exactly
    * which rows survive at any scale factor. */
  private val q46 = QueryDef(
    "q46_source_quota",
    (s, dir) => CurationOps
      .quotaSample(Tables.documents(s, dir), col("source"), col("doc_id"), 10)
      .select(col("source"), col("doc_id"))
      .orderBy(col("source"), col("doc_id")),
    Some("""SELECT source, doc_id FROM documents
           |QUALIFY row_number() OVER (
           |  PARTITION BY source ORDER BY md5(doc_id::VARCHAR), doc_id) <= 10
           |ORDER BY source, doc_id""".stripMargin))

  /** Regex scrub pass — stopword-token redaction plus an email pattern (the
    * PII shape; zero matches on this fixture by construction, so the count
    * proves the multi-pattern plumbing without inventing fake PII). Both
    * patterns stay in the RE2-compatible subset so match boundaries agree
    * across engines. Output: per-source redaction count and residual size. */
  private val q47 = QueryDef(
    "q47_redaction_scrub",
    (s, dir) => CurationOps
      .redact(Tables.documents(s, dir), col("text"),
        Seq("\\b(the|a)\\b" -> "<TOK>", "[A-Za-z0-9.]+@[A-Za-z0-9.]+" -> "<EMAIL>"))
      .groupBy(col("source"))
      .agg(sum(col("n_redactions")).as("n_redacted"),
        sum(length(col("text_redacted")).cast("long")).as("residual_chars"))
      .orderBy(col("source")),
    Some("""SELECT source,
           |  CAST(sum(len(regexp_extract_all(text, '\b(the|a)\b'))
           |    + len(regexp_extract_all(regexp_replace(text, '\b(the|a)\b', '<TOK>', 'g'),
           |        '[A-Za-z0-9.]+@[A-Za-z0-9.]+'))) AS BIGINT) AS n_redacted,
           |  CAST(sum(length(regexp_replace(regexp_replace(text, '\b(the|a)\b', '<TOK>', 'g'),
           |    '[A-Za-z0-9.]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'))) AS BIGINT) AS residual_chars
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Corpus length profile — exact per-source p50/p90/p99 of n_chars
    * (linear-interpolation percentiles, the shape both engines implement).
    * One hash aggregate; at 100 TB swap `percentile` for
    * `percentile_approx` (t-digest sketch, mergeable) — same query shape. */
  private val q48 = QueryDef(
    "q48_length_quantiles",
    (s, dir) => Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(percentile(col("n_chars"), array(lit(0.5), lit(0.9), lit(0.99))).as("ps"))
      .select(col("source"),
        Semantics.roundz(col("ps").getItem(0), 6).as("p50"),
        Semantics.roundz(col("ps").getItem(1), 6).as("p90"),
        Semantics.roundz(col("ps").getItem(2), 6).as("p99"))
      .orderBy(col("source")),
    Some("""SELECT source,
           |  round(quantile_cont(n_chars, 0.5), 6) + 0.0 AS p50,
           |  round(quantile_cont(n_chars, 0.9), 6) + 0.0 AS p90,
           |  round(quantile_cont(n_chars, 0.99), 6) + 0.0 AS p99
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Sequence packing for a fixed context window — per-source running token
    * offsets bin documents into 2048-token chunks (a doc belongs to the
    * chunk its first token lands in). Output: per-chunk doc count and token
    * mass. */
  private val q49 = QueryDef(
    "q49_sequence_pack",
    (s, dir) => CurationOps
      .packSequences(Tables.documents(s, dir), col("source"), col("doc_id"),
        size(split(col("text"), " ")), 2048)
      .groupBy(col("source"), col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("chunk_tokens"))
      .orderBy(col("source"), col("chunk_id")),
    Some("""WITH t AS (
           |  SELECT source, doc_id,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
           |  FROM documents),
           |c AS (
           |  SELECT source, tok,
           |    sum(tok) OVER (PARTITION BY source ORDER BY doc_id
           |      ROWS UNBOUNDED PRECEDING) AS cum
           |  FROM t)
           |SELECT source, CAST((cum - tok) // 2048 AS BIGINT) AS chunk_id,
           |  count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS chunk_tokens
           |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** Train/eval decontamination — 3-gram containment of each q45-test-split
    * document against the train split's distinct shingle vocabulary. The
    * standard pre-eval overlap audit; the fixture's tiny vocabulary makes
    * containment high, which is exactly the collision regime worth pinning
    * cross-engine. */
  private val q50 = QueryDef(
    "q50_decontamination",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("split", CurationOps.hashSplit(col("doc_id"),
          Seq("train" -> 80, "valid" -> 90, "test" -> 100)))
      // The split membership filter goes BELOW shingleRows: its per-doc
      // window blocks predicate pushdown (bucket is not the window's
      // partition key), so filtering afterwards would shingle the whole
      // corpus and drop 90% — plan-checked in CurationOpsSpec. ONE shingle
      // pipeline serves both sides (valid split excluded up front); the
      // per-side bucket filters sit above its exchange, which Spark then
      // reuses instead of scanning and exploding the corpus twice.
      val sh = graft.operators.TextOps.shingleRows(
        docs.filter(col("split").isin("train", "test")),
        col("doc_id"), col("split"), col("text"))
      CurationOps.contamination(
        sh.filter(col("bucket") === "test"), sh.filter(col("bucket") === "train"))
        .withColumn("containment",
          Semantics.roundz(col("n_contaminated").cast("double") / col("n_shingles").cast("double"), 6))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH b AS (
           |  SELECT doc_id, text,
           |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket
           |  FROM documents),
           |${OracleSql.shingleSetsCte(3, "doc_id, bucket", "b")},
           |ex AS (SELECT doc_id, bucket, unnest(shset) AS sh FROM sets WHERE len(shset) > 0),
           |train AS (SELECT DISTINCT sh FROM ex WHERE bucket < 80),
           |test AS (SELECT doc_id, sh FROM ex WHERE bucket >= 90)
           |SELECT t.doc_id, count(*) AS n_shingles,
           |  CAST(sum(CASE WHEN tr.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           |  round(sum(CASE WHEN tr.sh IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) + 0.0 AS containment
           |FROM test t LEFT JOIN train tr ON t.sh = tr.sh
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** The full curation funnel, end to end — the "switch your pipeline to
    * this library" showcase composing X4 + X1 + X7 in one plan: language-ID
    * gate (predicted 'en') → quality-score gate (≥ 0.7) → exact-dedup
    * keepers (min doc_id per content hash) → deterministic split → per-split
    * tallies. Every stage is an operator verified on its own elsewhere
    * (q20 / q19 / q17 / q45); this query pins their COMPOSITION. */
  private val q52 = QueryDef(
    "q52_curation_funnel",
    (s, dir) => {
      import graft.operators.TextOps
      val docs = Tables.documents(s, dir)
        .withColumn("toks", TextOps.tokenize(col("text")))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
      val scored = TextOps.langIdScores(col("toks")).foldLeft(docs) {
        case (d, (lang, score)) => d.withColumn(s"${lang}_hits", score)
      }
        .withColumn("predicted_lang",
          TextOps.langIdPredict(col("en_hits"), col("de_hits"), col("es_hits"), col("fr_hits")))
        .withColumn("stop_ratio",
          round(TextOps.stopwordCount(col("toks")).cast("double") / col("n_tokens").cast("double"), 6))
        .withColumn("mean_word_len",
          round(col("n_chars").cast("double") / col("n_tokens").cast("double"), 6))
        .withColumn("quality",
          TextOps.qualityScore(col("n_tokens"), col("stop_ratio"), col("mean_word_len")))
        .filter(col("predicted_lang") === "en" && col("quality") >= 0.7)
      scored
        .groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id"), max(col("quality")).as("quality"))
        .withColumn("split", CurationOps.hashSplit(col("doc_id"),
          Seq("train" -> 80, "valid" -> 90, "test" -> 100)))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          Semantics.roundz(avg(col("quality")), 6).as("avg_quality"))
        .orderBy(col("split"))
    },
    Some(s"""WITH t AS (
           |  SELECT doc_id, text, n_chars,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           |    round(CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','a','an','of','and','to','in','is','it','on','for'))) AS DOUBLE)
           |      / CAST(len(string_split(text,' ')) AS DOUBLE), 6) AS stop_ratio,
           |    round(CAST(n_chars AS DOUBLE) / CAST(len(string_split(text,' ')) AS DOUBLE), 6) AS mean_word_len,
           |    CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','and','of','is'))) AS BIGINT) AS en_hits,
           |    CAST(len(list_filter(string_split(text,' '), x -> x IN ('der','die','und','das'))) AS BIGINT) AS de_hits,
           |    CAST(len(list_filter(string_split(text,' '), x -> x IN ('el','la','de','que'))) AS BIGINT) AS es_hits,
           |    CAST(len(list_filter(string_split(text,' '), x -> x IN ('le','les','des','est'))) AS BIGINT) AS fr_hits
           |  FROM documents),
           |q AS (
           |  SELECT doc_id, text,
           |    round(0.4 * (CASE WHEN stop_ratio BETWEEN 0.05 AND 0.5 THEN 1.0 ELSE 0.0 END)
           |        + 0.3 * (CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END)
           |        + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0), 4) AS quality,
           |    CASE WHEN en_hits + de_hits + es_hits + fr_hits = 0 THEN 'und'
           |         WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
           |         WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
           |         WHEN es_hits >= fr_hits THEN 'es'
           |         ELSE 'fr' END AS predicted_lang
           |  FROM t),
           |kept AS (SELECT * FROM q WHERE predicted_lang = 'en' AND quality >= 0.7),
           |dedup AS (
           |  SELECT min(doc_id) AS doc_id, max(quality) AS quality
           |  FROM kept GROUP BY md5(text))
           |SELECT ${OracleSql.hashSplitSql("doc_id")} AS split,
           |  count(*) AS n_docs, round(avg(quality), 6) + 0.0 AS avg_quality
           |FROM dedup GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Source-weighted mixture sampling — downsample over-represented sources
    * to a target training mixture (the web-scale "data mixing" step). The
    * rates table is a broadcast dim; the keep decision is a salted hash so
    * it is independent of q45's split assignment. Output: per-source kept
    * doc count and token mass (the numbers a mixture designer actually
    * monitors). */
  private val mixRates: Seq[(String, Int)] = Seq.tabulate(20) { i =>
    (s"src$i", if (i < 5) 100 else if (i < 10) 50 else if (i < 15) 25 else 10)
  }
  private val q54 = QueryDef(
    "q54_mixture_sample",
    (s, dir) => CurationOps
      .mixtureSample(Tables.documents(s, dir), col("source"), col("doc_id"), mixRates)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        sum(size(split(col("text"), " ")).cast("long")).as("kept_tokens"))
      .orderBy(col("source")),
    Some(s"""WITH w(source, rate) AS (VALUES
           |  ${mixRates.map { case (s, r) => s"('$s', $r)" }.mkString(", ")}),
           |kept AS (
           |  SELECT d.source, d.text FROM documents d JOIN w ON d.source = w.source
           |  WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || '#mix'), 1, 8))::BIGINT % 100 < w.rate)
           |SELECT source, count(*) AS n_kept,
           |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS kept_tokens
           |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin))

  /** q50's decontamination through the Bloom-sketch path: distributed
    * bitset build over the train vocabulary, driver-collected sketch inlined
    * as a probe literal, exact rescan of bloom-positives. No false
    * negatives + rescan ⇒ the result is bit-identical to the exact join,
    * so this query shares q50's oracle — the hash match IS the proof that
    * the sketch path loses nothing. */
  private val q56 = QueryDef(
    "q56_bloom_decontamination",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("split", CurationOps.hashSplit(col("doc_id"),
          Seq("train" -> 80, "valid" -> 90, "test" -> 100)))
      val sh = graft.operators.TextOps.shingleRows(
        docs.filter(col("split").isin("train", "test")),
        col("doc_id"), col("split"), col("text"))
      CurationOps.contaminationBloom(
        sh.filter(col("bucket") === "test"), sh.filter(col("bucket") === "train"))
        .withColumn("containment",
          Semantics.roundz(col("n_contaminated").cast("double") / col("n_shingles").cast("double"), 6))
        .orderBy(col("doc_id"))
    },
    q50.oracle)

  /** Token-budget mixture planning (the arithmetic upstream of q54's
    * sampler): target shares → binding-source budget → per-source keep
    * rates. The binding source (min avail/share) plans keep_rate 1.0. */
  private val q66Targets = Seq(("src0", 40), ("src1", 30), ("src2", 20), ("src3", 10))
  private val q66 = QueryDef(
    "q66_mixture_plan",
    (s, dir) => CurationOps.mixturePlan(
        Tables.documents(s, dir), col("source"),
        size(split(col("text"), " ")).cast("long"), q66Targets)
      .orderBy(col("source")),
    Some(s"""WITH tok AS (
           |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
           |  FROM documents
           |  WHERE source IN (${q66Targets.map(t => s"'${t._1}'").mkString(", ")})
           |  GROUP BY 1),
           |t AS (SELECT * FROM (VALUES ${q66Targets.map(t => s"('${t._1}', ${t._2})").mkString(", ")}) AS v(source, pct)),
           |j AS (SELECT t.source, pct, avail_tokens,
           |        CAST(avail_tokens AS DOUBLE) / CAST(pct AS DOUBLE) AS ratio
           |      FROM t JOIN tok USING (source)),
           |m AS (SELECT min(ratio) AS mr FROM j)
           |SELECT source, avail_tokens, CAST(pct AS BIGINT) AS target_pct,
           |  CAST(floor(pct * mr) AS BIGINT) AS planned_tokens,
           |  round(pct * mr / CAST(avail_tokens AS DOUBLE), 6) + 0.0 AS keep_rate
           |FROM j CROSS JOIN m ORDER BY source""".stripMargin))

  /** Exact-count stratified eval split: 5 eval docs per source, chosen by
    * md5(doc_id) rank within the stratum — fixed-size eval sets where
    * q45's hash split gives fixed rates. */
  private val q70 = QueryDef(
    "q70_stratified_split",
    (s, dir) => CurationOps.stratifiedEvalSplit(
        Tables.documents(s, dir), col("source"), col("doc_id"), nEval = 5)
      .select(col("doc_id"), col("source"), col("split"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, source,
           |  CASE WHEN row_number() OVER (PARTITION BY source
           |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 5
           |    THEN 'eval' ELSE 'train' END AS split
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Robust per-source length-outlier profile: median/MAD of n_chars and
    * the count outside median ± 3·MAD — exact grouped percentiles, the
    * heavy-tail-safe outlier rule. */
  private val q71 = QueryDef(
    "q71_length_outliers",
    (s, dir) => CurationOps.robustOutliers(
        Tables.documents(s, dir), col("source"), col("n_chars"), k = 3.0)
      .withColumnRenamed("grp", "source")
      .orderBy(col("source")),
    Some("""WITH m AS (SELECT source, quantile_cont(n_chars, 0.5) AS med
           |  FROM documents GROUP BY 1),
           |d AS (SELECT d.source, d.n_chars, m.med,
           |        abs(d.n_chars - m.med) AS adev
           |      FROM documents d JOIN m USING (source)),
           |a AS (SELECT source, med, quantile_cont(adev, 0.5) AS mad
           |      FROM d GROUP BY 1, 2)
           |SELECT d.source, round(a.med, 6) + 0.0 AS median,
           |  round(a.mad, 6) + 0.0 AS mad, count(*) AS n_rows,
           |  CAST(sum(CASE WHEN abs(d.n_chars - d.med) > 3.0 * a.mad
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
           |FROM d JOIN a USING (source)
           |GROUP BY 1, a.med, a.mad ORDER BY 1""".stripMargin))

  /** Curation profiling: power-of-two token-length histogram with
    * cumulative share — the distribution packing (q49) and truncation
    * budgets are read off. The bucket is integer-exact in both engines
    * (binary digit count, not a float log); the cumulative window runs
    * over ≤ 64 AGGREGATED rows, never the corpus. */
  private val q77 = QueryDef(
    "q77_length_histogram",
    (s, dir) => CurationOps.log2Histogram(
        Tables.documents(s, dir),
        size(graft.operators.TextOps.tokenize(col("text"))))
      .orderBy(col("bucket")),
    Some("""WITH v AS (
           |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS v
           |  FROM documents WHERE len(string_split(text, ' ')) >= 1),
           |h AS (SELECT CAST(length(to_base(v, 2)) AS BIGINT) AS bucket,
           |    count(*) AS n_rows, min(v) AS lo, max(v) AS hi
           |  FROM v GROUP BY 1)
           |SELECT bucket, lo, hi, n_rows,
           |  round(CAST(sum(n_rows) OVER (ORDER BY bucket
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           |    / CAST(sum(n_rows) OVER () AS DOUBLE), 6) + 0.0 AS cum_frac
           |FROM h ORDER BY bucket""".stripMargin))

  /** Curation audit: cross-split near-dup leakage — MinHash candidate pairs
    * (q23's generator, GLOBAL bucket: leakage doesn't respect source
    * boundaries) joined against q45's split assignment; off-diagonal rows
    * are eval docs with a train near-twin. The check every eval set needs
    * AFTER doc-level hash splitting, because near-dups are distinct ids
    * that hash independently. */
  private val q78 = QueryDef(
    "q78_split_leakage_audit",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = graft.operators.DedupOps.minhashLshCandidatesBanded(
        graft.operators.DedupOps.capShingleDf(
          graft.operators.TextOps.shingleRows(docs, col("doc_id"), lit("all"), col("text")), 50),
        8, 1)
      val splits = docs.select(col("doc_id"),
        CurationOps.hashSplit(col("doc_id"),
          Seq("train" -> 80, "valid" -> 90, "test" -> 100)).as("split"))
      CurationOps.pairSplitAudit(pairs, splits)
        .orderBy(col("split_lo"), col("split_hi"))
    },
    Some(s"""WITH ${OracleSql.shingleSetsCte(3)},
           |ex0 AS (SELECT doc_id, unnest(shset) AS sh FROM sets WHERE len(shset) > 0),
           |ex AS (SELECT * FROM ex0 QUALIFY count(*) OVER (PARTITION BY sh) <= 50),
           |${OracleSql.minhashBandCtes("ex", rowsPerBand = 1)},
           |${OracleSql.bandPairsCte("pairs", Seq("band", "h"))},
           |sp AS (SELECT doc_id,
           |    ${OracleSql.hashSplitSql("doc_id")} AS split
           |  FROM documents),
           |lk AS (SELECT least(coalesce(sa.split, 'unknown'), coalesce(sb.split, 'unknown')) AS split_lo,
           |    greatest(coalesce(sa.split, 'unknown'), coalesce(sb.split, 'unknown')) AS split_hi
           |  FROM pairs
           |  LEFT JOIN sp sa ON sa.doc_id = pairs.a_id
           |  LEFT JOIN sp sb ON sb.doc_id = pairs.b_id)
           |SELECT split_lo, split_hi, count(*) AS n_pairs
           |FROM lk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** Recrawl reconciliation: FULL OUTER snapshot diff by fingerprint —
    * added/removed/changed/unchanged counts between two crawl versions
    * (synthesized deterministically from the fixture: 'before' drops
    * doc_id%7=0, 'after' drops doc_id%11=3 and edits doc_id%5=0). The join
    * ships (id, fingerprint) pairs only, never text. */
  private val q83 = QueryDef(
    "q83_snapshot_diff",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val before = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), graft.operators.TextOps.fingerprint(col("text")).as("fp"))
      val after = docs.filter(col("doc_id") % 11 =!= 3)
        .select(col("doc_id"), graft.operators.TextOps.fingerprint(
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))).as("fp"))
      CurationOps.snapshotDiff(before, after, col("doc_id"), col("fp"))
        .orderBy(col("status"))
    },
    Some("""WITH b AS (SELECT doc_id,
           |    substr(md5(lower(regexp_replace(text, '\s+', ' ', 'g'))), 1, 16) AS fp
           |  FROM documents WHERE doc_id % 7 <> 0),
           |a AS (SELECT doc_id,
           |    substr(md5(lower(regexp_replace(
           |      CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END,
           |      '\s+', ' ', 'g'))), 1, 16) AS fp
           |  FROM documents WHERE doc_id % 11 <> 3),
           |bm AS (SELECT *, TRUE AS pb FROM b),
           |am AS (SELECT *, TRUE AS pa FROM a),
           |j AS (SELECT CASE WHEN bm.pb IS NULL THEN 'added'
           |                  WHEN am.pa IS NULL THEN 'removed'
           |                  WHEN bm.fp IS NULL OR am.fp IS NULL THEN 'changed'
           |                  WHEN bm.fp <> am.fp THEN 'changed'
           |                  ELSE 'unchanged' END AS status
           |  FROM bm FULL OUTER JOIN am USING (doc_id))
           |SELECT status, count(*) AS n_docs FROM j GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Score calibration: per-source percent_rank of doc length — the
    * normalization that makes one quality threshold keep the same SHARE of
    * every source regardless of raw score distributions. Tied scores share
    * a rank (pure function of (source, score) — engine-exact). */
  private val q84 = QueryDef(
    "q84_percentile_calibrate",
    (s, dir) => CurationOps.percentileCalibrate(
        Tables.documents(s, dir), col("source"), col("n_chars"))
      .select(col("doc_id"), col("source"), col("score_pctile"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, source,
           |  round(percent_rank() OVER (PARTITION BY source ORDER BY n_chars), 6) + 0.0
           |    AS score_pctile
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** DSIR importance-weighted data selection (Xie et al. 2023): score every
    * document by the mean log₂ likelihood ratio of its hashed unigram
    * features under a TARGET distribution (here: the src0 domain as the
    * trusted set) vs the RAW corpus distribution, and keep the top 20 —
    * the hashed-n-gram importance-resampling selector that picks
    * domain-like data out of a crawl without training a classifier. The
    * bucket table is 256 rows at ANY corpus size (that is the point of
    * hashing features); both passes over the token stream are linear. All
    * hashing is md5, so the oracle reproduces every bucket and both
    * smoothed distributions exactly; ordering is on the ROUNDED score with
    * doc_id tie-break so the kept set is engine-stable. */
  private val q100 = QueryDef(
    "q100_dsir_select",
    (s, dir) => CurationOps
      .dsirScores(Tables.documents(s, dir), col("doc_id"), col("text"),
        col("source") === "src0", numBuckets = 256)
      .select(col("doc_id"),
        graft.engine.Semantics.roundz(col("dsir_score"), 6).as("dsir_score"))
      .orderBy(desc("dsir_score"), col("doc_id"))
      .limit(20),
    Some("""WITH tk AS (
           |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok FROM documents),
           |b AS (SELECT doc_id, source,
           |    ('0x' || substr(md5(tok), 1, 8))::BIGINT % 256 AS bkt FROM tk),
           |cnt AS (SELECT bkt,
           |    sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
           |    count(*) AS cr
           |  FROM b GROUP BY 1),
           |tot AS (SELECT sum(ct)::DOUBLE AS t, sum(cr)::DOUBLE AS r FROM cnt),
           |lr AS (SELECT bkt,
           |    log2((ct + 1) / (t + 256.0)) - log2((cr + 1) / (r + 256.0)) AS lr
           |  FROM cnt, tot),
           |sc AS (SELECT doc_id, avg(lr) AS s FROM b JOIN lr USING (bkt) GROUP BY 1)
           |SELECT doc_id, round(s, 6) + 0.0 AS dsir_score FROM sc
           |ORDER BY round(s, 6) DESC, doc_id LIMIT 20""".stripMargin))

  /** Sliding-window chunking with overlap — the RAG/long-context chunk cut
    * q49's packer does not produce: 32-token windows every 24 tokens
    * (8-token overlap carries context across cuts). The checked output is
    * each chunk's md5 fingerprint, so the oracle pins the exact chunk CONTENT
    * at every position, not just counts. Pure narrow map — zero shuffle. */
  private val q103 = QueryDef(
    "q103_sliding_chunks",
    (s, dir) => CurationOps
      .slidingChunks(Tables.documents(s, dir), col("doc_id"), col("text"),
        window = 32, stride = 24)
      .orderBy(col("doc_id"), col("chunk_id")),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           |s AS (SELECT doc_id, toks, st.st AS start
           |  FROM t, unnest(range(0, len(toks), 24)) AS st(st))
           |SELECT doc_id, CAST(start // 24 AS BIGINT) AS chunk_id,
           |  CAST(len(list_slice(toks, start + 1, least(start + 32, len(toks)))) AS BIGINT)
           |    AS n_chunk_tokens,
           |  md5(array_to_string(list_slice(toks, start + 1, least(start + 32, len(toks))), ' '))
           |    AS chunk_fp
           |FROM s ORDER BY doc_id, chunk_id""".stripMargin))

  /** Weighted sampling without replacement (Efraimidis–Spirakis priority
    * sampling): 25 documents drawn with probability proportional to length
    * via deterministic exponential clocks −ln(u)/w, u from md5 — the exact-
    * count, per-row-weighted companion to q54's per-source rate sampler.
    * Clock assignment is a stateless narrow map; the only cross-partition
    * step is the top-k take (TakeOrderedAndProject: each partition ships
    * its local 25). Both engines compute the SAME clock from the SAME md5
    * uniform; the reported key is rounded, ties broken on doc_id. */
  private val q105 = QueryDef(
    "q105_priority_sample",
    (s, dir) => CurationOps
      .prioritySample(Tables.documents(s, dir), col("doc_id"),
        col("n_chars"), k = 25)
      .select(col("doc_id"), col("source"),
        graft.engine.Semantics.roundz(col("priority_key"), 6).as("priority_key"))
      .orderBy(col("priority_key"), col("doc_id")),
    Some("""WITH k AS (SELECT doc_id, source,
           |    -ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT + 1) / 4294967297.0)
           |      / n_chars AS pk
           |  FROM documents),
           |kept AS (SELECT * FROM k ORDER BY pk, doc_id LIMIT 25)
           |SELECT doc_id, source, round(pk, 6) + 0.0 AS priority_key
           |FROM kept ORDER BY round(pk, 6), doc_id""".stripMargin))

  /** Scale variant of q48: approximate length quantiles via
    * `percentile_approx` (Greenwald–Khanna-family mergeable sketch, bounded
    * state per group regardless of group size) — what replaces q48's exact
    * sort-based percentiles when a single source holds billions of rows.
    * Accuracy 10000 bounds rank error at n/10000. Engine-specific sketch ⇒
    * rows-only check by design (q36's HLL discipline); the rank-error
    * bound is spec-verified in CurationOpsSpec. Output is the sketch's
    * actual data values (bigint — no float drift). */
  private val q108 = QueryDef(
    "q108_approx_quantiles",
    (s, dir) => Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(percentile_approx(col("n_chars"),
        array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("ps"))
      .select(col("source"),
        col("ps").getItem(0).as("p50"),
        col("ps").getItem(1).as("p90"),
        col("ps").getItem(2).as("p99"))
      .orderBy(col("source")),
    None)

  /** Model-based quality filter (GPT-3/CCNet classifier shape, q100's
    * supervised sibling): logistic regression trained IN-ENGINE — label =
    * "document is from the trusted src0 domain", features = length,
    * stopword ratio, type-token ratio, mean word length (engineered as
    * codegen'd columns, never raw text) — then the trained weights score
    * every document and the top 15 most-src0-like ship. Each training
    * iteration is one (d+1)-value gradient aggregate (driver state = 5
    * doubles); scoring is pure map work. Iterative float trainer ⇒
    * rows-only check by design (q41's discipline); convergence, separable
    * recovery, and scoring laws are spec-verified in ClassifierOpsSpec. */
  private val q109 = QueryDef(
    "q109_quality_classifier",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = graft.operators.TextOps.tokenize(col("text"))
      val features: Seq[org.apache.spark.sql.Column] = Seq(
        log(col("n_chars").cast("double")),
        graft.operators.TextOps.stopwordCount(toks).cast("double")
          / greatest(size(toks), lit(1)).cast("double"),
        size(array_distinct(toks)).cast("double")
          / greatest(size(toks), lit(1)).cast("double"),
        col("n_chars").cast("double") / greatest(size(toks), lit(1)).cast("double"))
      // Train/apply separation (the production shape): fit on the q45
      // train split only — a deterministic hash sample — then score the
      // FULL corpus with the frozen weights as pure map work.
      val trainSplit = docs.filter(CurationOps.hashSplit(col("doc_id"),
        Seq("train" -> 80, "valid" -> 90, "test" -> 100)) === "train")
      val w = graft.operators.ClassifierOps.logisticTrain(
        trainSplit, features, col("source") === "src0", lr = 1.0, iters = 15)
      docs.select(col("doc_id"), col("source"),
          Semantics.roundz(graft.operators.ClassifierOps.score(features, w), 6)
            .as("p_trusted"))
        .orderBy(desc("p_trusted"), col("doc_id"))
        .limit(15)
    },
    None)

  /** Temperature-scaled mixture plan (q66's α-sampling sibling — UNIMAX/
    * multilingual T = 2 flattening: p_i ∝ √tokens_i instead of q66's fixed
    * target shares). α = 1/2 exactly BECAUSE sqrt is IEEE-exactly-rounded
    * where pow() is libm-dependent — the plan stays exact-oracle. Reports
    * per-source sampling probability, planned tokens against a 100k
    * budget, and implied epochs (> 1 = upsampled). */
  private val q134 = QueryDef(
    "q134_temperature_mixture",
    (s, dir) => CurationOps.temperatureMixture(
        Tables.documents(s, dir), col("source"),
        size(split(col("text"), " ")).cast("long"), budgetTokens = 100000L)
      .orderBy(col("source")),
    Some("""WITH a AS (SELECT source,
           |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
           |  FROM documents GROUP BY 1),
           |w AS (SELECT source, avail_tokens,
           |    sqrt(CAST(avail_tokens AS DOUBLE)) AS w FROM a),
           |sw AS (SELECT round(sum(w), 6) + 0.0 AS sw FROM w)
           |SELECT source, avail_tokens,
           |  round(w / sw, 6) + 0.0 AS sample_p,
           |  CAST(floor(100000.0 * (round(w / sw, 6) + 0.0)) AS BIGINT) AS planned_tokens,
           |  round(CAST(floor(100000.0 * (round(w / sw, 6) + 0.0)) AS DOUBLE)
           |      / CAST(avail_tokens AS DOUBLE), 6) + 0.0 AS epochs
           |FROM w CROSS JOIN sw ORDER BY source""".stripMargin))

  /** q134 with the α knob OPEN — UNIMAX α = 3/8, a realistic multilingual
    * flattening setting that is NOT 1/2, exercised through
    * [[CurationOps.temperatureMixtureAlpha]]'s dyadic-exponent path:
    * n^(3/8) = (sqrt∘sqrt∘sqrt)(n) cubed, every step IEEE-exactly-rounded
    * on both engines, so the general-α plan keeps q134's HARD hash oracle
    * instead of degrading to a rows check. */
  private val q135 = QueryDef(
    "q135_temperature_alpha",
    (s, dir) => CurationOps.temperatureMixtureAlpha(
        Tables.documents(s, dir), col("source"),
        size(split(col("text"), " ")).cast("long"), budgetTokens = 100000L,
        alphaNum = 3, alphaLog2Den = 3)
      .orderBy(col("source")),
    Some("""WITH a AS (SELECT source,
           |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
           |  FROM documents GROUP BY 1),
           |w AS (SELECT source, avail_tokens, s * s * s AS w
           |  FROM (SELECT source, avail_tokens,
           |      sqrt(sqrt(sqrt(CAST(avail_tokens AS DOUBLE)))) AS s FROM a)),
           |sw AS (SELECT round(sum(w), 6) + 0.0 AS sw FROM w)
           |SELECT source, avail_tokens,
           |  round(w / sw, 6) + 0.0 AS sample_p,
           |  CAST(floor(100000.0 * (round(w / sw, 6) + 0.0)) AS BIGINT) AS planned_tokens,
           |  round(CAST(floor(100000.0 * (round(w / sw, 6) + 0.0)) AS DOUBLE)
           |      / CAST(avail_tokens AS DOUBLE), 6) + 0.0 AS epochs
           |FROM w CROSS JOIN sw ORDER BY source""".stripMargin))

  /** The mixture plan MADE REAL — q134 decides per-source token budgets,
    * this query admits documents against them
    * ([[CurationOps.materializeMixture]]): per source, docs enter in the
    * deterministic (md5(id), id) shuffle order and the inclusive running
    * token total ([[CurationOps.groupedTokenPrefixSum]] — range-bucketed
    * prefix sums, never a whole-source window) cuts off at
    * planned_tokens. Checked output pins each source's selected doc
    * count, token mass, and the first/last admitted doc in selection
    * order — proving the exact per-source prefix, not just its size. */
  private val q137 = QueryDef(
    "q137_mixture_materialize",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = size(split(col("text"), " ")).cast("long")
      val plan = CurationOps.temperatureMixture(docs, col("source"), toks,
        budgetTokens = 100000L)
      CurationOps.materializeMixture(docs, col("source"), col("doc_id"), toks, plan)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("cum_tokens")).as("tokens_selected"),
          min_by(col("doc_id"), col("cum_tokens")).as("first_doc"),
          max_by(col("doc_id"), col("cum_tokens")).as("last_doc"))
        .orderBy(col("source"))
    },
    Some("""WITH a AS (SELECT source,
           |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
           |  FROM documents GROUP BY 1),
           |w AS (SELECT source, avail_tokens,
           |    sqrt(CAST(avail_tokens AS DOUBLE)) AS w FROM a),
           |sw AS (SELECT round(sum(w), 6) + 0.0 AS sw FROM w),
           |plan AS (SELECT source,
           |    CAST(floor(100000.0 * (round(w / sw, 6) + 0.0)) AS BIGINT) AS planned
           |  FROM w CROSS JOIN sw),
           |o AS (SELECT doc_id, source,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
           |    md5(doc_id::VARCHAR) AS h FROM documents),
           |c AS (SELECT doc_id, source,
           |    sum(tok) OVER (PARTITION BY source ORDER BY h, doc_id) AS cum FROM o),
           |sel AS (SELECT c.doc_id, c.source, c.cum
           |  FROM c JOIN plan USING (source) WHERE cum <= planned)
           |SELECT source, count(*) AS n_docs,
           |  CAST(max(cum) AS BIGINT) AS tokens_selected,
           |  min_by(doc_id, cum) AS first_doc, max_by(doc_id, cum) AS last_doc
           |FROM sel GROUP BY source ORDER BY source""".stripMargin))

  /** q137's UPSAMPLING half — the budget is 6× larger, so every source's
    * planned tokens EXCEED its corpus (epochs ≈ 2.2) and
    * [[CurationOps.materializeMixtureEpochs]] must emit full corpus
    * copies (epoch 0..⌊B/A⌋−1) plus the md5-order remainder prefix as
    * the final partial epoch. Checked per source: emitted row/doc
    * counts, exact token mass ⌊B/A⌋·A + prefix(B mod A), and the last
    * epoch index — the complete UNIMAX replay ledger. */
  private val q138 = QueryDef(
    "q138_mixture_epochs",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = size(split(col("text"), " ")).cast("long")
      val plan = CurationOps.temperatureMixture(docs, col("source"), toks,
        budgetTokens = 600000L)
      CurationOps.materializeMixtureEpochs(
          docs.withColumn("tok", toks), col("source"), col("doc_id"), col("tok"), plan)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("tok")).as("tokens_emitted"),
          max(col("epoch")).as("last_epoch"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("source"))
    },
    Some("""WITH a AS (SELECT source,
           |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail
           |  FROM documents GROUP BY 1),
           |w AS (SELECT source, avail, sqrt(CAST(avail AS DOUBLE)) AS w FROM a),
           |sw AS (SELECT round(sum(w), 6) + 0.0 AS sw FROM w),
           |pf AS (SELECT source, avail,
           |    CAST(floor(600000.0 * (round(w / sw, 6) + 0.0)) AS BIGINT) // avail AS f,
           |    CAST(floor(600000.0 * (round(w / sw, 6) + 0.0)) AS BIGINT) % avail AS rem
           |  FROM w CROSS JOIN sw WHERE avail > 0),
           |o AS (SELECT doc_id, source,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
           |    md5(doc_id::VARCHAR) AS h FROM documents),
           |c AS (SELECT doc_id, source, tok,
           |    sum(tok) OVER (PARTITION BY source ORDER BY h, doc_id) AS cum FROM o),
           |fulls AS (SELECT doc_id, source, tok, unnest(range(f)) AS epoch
           |  FROM c JOIN pf USING (source)),
           |partial AS (SELECT c.doc_id, c.source, c.tok, pf.f AS epoch
           |  FROM c JOIN pf USING (source) WHERE c.cum <= pf.rem),
           |u AS (SELECT * FROM fulls UNION ALL SELECT * FROM partial)
           |SELECT source, count(*) AS n_rows,
           |  CAST(sum(tok) AS BIGINT) AS tokens_emitted,
           |  CAST(max(epoch) AS BIGINT) AS last_epoch,
           |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
           |FROM u GROUP BY source ORDER BY source""".stripMargin))

  /** q127's FAIRNESS variant — stratified sharding
    * ([[CurationOps.stratifiedShardAssign]]): per source, docs deal
    * round-robin across 7 shards in the deterministic shuffle order, so
    * every shard carries each source's docs within ±1 ALWAYS (not in
    * expectation) — the per-shard source balance curriculum schedulers
    * and per-shard eval assume. Checked per (source, shard) cell: count
    * and the first/last doc in within-stratum order — the exact
    * assignment, not just the balance. */
  private val q139 = QueryDef(
    "q139_stratified_shards",
    (s, dir) => CurationOps
      .stratifiedShardAssign(Tables.documents(s, dir), col("source"), col("doc_id"),
        nShards = 7)
      .groupBy(col("source"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        min_by(col("doc_id"), col("rank")).as("first_doc"),
        max_by(col("doc_id"), col("rank")).as("last_doc"))
      .orderBy(col("source"), col("shard")),
    Some("""WITH o AS (SELECT doc_id, source, md5(doc_id::VARCHAR) AS h FROM documents),
           |rk AS (SELECT doc_id, source,
           |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rank
           |  FROM o),
           |g AS (SELECT doc_id, source, rank, (rank - 1) % 7 AS shard FROM rk)
           |SELECT source, shard, count(*) AS n_docs,
           |  min_by(doc_id, rank) AS first_doc, max_by(doc_id, rank) AS last_doc
           |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** q108's deterministic-sketch sibling (the quantile member of the
    * exact-sketch trilogy with q126 HLL and q129 CMS): per-source
    * p50/p90/p99 from a 64-bin equi-width histogram sketch
    * ([[graft.operators.SketchOps.histogramQuantiles]]) — 64 counters +
    * (min, max, n) per group at any corpus size (bin-wise mergeable under
    * the shared bounds frame the two-pass build fixes), ALL-INTEGER
    * arithmetic so the oracle re-executes the sketch and the estimates
    * hash-match. Each estimate bounds the true discrete
    * quantile from above by ≤ `err_bound` (one bucket width) — the
    * guarantee q108's t-digest states in rank space, restated in value
    * space with a proof-by-reexecution. */
  private val q130 = QueryDef(
    "q130_histogram_quantiles",
    (s, dir) => graft.operators.SketchOps.histogramQuantiles(
        Tables.documents(s, dir), col("source"), col("n_chars"), bins = 64,
        qs = Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
      .withColumnRenamed("g", "source")
      .orderBy(col("source")),
    Some("""WITH t AS (SELECT source AS g, n_chars AS v FROM documents),
           |st AS (SELECT g, min(v) AS mn, max(v) AS mx,
           |    CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1),
           |b AS (SELECT t.g, ((v - mn) * 64) // (mx - mn + 1) AS bin
           |  FROM t JOIN st USING (g)),
           |h AS (SELECT g, bin, count(*) AS cnt FROM b GROUP BY 1, 2),
           |c AS (SELECT g, bin, cnt,
           |    sum(cnt) OVER (PARTITION BY g ORDER BY bin) AS cum FROM h),
           |e AS (SELECT c.g, cum,
           |    mn + ((bin + 1) * (mx - mn + 1) + 63) // 64 - 1 AS upper,
           |    n, mn, mx
           |  FROM c JOIN st USING (g))
           |SELECT g AS source, n,
           |  CAST(min(CASE WHEN cum >= (n * 1 + 1) // 2 THEN upper END) AS BIGINT) AS p50,
           |  CAST(min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN upper END) AS BIGINT) AS p90,
           |  CAST(min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN upper END) AS BIGINT) AS p99,
           |  CAST((mx - mn + 64) // 64 AS BIGINT) AS err_bound
           |FROM e GROUP BY g, n, mn, mx ORDER BY source""".stripMargin))

  /** q109's by-construction-deterministic sibling — the quality classifier
    * whose ENTIRE training loop hash-matches a DuckDB re-execution, the
    * discipline that took the k-means trainers (q41/q90/q95) from
    * rows-check to hash-match. Three changes make it exact where q109 is
    * rows-checked: the link is the rational sigmoid (IEEE-exact ops only —
    * no exp(), whose libms differ in the last ulp), features use raw
    * n_chars instead of log(n_chars) (log is transcendental too), and the
    * standardization stats + per-iteration mean gradients are rounded
    * 1e-6 on both sides (the only remaining variance is float-sum order,
    * which rounding absorbs — [[OracleSql.logisticCtes]]). Same production
    * shape: fit on the q45 train split, score the full corpus with frozen
    * weights as pure map work, ship the top 15 most-src0-like. */
  private val q125 = QueryDef(
    "q125_logistic_exact",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = graft.operators.TextOps.tokenize(col("text"))
      val nt = greatest(size(toks), lit(1)).cast("double")
      val features: Seq[org.apache.spark.sql.Column] = Seq(
        col("n_chars").cast("double"),
        graft.operators.TextOps.stopwordCount(toks).cast("double") / nt,
        size(array_distinct(toks)).cast("double") / nt,
        col("n_chars").cast("double") / nt)
      val trainSplit = docs.filter(CurationOps.hashSplit(col("doc_id"),
        Seq("train" -> 80, "valid" -> 90, "test" -> 100)) === "train")
      val (w, m, sd) = graft.operators.ClassifierOps.logisticTrainExact(
        trainSplit, features, col("source") === "src0", lr = 1.0, iters = 10)
      docs.select(col("doc_id"), col("source"),
          Semantics.roundz(
            graft.operators.ClassifierOps.scoreStandardized(features, w, m, sd), 6)
            .as("p_trusted"))
        .orderBy(desc("p_trusted"), col("doc_id"))
        .limit(15)
    },
    Some {
      val stops = graft.operators.TextOps.defaultStopwords
        .map(s => s"'$s'").mkString(", ")
      val score = OracleSql.rationalSigmoidSql(
        OracleSql.marginSql(4, i => s"((f$i - m$i) / s$i)", i => s"w$i", "wb"))
      // y mirrors the engine exactly: a NULL source yields a NULL boolean
      // label in Spark, which na.drop() then excludes from training — so
      // the oracle maps NULL source to NULL y (not 0.0) and the tr CTE
      // drops null-feature/null-label rows just like na.drop(). The
      // current fixture has no nulls, but the weight trajectory must not
      // depend on that.
      s"""WITH feat AS (
         |  SELECT doc_id, source, f0, f1, f2, f3,
         |    CASE WHEN source IS NULL THEN NULL
         |         WHEN source = 'src0' THEN 1.0 ELSE 0.0 END AS y, bucket
         |  FROM (SELECT doc_id, source,
         |      CAST(n_chars AS DOUBLE) AS f0,
         |      CAST(len(list_filter(toks, x -> x IN ($stops))) AS DOUBLE) / nt AS f1,
         |      CAST(len(list_distinct(toks)) AS DOUBLE) / nt AS f2,
         |      CAST(n_chars AS DOUBLE) / nt AS f3, bucket
         |    FROM (SELECT doc_id, source, n_chars,
         |        string_split(text, ' ') AS toks,
         |        CAST(greatest(len(string_split(text, ' ')), 1) AS DOUBLE) AS nt,
         |        ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket
         |      FROM documents))),
         |tr AS (SELECT f0, f1, f2, f3, y FROM feat WHERE bucket < 80
         |  AND f0 IS NOT NULL AND f1 IS NOT NULL AND f2 IS NOT NULL
         |  AND f3 IS NOT NULL AND y IS NOT NULL),
         |${OracleSql.logisticCtes("lg", "tr", 4, 10, 1.0)}
         |SELECT doc_id, source, round($score, 6) + 0.0 AS p_trusted
         |FROM feat CROSS JOIN lgst CROSS JOIN lgw10
         |ORDER BY p_trusted DESC, doc_id LIMIT 15""".stripMargin
    })

  /** Shuffle-and-shard — the pipeline's LAST stage: a global deterministic
    * shuffle ((md5(doc_id), doc_id) order, computed as range-bucketed
    * rank + prefix-sum offsets, never a single-partition sort —
    * [[CurationOps.shuffleRank]]) cut into fixed 100-row shards. The
    * checked output pins every shard's membership boundary (first/last doc
    * in shuffle order) and payload size, so the oracle proves the exact
    * global permutation, not just the counts. The write path
    * ([[CurationOps.writeShards]], spec-verified) lands one directory per
    * shard with each shard written by a single task. */
  private val q127 = QueryDef(
    "q127_shuffle_shards",
    (s, dir) => CurationOps
      .shardAssign(Tables.documents(s, dir), col("doc_id"), rowsPerShard = 100)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min_by(col("doc_id"), col("rank")).as("first_doc"),
        max_by(col("doc_id"), col("rank")).as("last_doc"))
      .orderBy(col("shard")),
    Some("""WITH o AS (SELECT doc_id, n_chars, md5(doc_id::VARCHAR) AS h,
           |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 2))::BIGINT AS bucket
           |  FROM documents),
           |rk AS (SELECT doc_id, n_chars, bucket, h,
           |    row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id) AS rn
           |  FROM o),
           |off AS (SELECT bucket, sum(count(*)) OVER (ORDER BY bucket) - count(*) AS off
           |  FROM o GROUP BY bucket),
           |g AS (SELECT doc_id, n_chars, off + rn AS rank,
           |    CAST((off + rn - 1) // 100 AS BIGINT) AS shard
           |  FROM rk JOIN off USING (bucket))
           |SELECT shard, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
           |  min_by(doc_id, rank) AS first_doc, max_by(doc_id, rank) AS last_doc
           |FROM g GROUP BY shard ORDER BY shard""".stripMargin))

  /** Length-bucketed dynamic batching — the padding-efficiency step of a
    * training run: docs bucket at corpus length QUARTILES (exact
    * interpolated percentiles, q48's parity discipline), each bucket's
    * deterministic shuffle order cuts into 32-doc batches, and a batch's
    * physical cost is n·max(tokens) (every member pads to the longest).
    * The report carries the unbucketed baseline as bucket −1 computed from
    * the SAME machinery, so the padding saving is measured inside the
    * query, not asserted. Ranking is [[CurationOps.groupedShuffleRank]] —
    * (group, md5-prefix) range buckets, so even 4 giant buckets never
    * funnel through single-partition windows. */
  private val q128 = QueryDef(
    "q128_length_bucket_batches",
    (s, dir) => {
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("tok"))
      val cuts = base.agg(
        percentile(col("tok"), array(lit(0.25), lit(0.5), lit(0.75))).as("cs"))
        .select(Semantics.roundz(col("cs").getItem(0), 6).as("c1"),
          Semantics.roundz(col("cs").getItem(1), 6).as("c2"),
          Semantics.roundz(col("cs").getItem(2), 6).as("c3"))
      val bucketed = base.crossJoin(broadcast(cuts))
        .withColumn("g",
          when(col("tok") <= col("c1"), lit(0L))
            .when(col("tok") <= col("c2"), lit(1L))
            .when(col("tok") <= col("c3"), lit(2L)).otherwise(lit(3L)))
      val perBucket = CurationOps.batchPadWaste(
        bucketed.select(col("doc_id"), col("tok"), col("g")),
        col("g"), col("doc_id"), col("tok"), 32)
      val baseline = CurationOps.batchPadWaste(
        base, lit(-1L), col("doc_id"), col("tok"), 32)
      perBucket.union(baseline).orderBy(col("len_bucket"))
    },
    Some("""WITH t AS (SELECT doc_id,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
           |  FROM documents),
           |c AS (SELECT round(quantile_cont(tok, 0.25), 6) + 0.0 AS c1,
           |    round(quantile_cont(tok, 0.5), 6) + 0.0 AS c2,
           |    round(quantile_cont(tok, 0.75), 6) + 0.0 AS c3 FROM t),
           |b AS (SELECT doc_id, tok,
           |    CAST(CASE WHEN tok <= c1 THEN 0 WHEN tok <= c2 THEN 1
           |              WHEN tok <= c3 THEN 2 ELSE 3 END AS BIGINT) AS g
           |  FROM t CROSS JOIN c
           |  UNION ALL SELECT doc_id, tok, CAST(-1 AS BIGINT) AS g FROM t),
           |r AS (SELECT g, tok, row_number() OVER (
           |    PARTITION BY g ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
           |  FROM b),
           |bb AS (SELECT g, (rn - 1) // 32 AS batch, count(*) AS n,
           |    max(tok) AS mx, sum(tok) AS sm
           |  FROM r GROUP BY 1, 2)
           |SELECT g AS len_bucket, CAST(count(*) AS BIGINT) AS n_batches,
           |  CAST(sum(n) AS BIGINT) AS n_docs,
           |  CAST(sum(sm) AS BIGINT) AS total_tokens,
           |  CAST(sum(n * mx) AS BIGINT) AS padded_tokens,
           |  round(1.0 - CAST(sum(sm) AS DOUBLE) / CAST(sum(n * mx) AS DOUBLE), 6)
           |    + 0.0 AS waste_ratio
           |FROM bb GROUP BY g ORDER BY len_bucket""".stripMargin))

  /** CCNet head/middle/tail strata (q69's unigram-LM surprisal bucketed at
    * corpus tertiles — CCNet §4's canonical quality split: "head" is the
    * third a pipeline upsamples, "tail" what it drops): per (source,
    * bucket) doc counts and mean surprisal. The cuts are one exact-
    * percentile aggregate broadcast back over the scored stream (swap in
    * q108's sketch at the billion-doc scale); labeling is map work. Both
    * engines bucket the same ROUNDED scores against identically-computed
    * interpolated cuts. */
  private val q113 = QueryDef(
    "q113_perplexity_tertiles",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = graft.operators.TextOps.surprisalScores(
          docs, col("doc_id"), graft.operators.TextOps.tokenize(col("text")))
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
      CurationOps.perplexityBuckets(scored, col("avg_surprisal"))
        .groupBy(col("source"), col("ppl_bucket"))
        .agg(count(lit(1)).as("n_docs"),
          // SUM, not mean: the sum of rounded-1e-6 scores sits next to a
          // multiple of 1e-6 (never near a rounding half-boundary), while
          // a mean can divide onto an exact .5 at the 6th decimal and
          // round differently per engine (observed: 8 docs averaging
          // x.xxxxxx5).
          Semantics.roundz(sum(col("avg_surprisal")), 6).as("sum_surprisal"))
        .orderBy(col("source"), col("ppl_bucket"))
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           |  FROM documents),
           |v AS (SELECT tok, count(*) AS tf FROM tok GROUP BY 1),
           |n AS (SELECT CAST(sum(tf) AS DOUBLE) AS n FROM v),
           |sc AS (SELECT doc_id, round(avg(-log2(CAST(tf AS DOUBLE) / n.n)), 6) + 0.0 AS s
           |  FROM tok JOIN v USING (tok) CROSS JOIN n GROUP BY doc_id),
           |cuts AS (SELECT round(quantile_cont(s, 1.0/3), 6) + 0.0 AS c1,
           |    round(quantile_cont(s, 2.0/3), 6) + 0.0 AS c2 FROM sc),
           |lab AS (SELECT doc_id, s,
           |    CASE WHEN s <= c1 THEN 'head' WHEN s <= c2 THEN 'middle' ELSE 'tail' END
           |      AS ppl_bucket
           |  FROM sc, cuts)
           |SELECT d.source, ppl_bucket, count(*) AS n_docs,
           |  round(sum(s), 6) + 0.0 AS sum_surprisal
           |FROM lab JOIN documents d USING (doc_id)
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** Cross-source duplication provenance (mirror detection): the CALIBRATED
    * VERIFIED near-dup pair graph ([[graft.queries.SharedPipelines
    * .calibratedPairs]] — re-anchored off the fixed-cap q78 generator in
    * round 12; verified pairs make the provenance report count TRUE copies,
    * not band collisions) aggregated by unordered SOURCE pair — which
    * sources copy from which, the report that catches a mirrored crawl
    * before the mixture planner (q66) double-weights its content. Pure
    * reuse of [[CurationOps.pairSplitAudit]] with the source as the label:
    * zero new candidate volume (the session-shared prefix is built once). */
  private val q114 = QueryDef(
    "q114_source_overlap",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = graft.queries.SharedPipelines.calibratedPairs(s, dir)
      CurationOps.pairSplitAudit(pairs, docs.select(col("doc_id"), col("source").as("split")))
        .select(col("split_lo").as("source_lo"), col("split_hi").as("source_hi"),
          col("n_pairs"))
        .orderBy(col("source_lo"), col("source_hi"))
    },
    Some("WITH " + graft.queries.OracleSql.calibratedEdgesCtes + (""",
           |lk AS (SELECT
           |    least(coalesce(sa.source, 'unknown'), coalesce(sb.source, 'unknown')) AS source_lo,
           |    greatest(coalesce(sa.source, 'unknown'), coalesce(sb.source, 'unknown')) AS source_hi
           |  FROM edges
           |  LEFT JOIN documents sa ON sa.doc_id = edges.src
           |  LEFT JOIN documents sb ON sb.doc_id = edges.dst)
           |SELECT source_lo, source_hi, count(*) AS n_pairs
           |FROM lk GROUP BY 1, 2 ORDER BY 1, 2""").stripMargin))

  /** X7 robust per-source QA gate ([[CurationOps.robustOutliers]]): flag
    * docs whose length sits > 3.5 MADs from their source's median — the
    * metadata screen that runs BEFORE lengths feed quotas/mixtures, on
    * median/MAD so the screen is not dragged by the tail it hunts. EXACT
    * order statistics at scale: two value-count prefix-sum medians (window
    * rides each source's DISTINCT value domain, never its row count — the
    * per-group-collect of `percentile` is the anti-pattern this replaces)
    * + broadcast of the ≤|sources|-row stats. Oracle: DuckDB's native
    * `median`/`mad` (quantile_cont(0.5) semantics both sides). */
  private val q145 = QueryDef(
    "q145_robust_outliers",
    (s, dir) => CurationOps.robustOutliers(
        Tables.documents(s, dir), "source", col("n_chars"), z = 3.5)
      .select(col("source"), col("n_rows"), col("med"), col("mad"), col("n_outliers"))
      .orderBy(col("source")),
    Some("""WITH s AS (
           |  SELECT source, CAST(median(n_chars) AS DOUBLE) AS med,
           |    CAST(mad(n_chars) AS DOUBLE) AS mad
           |  FROM documents GROUP BY 1)
           |SELECT d.source, count(*) AS n_rows, any_value(s.med) AS med,
           |  any_value(s.mad) AS mad,
           |  CAST(sum(CASE WHEN abs(d.n_chars - s.med) > 3.5 * s.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
           |FROM documents d JOIN s USING (source)
           |GROUP BY 1 ORDER BY d.source""".stripMargin))

  /** X7 exact quantile profile + Tukey fences ([[CurationOps.groupedExactQuantiles]]):
    * per-source p25/p50/p75/p90 of doc length computed EXACTLY at scale
    * (one counts aggregate + one distinct-value-bounded prefix-sum window
    * serves every p — q130's 64-bin sketch is the approximate rung, this is
    * the exact one), plus the classic 1.5·IQR outlier gate beside q145's
    * MAD gate. Quarter-fraction interpolation positions make the fence
    * comparisons FP-exact; displayed quantiles round to 6. Oracle: native
    * `quantile_cont` + the same fence CASE. */
  private val q146 = QueryDef(
    "q146_quantile_profile",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val qs = CurationOps.groupedExactQuantiles(docs, "source", col("n_chars"),
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p90" -> 0.9))
      docs.join(broadcast(qs), Seq("source"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_rows"),
          round(first(col("p25")), 6).as("p25"),
          round(first(col("p50")), 6).as("p50"),
          round(first(col("p75")), 6).as("p75"),
          round(first(col("p90")), 6).as("p90"),
          round(first(col("p75")) - first(col("p25")), 6).as("iqr"),
          sum(when(col("n_chars") < col("p25") - lit(1.5) * (col("p75") - col("p25")), 1L)
            .when(col("n_chars") > col("p75") + lit(1.5) * (col("p75") - col("p25")), 1L)
            .otherwise(0L)).as("n_tukey"))
        .orderBy(col("source"))
    },
    Some("""WITH q AS (
           |  SELECT source,
           |    CAST(quantile_cont(n_chars, 0.25) AS DOUBLE) AS p25,
           |    CAST(quantile_cont(n_chars, 0.5) AS DOUBLE) AS p50,
           |    CAST(quantile_cont(n_chars, 0.75) AS DOUBLE) AS p75,
           |    CAST(quantile_cont(n_chars, 0.9) AS DOUBLE) AS p90
           |  FROM documents GROUP BY 1)
           |SELECT d.source, count(*) AS n_rows,
           |  round(any_value(q.p25), 6) AS p25,
           |  round(any_value(q.p50), 6) AS p50,
           |  round(any_value(q.p75), 6) AS p75,
           |  round(any_value(q.p90), 6) AS p90,
           |  round(any_value(q.p75) - any_value(q.p25), 6) AS iqr,
           |  CAST(sum(CASE WHEN d.n_chars < q.p25 - 1.5 * (q.p75 - q.p25)
           |                  OR d.n_chars > q.p75 + 1.5 * (q.p75 - q.p25)
           |           THEN 1 ELSE 0 END) AS BIGINT) AS n_tukey
           |FROM documents d JOIN q USING (source)
           |GROUP BY 1 ORDER BY d.source""".stripMargin))

  /** X7 PSI drift monitor ([[CurationOps.psiDrift]]): per-source
    * population-stability index of the doc-length distribution between a
    * hash-split 'ref' and 'cur' snapshot (hash split, NOT doc_id residue —
    * source = doc_id % 20, so a residue split would correlate with the
    * group and leave no pairing). Bins are integer-exact power-of-two
    * magnitudes; smoothing over each source's OWN bin union and the
    * rounded-psi flag per the operator contract. One corpus aggregate,
    * then |sources|·2·|bins| rows. */
  private val q151 = QueryDef(
    "q151_psi_drift",
    (s, dir) => {
      val refChars = Seq("0", "1", "2", "3", "4", "5", "6", "7", "8", "9", "a", "b")
      val d = Tables.documents(s, dir)
        .withColumn("snap",
          when(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1)
            .isin(refChars: _*), "ref").otherwise("cur"))
        .withColumn("bin", length(bin(col("n_chars"))))
      CurationOps.psiDrift(d, "source", col("snap"), col("bin"), threshold = 0.2)
        .orderBy(col("source"))
    },
    Some("""WITH b AS (
           |  SELECT source,
           |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
           |           IN ('0','1','2','3','4','5','6','7','8','9','a','b')
           |         THEN 'ref' ELSE 'cur' END AS snap,
           |    length(to_base(n_chars, 2)) AS bin
           |  FROM documents),
           |grid AS (
           |  SELECT gb.source, s.snap, gb.bin
           |  FROM (SELECT DISTINCT source, bin FROM b) gb
           |  JOIN (SELECT DISTINCT source, snap FROM b) s USING (source)),
           |cnt AS (
           |  SELECT g.source, g.snap, g.bin, count(b.bin) AS n
           |  FROM grid g LEFT JOIN b ON b.source = g.source AND b.snap = g.snap AND b.bin = g.bin
           |  GROUP BY 1, 2, 3),
           |sh AS (
           |  SELECT source, snap, bin,
           |    (CAST(n AS DOUBLE) + 0.5) / (CAST(sum(n) OVER (PARTITION BY source, snap) AS DOUBLE)
           |      + 0.5 * CAST(count(*) OVER (PARTITION BY source, snap) AS DOUBLE)) AS p
           |  FROM cnt),
           |w AS (
           |  SELECT r.source, r.bin, r.p AS pr, c.p AS pc
           |  FROM (SELECT * FROM sh WHERE snap = 'ref') r
           |  JOIN (SELECT * FROM sh WHERE snap = 'cur') c USING (source, bin))
           |SELECT source, round(sum((pr - pc) * ln(pr / pc)), 6) AS psi,
           |  CAST(CASE WHEN round(sum((pr - pc) * ln(pr / pc)), 6) > 0.2
           |       THEN 1 ELSE 0 END AS BIGINT) AS drifted
           |FROM w GROUP BY 1 ORDER BY source""".stripMargin))

  /** X7 rule-gate funnel with per-rule rejection attribution
    * ([[CurationOps.ruleFunnel]]): four Gopher-style pass predicates
    * (min token count, stopword presence, mean-word-length band,
    * max single-token repetition) evaluated in ONE scan, exploded into
    * per-(source, rule) gross (`n_fail`) AND marginal (`n_sole_fail`)
    * rejection mass — the table a 100 TB filter run is actually debugged
    * from: sole-fail is exactly what relaxing one rule would admit. The
    * FP-hazardous ratio rules are phrased integer-exact on both sides
    * (n_chars vs 3·nt/10·nt; top-token·8 vs nt) so the hash cannot drift
    * on division. `word_len` never fires on this fixture — a 0-count row
    * proving never-firing rules still report. */
  private val q155 = QueryDef(
    "q155_rule_funnel",
    (s, dir) => {
      import graft.operators.TextOps
      val d = Tables.documents(s, dir)
        .withColumn("toks", TextOps.tokenize(col("text")))
        .withColumn("nt", size(col("toks")).cast("long"))
      val topCount = array_max(transform(array_distinct(col("toks")),
        w => size(filter(col("toks"), t => t === w)))).cast("long")
      CurationOps.ruleFunnel(d, col("source"), Seq(
          "min_tokens" -> (col("nt") >= 20L),
          "stopwords" -> (TextOps.stopwordCount(col("toks")).cast("long") >= 2L),
          "word_len" -> (col("n_chars") >= lit(3L) * col("nt") &&
            col("n_chars") <= lit(10L) * col("nt")),
          "repetition" -> (topCount * lit(8L) <= col("nt"))))
        .orderBy(col("grp"), col("rule"))
    },
    Some("""WITH t AS (
           |  SELECT source, n_chars, string_split(text, ' ') AS toks,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
           |  FROM documents),
           |f AS (
           |  SELECT source AS grp,
           |    nt >= 20 AS r_min_tokens,
           |    len(list_filter(toks, x -> x IN ('the','a','an','of','and','to','in','is','it','on','for'))) >= 2 AS r_stopwords,
           |    n_chars >= 3 * nt AND n_chars <= 10 * nt AS r_word_len,
           |    CAST(list_max(list_transform(list_distinct(toks),
           |      w -> len(list_filter(toks, u -> u = w)))) AS BIGINT) * 8 <= nt AS r_repetition
           |  FROM t),
           |n AS (
           |  SELECT grp, r_min_tokens, r_stopwords, r_word_len, r_repetition,
           |    (CASE WHEN r_min_tokens THEN 0 ELSE 1 END
           |     + CASE WHEN r_stopwords THEN 0 ELSE 1 END
           |     + CASE WHEN r_word_len THEN 0 ELSE 1 END
           |     + CASE WHEN r_repetition THEN 0 ELSE 1 END) AS nf
           |  FROM f),
           |e AS (
           |  SELECT grp, 'min_tokens' AS rule, NOT r_min_tokens AS failed, nf FROM n
           |  UNION ALL SELECT grp, 'stopwords', NOT r_stopwords, nf FROM n
           |  UNION ALL SELECT grp, 'word_len', NOT r_word_len, nf FROM n
           |  UNION ALL SELECT grp, 'repetition', NOT r_repetition, nf FROM n)
           |SELECT grp, rule, count(*) AS n_docs,
           |  CAST(sum(CASE WHEN nf = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
           |  CAST(sum(CASE WHEN failed THEN 1 ELSE 0 END) AS BIGINT) AS n_fail,
           |  CAST(sum(CASE WHEN failed AND nf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sole_fail
           |FROM e GROUP BY 1, 2 ORDER BY grp, rule""".stripMargin))

  /** X7 two-level doc×domain admission ([[CurationOps.domainGate]]):
    * aggregate domain verdicts override per-doc verdicts — a domain whose
    * doc pass rate is under 80% (or too thin to judge) is dropped WHOLE,
    * individually-passing docs included. The checked output is the
    * doc-LEVEL verdict trail (doc_pass, domain_admitted, admitted), so
    * the oracle pins the broadcast join-back row by row, not just the
    * domain aggregate. Thresholds compare integer-exactly (n·100 vs
    * pct·n) on both engines; 12–13 of the 23 synthesized domains admit at
    * every SF, so the gate demonstrably cuts both ways. */
  private val q157 = QueryDef(
    "q157_domain_gate",
    (s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("domain",
          concat(lit("site"), (col("doc_id") % 23).cast("string"), lit(".com")))
      CurationOps.domainGate(d, col("domain"), col("n_chars") >= 150,
          minRatePct = 80, minDocs = 3)
        .select(col("doc_id"), col("domain"), col("doc_pass"),
          col("domain_admitted"), col("admitted"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH d AS (
           |  SELECT doc_id,
           |    'site' || CAST(doc_id % 23 AS VARCHAR) || '.com' AS domain,
           |    CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END AS doc_pass
           |  FROM documents),
           |s AS (
           |  SELECT domain,
           |    CASE WHEN sum(doc_pass) * 100 >= 80 * count(*) AND count(*) >= 3
           |      THEN 1 ELSE 0 END AS domain_admitted
           |  FROM d GROUP BY 1)
           |SELECT d.doc_id, d.domain, CAST(d.doc_pass AS BIGINT) AS doc_pass,
           |  CAST(s.domain_admitted AS BIGINT) AS domain_admitted,
           |  CAST(d.doc_pass * s.domain_admitted AS BIGINT) AS admitted
           |FROM d JOIN s USING (domain) ORDER BY doc_id""".stripMargin))

  /** X7 standing-state robust stats ([[CurationOps.robustStatsWeighted]]):
    * q145's per-source (median, MAD) fence statistics recomputed from a
    * PRE-AGGREGATED (value, weight) histogram — the streamed admission
    * funnel's state class (per-batch partial counts merged in a
    * StandingStore) — instead of the rows. The histogram is built in the
    * query (source × n_chars → count), and the oracle computes the
    * ROW-form median/mad, so the hash check pins the exact property the
    * streamed q150 fence rests on: histogram ≡ rows, cross-engine.
    * Scale shape: one hash aggregate to |sources × length domain| rows,
    * then prefix-sum medians over the histogram — the per-refresh cost a
    * standing store pays, independent of stream age or corpus size. */
  private val q168 = QueryDef(
    "q168_histogram_robust_stats",
    (s, dir) => {
      val hist = Tables.documents(s, dir)
        .groupBy(col("source"), col("n_chars")).agg(count(lit(1)).as("n"))
      CurationOps.robustStatsWeighted(hist, "source", col("n_chars"), col("n"))
        .select(col("source"), col("med"), col("mad"))
        .orderBy(col("source"))
    },
    Some("""SELECT source, CAST(median(n_chars) AS DOUBLE) AS med,
           |  CAST(mad(n_chars) AS DOUBLE) AS mad
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin))

  /** X7×X1 dedup-ADJUSTED temperature mixture
    * ([[CurationOps.temperatureMixtureEffective]]): q134's √-temperature
    * plan weighted by what SURVIVES dedup instead of raw token mass — the
    * per-source dup rate comes from q148/q170's 3/16 fingerprint-space
    * sample (group-preserving by construction), so the plan prices the
    * dedup pass without running it. A source whose mass is largely
    * duplicated stops crowding the mixture; the oracle replays the sampled
    * estimate, the effective-mass arithmetic, and the share normalization
    * step for step, so the whole instrument chain — sample → estimate →
    * effective mass → plan — is inside the hash. */
  private val q172 = QueryDef(
    "q172_dedup_adjusted_mixture",
    (s, dir) => CurationOps.temperatureMixtureEffective(
        Tables.documents(s, dir), col("source"),
        size(split(col("text"), " ")).cast("long"),
        substring(md5(col("text").cast("binary")), 1, 3),
        Seq("0", "1", "2"), budgetTokens = 100000L)
      .orderBy(col("source")),
    Some("""WITH t AS (
           |  SELECT source, len(string_split(text, ' ')) AS nt,
           |    substr(md5(text), 1, 3) AS fp,
           |    substr(md5(substr(md5(text), 1, 3)), 1, 1) AS sb
           |  FROM documents),
           |a AS (SELECT source, CAST(sum(nt) AS BIGINT) AS avail_tokens
           |  FROM t GROUP BY 1),
           |s AS (SELECT source,
           |    round(1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*), 6) + 0.0 AS est
           |  FROM t WHERE sb IN ('0', '1', '2') GROUP BY 1),
           |w AS (SELECT a.source, a.avail_tokens,
           |    coalesce(s.est, 0.0) AS est_dup_rate,
           |    CAST(a.avail_tokens AS DOUBLE) * (1.0 - coalesce(s.est, 0.0)) AS eff,
           |    sqrt(CAST(a.avail_tokens AS DOUBLE) * (1.0 - coalesce(s.est, 0.0))) AS w
           |  FROM a LEFT JOIN s USING (source)),
           |sw AS (SELECT round(sum(w), 6) + 0.0 AS sw FROM w),
           |p AS (SELECT w.*,
           |    CASE WHEN sw > 0 THEN round(w / sw, 6) + 0.0
           |      ELSE error('temperatureMixtureEffective: effective token mass is zero in every source (all-duplicate corpus) — no meaningful mixture exists')
           |      END AS sample_p
           |  FROM w CROSS JOIN sw)
           |SELECT source, avail_tokens, est_dup_rate,
           |  round(eff, 6) + 0.0 AS eff_tokens,
           |  sample_p,
           |  CAST(floor(100000.0 * sample_p) AS BIGINT) AS planned_tokens,
           |  CASE WHEN eff > 0
           |    THEN round(CAST(floor(100000.0 * sample_p) AS DOUBLE) / eff, 6) + 0.0
           |    ELSE 0.0 END AS epochs
           |FROM p ORDER BY source""".stripMargin))

  override val defs: Seq[QueryDef] =
    Seq(q45, q46, q47, q48, q49, q50, q52, q54, q56, q66, q70, q71, q77, q78, q83, q84, q92,
      q99, q100, q103, q105, q108, q109, q113, q114, q125, q127, q128, q130, q134, q135,
      q137, q138, q139, q145, q146, q151, q155, q157, q168, q172)

  /** X7×X3 SEMANTIC decontamination: q50's train/eval audit in embedding
    * space — eval vectors with a train near-neighbor (cosine ≥ 0.35 among
    * (cell × 2-table OR-ed LSH) candidates) are paraphrase-leakage
    * suspects lexical decontamination cannot see. Both the hash split and
    * the LSH buckets are literal/deterministic, so the whole audit is
    * oracle-checkable end-to-end. */
  private lazy val q99Tables = graft.operators.SimilarityOps.lshTables(2, 2, 64)
  private lazy val q99 = QueryDef(
    "q99_semantic_decontam",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      CurationOps.semanticDecontamination(emb, "vec_id", col("embedding"), col("label"),
        CurationOps.hashSplit(col("vec_id"), Seq("train" -> 90, "test" -> 100)),
        evalSplit = "test", trainSplit = "train",
        threshold = 0.35, tables = q99Tables)
        .orderBy(col("vec_id"))
    },
    Some {
      val bucketCols = q99Tables.zipWithIndex.map { case (p, t) =>
        s"${OracleSql.signLshBucketSql("embedding::DOUBLE[]", p)} AS b$t"
      }.mkString(",\n|    ")
      val orCond = q99Tables.indices.map(t => s"ev.b$t = tr.b$t").mkString(" OR ")
      s"""WITH e AS (
         |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         |    CASE WHEN ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT % 100 < 90
         |      THEN 'train' ELSE 'test' END AS split,
         |    $bucketCols
         |  FROM embeddings),
         |ev AS (SELECT * FROM e WHERE split = 'test'),
         |tr AS (SELECT * FROM e WHERE split = 'train'),
         |hits AS (
         |  SELECT ev.vec_id, count(DISTINCT tr.vec_id) AS n
         |  FROM ev JOIN tr ON ev.label = tr.label AND ($orCond)
         |  WHERE ${OracleSql.cosineSql("ev.v", "tr.v")} >= 0.35
         |  GROUP BY 1)
         |SELECT ev.vec_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_train_neighbors,
         |  coalesce(h.n, 0) > 0 AS contaminated
         |FROM ev LEFT JOIN hits h ON h.vec_id = ev.vec_id
         |ORDER BY ev.vec_id""".stripMargin
    })

  /** q49's sequence packing driven by the REAL subword token count
    * ([[graft.operators.TextOps.subwordTokenize]]) instead of whitespace
    * words — context windows are measured in model tokens, so THIS is the
    * count a production packer bins on. Same packing plan (running
    * per-source window, zero extra shuffle: the tokenizer is map work
    * feeding the same cumulative sum); the oracle swaps q49's
    * whitespace-count CTE for the recursive subword walk. */
  private lazy val q92 = QueryDef(
    "q92_subword_pack",
    (s, dir) => CurationOps
      .packSequences(Tables.documents(s, dir), col("source"), col("doc_id"),
        size(graft.operators.TextOps.subwordTokenize(col("text"))), 2048)
      .groupBy(col("source"), col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("chunk_tokens"))
      .orderBy(col("source"), col("chunk_id")),
    Some(s"""${OracleSql.subwordWalkSql(graft.operators.TextOps.defaultSubwordVocab)},
           |tc AS (SELECT doc_id, count(*) AS tok FROM walk GROUP BY 1),
           |t AS (SELECT d.source, d.doc_id, CAST(coalesce(tc.tok, 0) AS BIGINT) AS tok
           |  FROM documents d LEFT JOIN tc USING (doc_id)),
           |c AS (
           |  SELECT source, tok,
           |    sum(tok) OVER (PARTITION BY source ORDER BY doc_id
           |      ROWS UNBOUNDED PRECEDING) AS cum
           |  FROM t)
           |SELECT source, CAST((cum - tok) // 2048 AS BIGINT) AS chunk_id,
           |  count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS chunk_tokens
           |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))
}
