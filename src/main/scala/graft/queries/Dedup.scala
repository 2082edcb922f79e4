package graft.queries

import graft.engine.{Materialize, Tables}
import graft.operators.{DedupOps, TextOps}
import org.apache.spark.sql.functions._

/** Near-duplicate detection queries over `documents` (builder prompt;
  * SURVEY §2.10 X2): n-gram Jaccard, MinHash+LSH, SimHash. Candidate
  * generation is always bucket-bounded (source bucket / LSH band / simhash
  * band) — no unbounded cross joins at any scale. */
object Dedup extends QueryGroup {

  /** The fixed-geometry DEMO budget (q32/q88): sits ABOVE the
    * DuckDB-replay-measured sf10 masses (q32 504.3 M, q88 1.004 B — both
    * ran to completion, BENCH_sf10_r14) and BELOW their quadratic sf100
    * extrapolation (~50 B / ~100 B): the demos RUN at sf10 and REFUSE with
    * the priced guard message at the next decade BY DESIGN — the SURVEY
    * §6.2 round-15 posture, pinned by the ExtensionOpsSpec posture test.
    * Production semantic traffic rides the occupancy ladder
    * ([[SharedPipelines.tunedSemanticDepth]]) under the DEFAULT budget. */
  val FixedGeometryDemoBudget: Long = 2000000000L


  private def docShingleRows(s: org.apache.spark.sql.SparkSession, dir: String) =
    TextOps.shingleRows(Tables.documents(s, dir), col("doc_id"), col("source"), col("text"))

  /** X2a: true n-gram Jaccard — top-20 most similar same-source pairs.
    * Pairs only form on shared shingles inside a source bucket, and shingles
    * with document frequency > 50 are dropped before the self-join (hot-
    * shingle cap: inert on this fixture, max df 6 at sf0.1, but bounds the
    * join fan-out of a ubiquitous 3-gram on a real corpus). */
  private val q22 = QueryDef(
    "q22_ngram_jaccard_topk",
    (s, dir) => DedupOps.jaccardPairsFromRows(docShingleRows(s, dir), maxDf = 50)
      .select(col("a_id"), col("b_id"), col("n_common"), col("jaccard"))
      .orderBy(desc("jaccard"), col("a_id"), col("b_id"))
      .limit(20),
    Some(s"""WITH ${OracleSql.shingleSetsCte(3, "doc_id, source")},
           |ex0 AS (SELECT doc_id, source, unnest(shset) AS sh FROM sets WHERE len(shset) > 0),
           |ex AS (SELECT * FROM ex0 QUALIFY count(*) OVER (PARTITION BY source, sh) <= 50),
           |sizes AS (SELECT doc_id, CAST(len(shset) AS BIGINT) AS setsize FROM sets WHERE len(shset) > 0),
           |common AS (
           |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_common
           |  FROM ex a JOIN ex b ON a.source = b.source AND a.sh = b.sh AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |SELECT a_id, b_id, n_common,
           |  ${OracleSql.setJaccardSql("n_common", "sa.setsize", "sb.setsize")} AS jaccard
           |FROM common
           |JOIN sizes sa ON sa.doc_id = a_id
           |JOIN sizes sb ON sb.doc_id = b_id
           |ORDER BY jaccard DESC, a_id, b_id LIMIT 20""".stripMargin))

  /** X2b: MinHash+LSH candidate pairs — 8 minhashes via Kirsch–Mitzenmacher
    * (one md5 per shingle split into 40-bit h1/h2; hash j = min(h1 + j·h2)),
    * band size 1 (tuned for the low-Jaccard test corpus; production uses
    * r≥2), bucketed by source. Candidates agree on ≥1 minhash in a bucket. */
  private val q23 = QueryDef(
    "q23_minhash_lsh_pairs",
    (s, dir) => DedupOps
      .minhashLshCandidatesBanded(DedupOps.capShingleDf(docShingleRows(s, dir), 50), 8, 1)
      .orderBy(col("a_id"), col("b_id")),
    Some(s"""WITH ${OracleSql.shingleSetsCte(3, "doc_id, source")},
           |ex0 AS (SELECT doc_id, source, unnest(shset) AS sh FROM sets WHERE len(shset) > 0),
           |ex AS (SELECT * FROM ex0 QUALIFY count(*) OVER (PARTITION BY source, sh) <= 50),
           |${OracleSql.minhashBandCtes("ex", rowsPerBand = 1, "doc_id, source")},
           |${OracleSql.bandPairsCte("pairs", Seq("source", "band", "h"), counted = true)}
           |SELECT a_id, b_id, n_shared_bands FROM pairs ORDER BY a_id, b_id""".stripMargin))

  /** X2c: SimHash-63 near-dups — same-source pairs within Hamming ≤ 6,
    * top-20 closest. Spark-side candidates come from the BANDED plan (7
    * bands × 9 bits; pigeonhole makes recall exact for Hamming ≤ 6), so
    * the all-pairs oracle below computes the identical result.
    *
    * Scale posture (round 13, measured — SURVEY §6.2): the 9-bit
    * band space gives the band join a quadratic/512 random-collision
    * floor once buckets outgrow ~512 docs, on ANY vocabulary (Heaps-tier
    * mass 1.46 M → 146.6 M on a 10× corpus; fixture tier 4.69 B at 500 k
    * docs). This query is therefore a measured BASELINE like the fixed-cap
    * family: it runs uncapped for the exact-recall oracle contract, and
    * the default `bandMassBudget` turns the blow-up tier into a priced
    * refusal (r12's 45 GB disk-guard kill at sf10 → a stated cost). The
    * calibrated MinHash pipeline is the production near-dup default. */
  private val q24 = QueryDef(
    "q24_simhash_neardup",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("tokset", array_distinct(TextOps.tokenize(col("text"))))
      DedupOps.simhashNearDupsBanded(docs, "doc_id", col("tokset"), col("source"), maxHamming = 6)
        .orderBy(col("hamming"), col("a_id"), col("b_id"))
        .limit(20)
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, md5(t.tok) AS h
           |  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents) t),
           |votes AS (
           |  SELECT doc_id, p.pos,
           |    sum(CASE WHEN (('0x' || substr(h, pos//4 + 1, 1))::INT >> (3 - pos%4)) & 1 = 1 THEN 1 ELSE -1 END) AS v
           |  FROM toks, unnest(range(63)) AS p(pos)
           |  GROUP BY 1, 2),
           |sigs AS (
           |  SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << pos) ELSE 0 END) AS BIGINT) AS simhash
           |  FROM votes GROUP BY 1),
           |pairs AS (
           |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |    CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
           |  FROM documents a JOIN documents b ON a.source = b.source AND a.doc_id < b.doc_id
           |  JOIN sigs sa ON sa.doc_id = a.doc_id
           |  JOIN sigs sb ON sb.doc_id = b.doc_id)
           |SELECT a_id, b_id, hamming FROM pairs WHERE hamming <= 6
           |ORDER BY hamming, a_id, b_id LIMIT 20""".stripMargin))

  /** X2d: embedding-cosine near-dups — exact cosine over candidates bounded
    * by (label cell × sign-LSH bucket), threshold 0.35 (tuned to the
    * near-random test corpus; production thresholds sit near 0.95 on real
    * embeddings, where per-table recall is far higher). The planes are
    * literals (fixed seed), so the oracle reproduces the bucket exactly —
    * round 1's cell-only all-pairs join is gone from both sides. */
  private val q32Planes = graft.operators.SimilarityOps.lshPlanes(2, 64)
  private val q32 = QueryDef(
    "q32_embedding_neardup",
    // bucketMassBudget raised above the default 200 M with the measurement
    // cited (the r13 q73/q75 discipline): this literal geometry's pair mass
    // measures 50.5 k / 5.04 M / 504.3 M at sf0.1/sf1/sf10 — quadratic, but
    // the 504 M sf10 join ran to completion in 47.6 s (BENCH_sf10_r14).
    // 2 B sits above the measured-payable tier and below the next decade.
    (s, dir) => DedupOps
      .embeddingNearDups(Tables.embeddings(s, dir), "vec_id", col("embedding"), col("label"),
        0.35, Seq(q32Planes), bucketMassBudget = FixedGeometryDemoBudget)
      .orderBy(desc("cosine"), col("a_id"), col("b_id")),
    Some(s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
           |bk AS (SELECT vec_id, label, v,
           |  ${OracleSql.signLshBucketSql("v", q32Planes)} AS bucket FROM e)
           |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           |  ${OracleSql.cosineSql("a.v", "b.v")} + 0.0 AS cosine
           |FROM bk a JOIN bk b ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id
           |WHERE ${OracleSql.cosineSql("a.v", "b.v")} >= 0.35
           |ORDER BY cosine DESC, a_id, b_id""".stripMargin))

  /** X1 incremental form — dedup a NEW crawl against the EXISTING corpus:
    * the recurring-ingest shape (every fresh batch anti-joins the standing
    * fingerprint index instead of re-deduping the world). The corpus side
    * reduces to its distinct fingerprint set before the join; at 100 TB
    * that index is the persisted output of the previous run, not a rescan,
    * and the anti join broadcasts or shuffles only fingerprints, never
    * text. */
  private val newSources = Seq("src15", "src16", "src17", "src18", "src19")
  private val q60 = QueryDef(
    "q60_incremental_crawl_dedup",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val corpusFp = docs.filter(!col("source").isin(newSources: _*))
        .select(TextOps.fingerprint(col("text")).as("fp")).distinct()
      val fresh = docs.filter(col("source").isin(newSources: _*))
        .withColumn("fp", TextOps.fingerprint(col("text")))
      val totals = fresh.groupBy(col("source")).agg(count(lit(1)).as("n_new"))
      val kept = fresh.join(corpusFp, Seq("fp"), "left_anti")
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      totals.join(kept, Seq("source"), "left")
        .select(col("source"), col("n_new"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy(col("source"))
    },
    Some(s"""WITH fps AS (
           |  SELECT source,
           |    substr(md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))), 1, 16) AS fp
           |  FROM documents),
           |corpus AS (SELECT DISTINCT fp FROM fps
           |  WHERE source NOT IN (${newSources.map(x => s"'$x'").mkString(", ")})),
           |fresh AS (SELECT source, fp FROM fps
           |  WHERE source IN (${newSources.map(x => s"'$x'").mkString(", ")}))
           |SELECT f.source, count(*) AS n_new,
           |  CAST(sum(CASE WHEN c.fp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
           |FROM fresh f LEFT JOIN corpus c ON f.fp = c.fp
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** X2 (edit distance): entity-resolution-style verification — CALIBRATED
    * candidate pairs ([[SharedPipelines.calibratedCandidates]], the
    * measured-linear quantile-cap + banded generator; re-anchored off the
    * quarantined fixed-cap pool in round 12 per the round-11 verdict) each
    * pay one threshold-bounded `levenshtein` (banded DP, early exit at
    * 320), so the quadratic metric runs only on pairs the sketch already
    * deemed similar. The exhaustive per-length-band variant exists as
    * `DedupOps.editDistancePairs` (complete for the token metric, spec-
    * covered); at corpus scale the LSH-blocked form is the one that
    * survives, and the oracle reproduces generator + verifier exactly
    * ([[OracleSql.calibratedPairsCtes]] — the one shared copy). */
  private val q65 = QueryDef(
    "q65_edit_distance_pairs",
    (s, dir) => DedupOps.editDistanceVerify(
        Tables.documents(s, dir), "doc_id", col("text"),
        SharedPipelines.calibratedCandidates(s, dir),
        maxDist = 320)
      .orderBy(col("edit_distance"), col("a_id"), col("b_id")),
    Some("WITH " + OracleSql.calibratedPairsCtes + (""",
           |d AS (SELECT doc_id, text FROM documents)
           |SELECT p.a_id, p.b_id,
           |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_distance
           |FROM pairs p JOIN d da ON da.doc_id = p.a_id JOIN d db ON db.doc_id = p.b_id
           |WHERE levenshtein(da.text, db.text) <= 320
           |ORDER BY edit_distance, a_id, b_id""").stripMargin))

  /** X1 at sub-document granularity: repeated-passage removal — drop every
    * occurrence of a 10-token chunk that appears in more than one document
    * (cross-doc boilerplate), reassemble the rest in order. The df count
    * keys on md5(chunk) (fixed-width shuffle), mirrored in the oracle. */
  private val q67 = QueryDef(
    "q67_repeated_chunk_removal",
    (s, dir) => DedupOps.repeatedChunkRemoval(
        Tables.documents(s, dir), "doc_id", col("text"), chunkTokens = 10, maxDf = 1)
      .orderBy(col("doc_id")),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           |n AS (SELECT doc_id, toks,
           |        CAST(ceil(len(toks) / 10.0) AS BIGINT) AS nch FROM t),
           |c AS (SELECT doc_id, CAST(i AS INT) AS pos,
           |        array_to_string(list_slice(toks, i*10 + 1, i*10 + 10), ' ') AS chunk
           |      FROM n, unnest(range(nch)) AS u(i)),
           |f AS (SELECT md5(chunk) AS ch, count(DISTINCT doc_id) AS df
           |      FROM c GROUP BY 1),
           |k AS (SELECT c.doc_id, c.pos, c.chunk
           |      FROM c JOIN f ON md5(c.chunk) = f.ch WHERE f.df <= 1),
           |r AS (SELECT doc_id, string_agg(chunk, ' ' ORDER BY pos) AS clean_text,
           |        count(*) AS n_kept FROM k GROUP BY 1)
           |SELECT n.doc_id, coalesce(r.clean_text, '') AS clean_text,
           |  CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
           |  CAST(n.nch - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed
           |FROM n LEFT JOIN r USING (doc_id) ORDER BY doc_id""".stripMargin))

  /** X2 (weighted sparse similarity): idf-weighted shingle cosine — q22's
    * bounded shared-shingle join with TF-IDF weighting, so rare shared
    * shingles dominate and ubiquitous ones wash out. */
  private val q73 = QueryDef(
    "q73_tfidf_cosine_pairs",
    // pairMassBudget raised above the default 200M: THIS plan's sf10 mass
    // (432.4M sub-cap rows) is individually measured payable — the r12
    // sweep dumped 214,163,506 result rows through it without spilling
    // past the guard. The default stays for unmeasured callers.
    (s, dir) => DedupOps.tfidfCosinePairs(
        docShingleRows(s, dir), maxDf = 50, minCosine = 0.02,
        pairMassBudget = 1000000000L)
      .orderBy(desc("cosine"), col("a_id"), col("b_id")),
    Some(s"""WITH ${OracleSql.shingleSetsCte(3, "doc_id, source")},
           |ex0 AS (SELECT doc_id, source, unnest(shset) AS sh FROM sets WHERE len(shset) > 0),
           |ex AS (SELECT *, count(*) OVER (PARTITION BY source, sh) AS df
           |       FROM ex0 QUALIFY df <= 50),
           |nb AS (SELECT source, count(DISTINCT doc_id) AS n_docs FROM ex0 GROUP BY 1),
           |sc AS (SELECT ex.doc_id, ex.source, ex.sh,
           |         ln(CAST(nb.n_docs AS DOUBLE) / CAST(ex.df AS DOUBLE)) AS idf
           |       FROM ex JOIN nb USING (source)),
           |nrm AS (SELECT doc_id, sum(idf * idf) AS n2 FROM sc GROUP BY 1),
           |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |        count(*) AS n_common, sum(a.idf * a.idf) AS num
           |      FROM sc a JOIN sc b
           |        ON a.source = b.source AND a.sh = b.sh AND a.doc_id < b.doc_id
           |      GROUP BY 1, 2)
           |SELECT p.a_id, p.b_id, CAST(p.n_common AS BIGINT) AS n_common,
           |  round(p.num / (sqrt(na.n2) * sqrt(nb2.n2)), 6) + 0.0 AS cosine
           |FROM p JOIN nrm na ON na.doc_id = p.a_id
           |JOIN nrm nb2 ON nb2.doc_id = p.b_id
           |WHERE round(p.num / (sqrt(na.n2) * sqrt(nb2.n2)), 6) >= 0.02
           |ORDER BY cosine DESC, a_id, b_id""".stripMargin))

  /** X2 (containment): directional shingle containment
    * |A∩B| / min(|A|,|B|) — the quote/subset detector. A short doc embedded
    * in a long one scores 1.0 here while its Jaccard stays tiny, so q22's
    * symmetric ranking never surfaces it. Re-anchored (r15) off the
    * fixed-df-cap corpus-wide join (the measured-superlinear q22 pool —
    * 432 M pair mass / 68.4 s steady at sf10) onto the CALIBRATED
    * candidate pool + the bounded pair verifier
    * ([[DedupOps.containmentVerifyPairs]]): candidate cost is the
    * measured-linear generator's, verify cost is |candidates| × avg set
    * size, and the containment verdict is computed on FULL 5-gram sets so
    * the generator's cap never biases the metric. The banding-vs-
    * containment recall trade is documented on the operator. */
  private val q75 = QueryDef(
    "q75_containment_pairs",
    (s, dir) => DedupOps.containmentVerifyPairs(
        SharedPipelines.calibratedCandidates(s, dir),
        SharedPipelines.calibratedShingleRows(s, dir), minContainment = 0.05)
      .orderBy(desc("containment"), col("a_id"), col("b_id")),
    Some("WITH " + OracleSql.calibratedPairsCtes + (""",
           |cmn AS (
           |  SELECT p.a_id, p.b_id, count(*) AS n_common
           |  FROM pairs p
           |  JOIN ex0 a ON a.doc_id = p.a_id
           |  JOIN ex0 b ON b.doc_id = p.b_id AND b.sh = a.sh
           |  GROUP BY 1, 2)
           |SELECT cmn.a_id, cmn.b_id, CAST(n_common AS BIGINT) AS n_common,
           |  round(CAST(n_common AS DOUBLE) / CAST(least(sa.setsize, sb.setsize) AS DOUBLE), 6) AS containment
           |FROM cmn
           |JOIN sizes sa ON sa.doc_id = cmn.a_id
           |JOIN sizes sb ON sb.doc_id = cmn.b_id
           |WHERE round(CAST(n_common AS DOUBLE) / CAST(least(sa.setsize, sb.setsize) AS DOUBLE), 6) >= 0.05
           |ORDER BY containment DESC, a_id, b_id""").stripMargin))

  /** X2 incremental: fresh crawl sources probe the STANDING MinHash band
    * index of the existing corpus (semi join on (band, h) — cross-source,
    * so the bucket is global) and per source we count how many fresh docs
    * are near-dup suspects needing verification. The corpus is never
    * rescanned — q60's incremental discipline applied to NEAR-dup. */
  private val q74 = QueryDef(
    "q74_incremental_lsh_dedup",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      def bands(d: org.apache.spark.sql.DataFrame) = DedupOps.minhashBandedRows(
        DedupOps.capShingleDf(TextOps.shingleRows(d, col("doc_id"), lit("all"), col("text")), 50),
        8, 1)
      val fresh = docs.filter(col("source").isin(newSources: _*))
      val flagged = DedupOps.incrementalLshSuspects(
        bands(fresh), bands(docs.filter(!col("source").isin(newSources: _*))))
      fresh.select(col("doc_id"), col("source"))
        .join(flagged, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_new"),
          sum(when(col("lsh_suspect") === true, 1L).otherwise(0L)).as("n_suspect"))
        .orderBy(col("source"))
    },
    Some(s"""WITH ${OracleSql.shingleSetsCte(3, "doc_id, source")},
           |exC0 AS (SELECT doc_id, unnest(shset) AS sh FROM sets
           |  WHERE source NOT IN (${newSources.map(x => s"'$x'").mkString(", ")}) AND len(shset) > 0),
           |exC AS (SELECT * FROM exC0 QUALIFY count(*) OVER (PARTITION BY sh) <= 50),
           |exF0 AS (SELECT doc_id, unnest(shset) AS sh FROM sets
           |  WHERE source IN (${newSources.map(x => s"'$x'").mkString(", ")}) AND len(shset) > 0),
           |exF AS (SELECT * FROM exF0 QUALIFY count(*) OVER (PARTITION BY sh) <= 50),
           |${OracleSql.minhashBandCtes("exC", rowsPerBand = 1, tag = "C")},
           |${OracleSql.minhashBandCtes("exF", rowsPerBand = 1, tag = "F")},
           |suspects AS (SELECT DISTINCT f.doc_id
           |  FROM bandsF f JOIN bandsC c ON f.band = c.band AND f.h = c.h)
           |SELECT d.source, count(*) AS n_new,
           |  CAST(sum(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect
           |FROM documents d LEFT JOIN suspects s USING (doc_id)
           |WHERE d.source IN (${newSources.map(x => s"'$x'").mkString(", ")})
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** X1 content-defined chunking: q67's boilerplate removal with CUTS
    * derived from the text's own rolling fingerprint (fp % 16 = 0 at a
    * 3-token window ⇒ ~16-token expected chunks) — the insertion-robust
    * variant: a one-token upstream edit shifts every fixed-width chunk but
    * re-synchronizes content-defined ones within a window. */
  private val q85 = QueryDef(
    "q85_cdc_chunk_removal",
    (s, dir) => DedupOps.cdcChunkRemoval(
        Tables.documents(s, dir), "doc_id", col("text"),
        window = 3, divisor = 16, maxDf = 1)
      .orderBy(col("doc_id")),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           |p AS (SELECT doc_id, CAST(i.i AS INT) AS pos, toks[i.i + 1] AS tok,
           |    CASE WHEN i.i + 3 <= len(toks)
           |      THEN toks[i.i + 1] || ' ' || toks[i.i + 2] || ' ' || toks[i.i + 3] END AS sh
           |  FROM t, unnest(range(len(toks))) AS i(i)),
           |c AS (SELECT doc_id, pos, tok,
           |    CASE WHEN sh IS NOT NULL AND list_reduce(list_prepend(0::BIGINT,
           |      list_transform(string_split_regex(sh, ''), ch -> ascii(ch)::BIGINT)),
           |      (h, ch) -> (h * 31 + ch) % 1000000007) % 16 = 0 THEN 1 ELSE 0 END AS cut
           |  FROM p),
           |cc AS (SELECT doc_id, pos, tok,
           |    coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY pos
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
           |  FROM c),
           |ch AS (SELECT doc_id, chunk_id,
           |    string_agg(tok, ' ' ORDER BY pos) AS chunk, min(pos) AS cpos
           |  FROM cc GROUP BY 1, 2),
           |f AS (SELECT md5(chunk) AS h, count(DISTINCT doc_id) AS df FROM ch GROUP BY 1),
           |tot AS (SELECT doc_id, max(chunk_id) + 1 AS n_chunks FROM cc GROUP BY 1),
           |k AS (SELECT ch.* FROM ch JOIN f ON md5(ch.chunk) = f.h WHERE f.df <= 1),
           |r AS (SELECT doc_id, string_agg(chunk, ' ' ORDER BY cpos) AS clean_text,
           |    count(*) AS n_kept FROM k GROUP BY 1)
           |SELECT tot.doc_id, coalesce(r.clean_text, '') AS clean_text,
           |  CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
           |  CAST(tot.n_chunks - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed
           |FROM tot LEFT JOIN r USING (doc_id) ORDER BY doc_id""".stripMargin))

  /** X2d multi-table: q32's embedding near-dup with TWO OR-ed sign-LSH
    * tables (table 0 IS q32's plane set — seed 42 — so q88's pair set is a
    * superset of q32's by construction: the recall lift is visible in the
    * row counts). Both sides explode (t, bucket) structs so the OR stays a
    * hash equi-join; the oracle carries one bucket column per table and
    * ORs the equalities (fine at oracle scale; the engine-side explode is
    * the form that scales). */
  private val q88Tables = graft.operators.SimilarityOps.lshTables(2, 2, 64)
  private val q88 = QueryDef(
    "q88_multitable_neardup",
    // bucketMassBudget raised with measurement cited (see q32): this
    // two-table geometry's exploded (cell, t, b) pair mass measures
    // 100.7 k / 10.04 M / 1.004 B at sf0.1/sf1/sf10, and the 1.0 B sf10
    // join ran to completion in 103.8 s (BENCH_sf10_r14).
    (s, dir) => DedupOps
      .embeddingNearDups(Tables.embeddings(s, dir), "vec_id", col("embedding"),
        col("label"), 0.35, q88Tables, bucketMassBudget = FixedGeometryDemoBudget)
      .orderBy(desc("cosine"), col("a_id"), col("b_id")),
    Some {
      val bucketCols = q88Tables.zipWithIndex.map { case (p, t) =>
        s"${OracleSql.signLshBucketSql("v", p)} AS b$t"
      }.mkString(",\n|  ")
      val orCond = q88Tables.indices.map(t => s"a.b$t = b.b$t").mkString(" OR ")
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |bk AS (SELECT vec_id, label, v,
         |  $bucketCols FROM e)
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  ${OracleSql.cosineSql("a.v", "b.v")} + 0.0 AS cosine
         |FROM bk a JOIN bk b ON a.label = b.label AND a.vec_id < b.vec_id
         |  AND ($orCond)
         |WHERE ${OracleSql.cosineSql("a.v", "b.v")} >= 0.35
         |ORDER BY cosine DESC, a_id, b_id""".stripMargin
    })

  /** MinHash estimator calibration — for every CALIBRATED candidate pair
    * ([[SharedPipelines.calibratedCandidates]] since r15; previously q23's
    * fixed-df-cap pool, 67.1 s steady at sf10), the 8-hash Jaccard
    * ESTIMATE (fraction of agreeing minwise hashes) next to the EXACT
    * Jaccard over the same quantile-capped shingle universe, plus the
    * absolute error. The sketch-quality report that justifies (or indicts)
    * a signature width before the banding thresholds built on it are
    * trusted — now grading the PRODUCTION generator's own signatures on
    * its own pool, with both sides routed through the pair list
    * ([[DedupOps.minhashCalibrationVerify]]) so the bill is bounded by the
    * calibrated pool size. est − exact is a single subtraction of
    * bitwise-identical doubles in both engines; all three reported figures
    * are rounded 1e-6. */
  private val q107 = QueryDef(
    "q107_minhash_calibration",
    (s, dir) => DedupOps.minhashCalibrationVerify(
        SharedPipelines.calibratedCandidates(s, dir),
        SharedPipelines.calibratedCappedShingles(s, dir), numHashes = 8)
      .select(col("a_id"), col("b_id"), col("n_equal_hashes"),
        graft.engine.Semantics.roundz(col("est_jaccard"), 6).as("est_jaccard"),
        graft.engine.Semantics.roundz(col("jaccard"), 6).as("jaccard"),
        graft.engine.Semantics.roundz(col("abs_err"), 6).as("abs_err"))
      .orderBy(col("a_id"), col("b_id")),
    Some("WITH " + OracleSql.calibratedPairsCtes + (""",
           |eq AS (
           |  SELECT p.a_id, p.b_id, count(*) AS n_equal_hashes
           |  FROM pairs p
           |  JOIN mh a ON a.doc_id = p.a_id
           |  JOIN mh b ON b.doc_id = p.b_id AND b.j = a.j AND b.h = a.h
           |  GROUP BY 1, 2),
           |csz AS (SELECT doc_id, count(*) AS setsize FROM ex GROUP BY 1),
           |cmn AS (
           |  SELECT p.a_id, p.b_id, count(*) AS n_common
           |  FROM pairs p
           |  JOIN ex a ON a.doc_id = p.a_id
           |  JOIN ex b ON b.doc_id = p.b_id AND b.sh = a.sh
           |  GROUP BY 1, 2),
           |jac AS (SELECT cmn.a_id, cmn.b_id,
           |    CAST(n_common AS DOUBLE) / CAST(sa.setsize + sb.setsize - n_common AS DOUBLE) AS j
           |  FROM cmn JOIN csz sa ON sa.doc_id = cmn.a_id JOIN csz sb ON sb.doc_id = cmn.b_id)
           |SELECT j.a_id, j.b_id,
           |  CAST(coalesce(e.n_equal_hashes, 0) AS BIGINT) AS n_equal_hashes,
           |  round(CAST(coalesce(e.n_equal_hashes, 0) AS DOUBLE) / 8.0, 6) + 0.0 AS est_jaccard,
           |  round(j.j, 6) + 0.0 AS jaccard,
           |  round(abs(CAST(coalesce(e.n_equal_hashes, 0) AS DOUBLE) / 8.0 - j.j), 6) + 0.0 AS abs_err
           |FROM jac j LEFT JOIN eq e ON e.a_id = j.a_id AND e.b_id = j.b_id
           |ORDER BY j.a_id, j.b_id""").stripMargin))

  /** X2 quantile-calibrated df cap ([[DedupOps.capShingleDfQuantile]]):
    * q23's global-bucket variant (q78's shape) with the hot-shingle cut at
    * the df distribution's 0.95-quantile instead of a fixed df ≤ 50 — the
    * cap that keeps cutting the same SHARE of the shingle universe as the
    * corpus grows (round 7's sf1 audit measured the fixed cap silently
    * flipping from keep-99% to drop-96% under vocabulary saturation). The
    * oracle reproduces the discrete-quantile threshold with the identical
    * cumulative/total arithmetic (its cume_dist window equals the Spark
    * side's distinct-df histogram cumulative — same integer threshold). */
  private val q118 = QueryDef(
    "q118_minhash_quantile_cap",
    (s, dir) => DedupOps.nearDupCandidates(
        TextOps.shingleRows(Tables.documents(s, dir),
          col("doc_id"), lit("all"), col("text")),
        DedupOps.CandidateGen.QuantileCapped(q = 0.95, floor = 1,
          numHashes = 8, rowsPerBand = 1))
      .orderBy(col("a_id"), col("b_id")),
    Some(s"""WITH ${OracleSql.shingleSetsCte(3)},
           |ex0 AS (SELECT doc_id, unnest(shset) AS sh FROM sets WHERE len(shset) > 0),
           |${OracleSql.quantileCappedPairsCtes("ex0", floor = 1, rowsPerBand = 1, counted = true)}
           |SELECT a_id, b_id, n_shared_bands FROM pairs ORDER BY a_id, b_id""".stripMargin))

  /** X2×X8 verification-shrinkage audit — what the exact-verify stage
    * BUYS before clustering, measured on the calibrated graph: connected
    * components over the RAW banded candidate pool
    * ([[SharedPipelines.calibratedCandidates]]) vs over the exact-Jaccard
    * VERIFIED edge set ([[SharedPipelines.calibratedComps]]), one audit
    * row per variant (cluster count, node count, max cluster). Verify-
    * before-CC is the production ordering because unverified LSH edges
    * percolate (q53's historical raw-pool audit hit a 46k-doc cluster at
    * sf1); this query puts the before/after contrast itself inside the
    * oracle hash. Round 12: re-anchored off the fixed-df q22 demo pool —
    * the last fixed-cap composition outside the four named baselines —
    * which MEASURED EMPTY at sf10 (500 k saturated docs drive every
    * 3-gram's df past 50, the round-7 collapse at its endpoint; timing
    * record target/r12_sf10_timings.json), so the audit now rides the
    * measured-linear calibrated pool and stays live at every tier. */
  private val q119 = QueryDef(
    "q119_verify_shrinkage",
    (s, dir) => {
      def audit(cc: org.apache.spark.sql.DataFrame, label: String)
          : org.apache.spark.sql.DataFrame =
        cc.groupBy(col("comp")).agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("n_clusters"), sum(col("n")).as("n_nodes"),
            max(col("n")).as("max_cluster"))
          .select(lit(label).as("variant"), col("n_clusters"), col("n_nodes"),
            col("max_cluster"))
      val candCC = graft.operators.GraphOps.connectedComponents(
        SharedPipelines.calibratedCandidates(s, dir)
          .select(col("a_id"), col("b_id")), "a_id", "b_id")
      audit(candCC, "candidates")
        .unionAll(audit(SharedPipelines.calibratedComps(s, dir), "verified"))
        .orderBy(col("variant"))
    },
    Some(OracleSql.calibratedCompsPrefix + (s""",
           |cand_und AS (SELECT a_id AS src, b_id AS dst FROM pairs
           |  UNION SELECT b_id AS src, a_id AS dst FROM pairs),
           |${OracleSql.closureCtes("cand_und", "_cand")}
           |SELECT 'candidates' AS variant, count(*) AS n_clusters,
           |  CAST(sum(n) AS BIGINT) AS n_nodes, max(n) AS max_cluster
           |FROM (SELECT comp, count(*) AS n FROM comps_cand GROUP BY 1)
           |UNION ALL
           |SELECT 'verified' AS variant, count(*) AS n_clusters,
           |  CAST(sum(n) AS BIGINT) AS n_nodes, max(n) AS max_cluster
           |FROM (SELECT comp, count(*) AS n FROM comps GROUP BY 1)
           |ORDER BY variant""").stripMargin))

  /** X2 banded MinHash ([[DedupOps.minhashLshCandidatesBanded]], r = 2) on
    * the quantile-capped pool — the two saturation knobs COMPOSED the way a
    * production pipeline runs them. q118's quantile cap keeps the pipeline
    * LIVE as the corpus saturates (a fixed df cap silently collapses —
    * round-7 audit), but alone it still admits every pair sharing ONE hot
    * minhash (2.4M candidates at sf1); banding the 8 minhashes into 4
    * bands of 2 requires BOTH of a band's minwise values to agree —
    * P(candidate) = 1 − (1 − j²)⁴ vs r=1's 1 − (1 − j)⁸ — which crushes
    * exactly that low-Jaccard mass while keeping true near-dups (measured
    * at all three SFs in BASELINE.md's round-8 audit). The band key is the
    * ':'-joined decimal minhash pair, so DuckDB reproduces it exactly
    * (string_agg ordered by hash index) and the query keeps a hard hash
    * oracle. */
  private val q120 = QueryDef(
    "q120_banded_minhash",
    (s, dir) => DedupOps.nearDupCandidates(
        TextOps.shingleRows(Tables.documents(s, dir),
          col("doc_id"), lit("all"), col("text")),
        DedupOps.CandidateGen.QuantileCapped(q = 0.95, floor = 1,
          numHashes = 8, rowsPerBand = 2))
      .orderBy(col("a_id"), col("b_id")),
    Some(s"""WITH ${OracleSql.shingleSetsCte(3)},
           |ex0 AS (SELECT doc_id, unnest(shset) AS sh FROM sets WHERE len(shset) > 0),
           |${OracleSql.quantileCappedPairsCtes("ex0", floor = 1, rowsPerBand = 2, counted = true)}
           |SELECT a_id, b_id, n_shared_bands FROM pairs ORDER BY a_id, b_id""".stripMargin))

  /** X1 sub-document, arbitrary-alignment: ExactSubstr-style repeated-span
    * scrub ([[DedupOps.repeatedSpanScrub]], w = 5) — every token position
    * covered by a 5-gram window occurring in ≥ 2 distinct documents is
    * removed from ALL of them, overlapping hits merging into maximal
    * spans. The alignment-free upgrade of q67 (disjoint chunks) / q85
    * (content-defined chunks): those only see repeats that respect a cut
    * boundary, this catches a passage pasted mid-sentence. Hash-join
    * formulation of the suffix-array dedup from Lee et al. 2022. */
  private val q121 = QueryDef(
    "q121_repeated_span_scrub",
    (s, dir) => DedupOps.repeatedSpanScrub(
        Tables.documents(s, dir), "doc_id", col("text"), w = 5)
      .orderBy(col("doc_id")),
    Some("""WITH toks AS (
           |  SELECT doc_id, i.i AS pos, string_split(text, ' ')[i.i + 1] AS tok
           |  FROM documents, unnest(range(len(string_split(text, ' ')))) AS i(i)),
           |grams AS (
           |  SELECT doc_id, pos,
           |    md5(concat_ws(' ', tok, lead(tok, 1) OVER w, lead(tok, 2) OVER w,
           |      lead(tok, 3) OVER w, lead(tok, 4) OVER w)) AS gh,
           |    (lead(tok, 4) OVER w) IS NOT NULL AS isfull
           |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
           |fg AS (SELECT doc_id, pos, gh FROM grams WHERE isfull),
           |dup AS (SELECT gh FROM fg GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
           |cov AS (SELECT DISTINCT fg.doc_id, fg.pos + o.o AS pos
           |  FROM fg JOIN dup USING (gh), unnest(range(5)) AS o(o)),
           |kept AS (
           |  SELECT t.doc_id, t.pos, t.tok FROM toks t
           |  LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos
           |  WHERE c.doc_id IS NULL),
           |reasm AS (
           |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
           |    count(*) AS n_kept
           |  FROM kept GROUP BY doc_id)
           |SELECT d.doc_id,
           |  coalesce(r.clean_text, '') AS clean_text,
           |  coalesce(r.n_kept, 0) AS n_kept,
           |  len(string_split(d.text, ' ')) - coalesce(r.n_kept, 0) AS n_removed
           |FROM documents d LEFT JOIN reasm r USING (doc_id)
           |ORDER BY doc_id""".stripMargin))

  /** X1+X2+X8 END-TO-END: the calibrated near-dup scrub a production
    * training-data pipeline actually runs, as ONE oracle-checked query —
    * every knob the round-7/8 saturation audits measured, composed in
    * their production operating points: 5-gram shingles (the
    * REPRESENTATION knob — restores per-shingle selectivity on a
    * saturated corpus, 590× candidate collapse at sf1), quantile df cap
    * with floor 2 (stays LIVE as df distributions shift, never collapses
    * on a sparse universe), banded MinHash r = 2 (the S-curve crushes
    * low-Jaccard band collisions), exact-Jaccard verify on FULL sets
    * ([[DedupOps.jaccardVerifyPairs]] — cost bounded by the calibrated
    * pool, and LSH candidates never feed CC unverified: the q53 giant-
    * cluster lesson), connected components, min-id keeper per cluster,
    * reported as the per-source scrub bill (n_docs, n_dropped) a data
    * card records. */
  private val q124 = QueryDef(
    "q124_calibrated_neardup_scrub",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      // The pure-DEFAULT path: [[SharedPipelines.calibratedComps]] IS
      // CC over nearDupVerifiedPairs under CandidateGen.QuantileCapped()
      // (q=0.95, floor=2, 8 hashes, r=2) — the flagship scrub runs on
      // exactly what a caller gets without choosing anything, served from
      // the session-shared prefix the whole CC family clusters.
      val comps = SharedPipelines.calibratedComps(s, dir)
      val dropped = comps.filter(col("node") =!= col("comp"))
        .select(col("node").as("doc_id"), lit(true).as("is_dup"))
      docs.join(dropped, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), count(col("is_dup")).as("n_dropped"))
        .orderBy(col("source"))
    },
    Some(OracleSql.calibratedCompsPrefix + (""",
           |dropped AS (SELECT node AS doc_id FROM comps WHERE node <> comp)
           |SELECT d.source, count(*) AS n_docs, count(dr.doc_id) AS n_dropped
           |FROM documents d LEFT JOIN dropped dr USING (doc_id)
           |GROUP BY 1 ORDER BY 1""").stripMargin))

  /** X1 incremental dedup, Bloom-pruned (q60's recurring-ingest shape with
    * the standing-corpus probe made batch-cheap): the corpus partition's
    * full-text md5 set is distilled into a [[graft.operators.DedupOps.BloomIndex]]
    * (distributed OR-merge build, KB-sized driver sketch — the persisted
    * cross-run artifact `writeBloomIndex`/`readBloomIndex` round-trips),
    * and fresh docs bloom-negative on the codegen'd plan-literal probe are
    * admitted WITHOUT the corpus join; only the bloom-positive sliver pays
    * the exact anti-join rescan. No false negatives + rescan ⇒ the result
    * is EXACTLY the plain anti-join, which is what the oracle replays —
    * the prefilter moves work, never answers. Split is by doc_id so it is
    * orthogonal to q60's source-based split. */
  private val q143 = QueryDef(
    "q143_bloom_incremental_dedup",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("fp", md5(col("text").cast("binary")))
      val corpus = docs.filter(col("doc_id") % 10 < 8)
      val fresh = docs.filter(col("doc_id") % 10 >= 8)
      val idx = graft.operators.DedupOps.buildFingerprintBloom(corpus, col("fp"))
      val kept = graft.operators.DedupOps
        .bloomPrunedNovel(fresh, "fp", corpus, idx)
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      fresh.groupBy(col("source")).agg(count(lit(1)).as("n_new"))
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("n_new"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy(col("source"))
    },
    Some("""WITH fps AS (
           |  SELECT doc_id, source, md5(text) AS fp FROM documents),
           |corpus AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 10 < 8),
           |fresh AS (SELECT source, fp FROM fps WHERE doc_id % 10 >= 8)
           |SELECT f.source, count(*) AS n_new,
           |  CAST(sum(CASE WHEN c.fp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
           |FROM fresh f LEFT JOIN corpus c ON f.fp = c.fp
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** X1 dup-rate ESTIMATION by fingerprint-space sampling — the planning
    * instrument that sizes a 100 TB dedup run before paying for it: sample
    * 3/16 of FINGERPRINT space (the bucket is a hash OF the fp, so every
    * copy of a key lands in or out TOGETHER — doc-level sampling would
    * split dup groups and bias the estimate low) and read the dup rate off
    * the sample. The full-corpus rate sits beside it as ground truth; at
    * scale only the sampled branch runs, at 3/16 the scan+shuffle cost.
    * Near-exact key = 3-hex-char md5 prefix (12-bit space) so collision
    * mass exists at every SF. */
  private val q148 = QueryDef(
    "q148_sampled_dup_rate",
    (s, dir) => {
      val g = Tables.documents(s, dir)
        .withColumn("fp", substring(md5(col("text").cast("binary")), 1, 3))
        .withColumn("sb", substring(md5(col("fp").cast("binary")), 1, 1))
      val actual = g.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(lit(1.0) - countDistinct(col("fp")).cast("double") / count(lit(1)), 6)
            .as("dup_rate"))
      val est = g.filter(col("sb").isin("0", "1", "2"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"),
          round(lit(1.0) - countDistinct(col("fp")).cast("double") / count(lit(1)), 6)
            .as("est_dup_rate"))
      actual.join(est, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("dup_rate"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
          coalesce(col("est_dup_rate"), lit(0.0)).as("est_dup_rate"))
        .orderBy(col("source"))
    },
    Some("""WITH g AS (
           |  SELECT source, substr(md5(text), 1, 3) AS fp,
           |    substr(md5(substr(md5(text), 1, 3)), 1, 1) AS sb
           |  FROM documents),
           |a AS (
           |  SELECT source, count(*) AS n_docs,
           |    round(1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*), 6) AS dup_rate
           |  FROM g GROUP BY 1),
           |s AS (
           |  SELECT source, count(*) AS n_sampled,
           |    round(1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*), 6) AS est_dup_rate
           |  FROM g WHERE sb IN ('0', '1', '2') GROUP BY 1)
           |SELECT a.source, a.n_docs, a.dup_rate,
           |  coalesce(s.n_sampled, 0) AS n_sampled,
           |  coalesce(s.est_dup_rate, 0.0) AS est_dup_rate
           |FROM a LEFT JOIN s USING (source) ORDER BY a.source""".stripMargin))

  /** X1×X4×X7 ingest-admission funnel — the round-10 family composed end to
    * end the way a crawl batch actually flows (q124's end-to-end discipline
    * applied to ingest): (1) canonical-URL dedup collapses crawl revisits
    * ([[graft.operators.TextOps.canonicalizeUrl]], min-doc_id keeper per
    * canonical key); (2) surviving docs probe the standing corpus's Bloom
    * artifact on their NFC-canonical content fingerprint
    * ([[graft.operators.DedupOps.bloomPrunedNovel]] — encoding-provenance-
    * robust novelty, exact by construction); (3) admitted docs must pass
    * the char-entropy gate (h ≥ 4.0, gibberish screen) AND sit inside the
    * batch's robust length fence (|len − med| ≤ 3.5·MAD per source). The
    * output is the per-source funnel (fetched → URL-unique → novel →
    * admitted); every stage's SQL replay is exact, so the whole chain is
    * in the hash. Each stage is a narrow map, a bounded window, or a
    * prefilter-shrunk join — the funnel is linear at 100 TB. */
  private val q150 = QueryDef(
    "q150_ingest_admission",
    (s, dir) => {
      import graft.operators.{CurationOps, DedupOps, TextOps}
      val w = org.apache.spark.sql.expressions.Window
      val v = Tables.documents(s, dir)
        .withColumn("vtext",
          when(col("doc_id") % 2 === 0, replace(col("text"), lit("a"), lit("\u00e1")))
            .otherwise(replace(col("text"), lit("a"), lit("a\u0301"))))
        .withColumn("url", concat(
          lit("https://"), col("source"), lit(".example.com/docs/"),
          (col("doc_id") % 7).cast("string"),
          when(col("doc_id") % 3 === 1, lit("/?utm_source=f"))
            .when(col("doc_id") % 3 === 2, lit("#frag")).otherwise(lit(""))))
      val f = v
        .withColumn("fp", md5(graft.functions.GraftFunctions.nfcNormalize(col("vtext"))
          .cast("binary")))
        .withColumn("curl", TextOps.canonicalizeUrl(col("url")))
      val fresh = f.filter(col("doc_id") % 10 >= 8)
      val corpus = f.filter(col("doc_id") % 10 < 8)
      val idx = DedupOps.buildFingerprintBloom(corpus, col("fp"))
      val u = fresh
        .withColumn("rn", row_number().over(
          w.partitionBy(col("curl")).orderBy(col("doc_id"))))
        .filter(col("rn") === 1).drop("rn")
      val nov = DedupOps.bloomPrunedNovel(u, "fp", corpus, idx)
      val ent = TextOps.docCharEntropy(nov, col("doc_id"), col("text"))
      val st = CurationOps.robustOutliers(fresh, "source", col("n_chars"), 3.5)
        .select(col("source"), col("med"), col("mad"))
      val adm = nov.join(ent, Seq("doc_id")).join(broadcast(st), Seq("source"))
        .filter(col("h") >= 4.0 &&
          abs(col("n_chars") - col("med")) <= lit(3.5) * col("mad"))
      fresh.groupBy(col("source"))
        .agg(count(lit(1)).as("n_fetched"),
          countDistinct(col("curl")).as("n_url_unique"))
        .join(nov.groupBy(col("source")).agg(count(lit(1)).as("n_novel")),
          Seq("source"), "left")
        .join(adm.groupBy(col("source")).agg(count(lit(1)).as("n_admitted")),
          Seq("source"), "left")
        .select(col("source"), col("n_fetched"), col("n_url_unique"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          coalesce(col("n_admitted"), lit(0L)).as("n_admitted"))
        .orderBy(col("source"))
    },
    Some("""WITH v AS (
           |  SELECT doc_id, source, text, n_chars,
           |    CASE WHEN doc_id % 2 = 0 THEN replace(text, 'a', chr(225))
           |         ELSE replace(text, 'a', 'a' || chr(769)) END AS vtext,
           |    'https://' || source || '.example.com/docs/' || CAST(doc_id % 7 AS VARCHAR) ||
           |      CASE doc_id % 3 WHEN 1 THEN '/?utm_source=f' WHEN 2 THEN '#frag' ELSE '' END AS url
           |  FROM documents),
           |cu AS (
           |  SELECT doc_id, regexp_replace(url, '#.*$', '') AS nofrag FROM v),
           |cp AS (
           |  SELECT doc_id,
           |    lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
           |    lower(regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]+)', 1)) AS hostport,
           |    regexp_replace(regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*([^?]*)', 1), '/+$', '') AS path,
           |    regexp_extract(nofrag, '\?(.*)$', 1) AS qs
           |  FROM cu),
           |cc AS (
           |  SELECT doc_id,
           |    scheme || '://' ||
           |    CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
           |         WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
           |         ELSE hostport END || path ||
           |    CASE WHEN coalesce(array_to_string(list_sort(list_filter(string_split(qs, '&'),
           |           x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid)(=|$)'))), '&'), '') = ''
           |         THEN ''
           |         ELSE '?' || array_to_string(list_sort(list_filter(string_split(qs, '&'),
           |           x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid)(=|$)'))), '&') END AS curl
           |  FROM cp),
           |f AS (
           |  SELECT v.doc_id, v.source, v.text, v.n_chars,
           |    md5(nfc_normalize(v.vtext)) AS fp, cc.curl
           |  FROM v JOIN cc USING (doc_id)),
           |fresh AS (SELECT * FROM f WHERE doc_id % 10 >= 8),
           |corpus AS (SELECT DISTINCT fp FROM f WHERE doc_id % 10 < 8),
           |u AS (
           |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY curl ORDER BY doc_id) AS rn
           |                 FROM fresh) WHERE rn = 1),
           |nov AS (SELECT u.doc_id, u.source, u.text, u.n_chars
           |        FROM u LEFT JOIN corpus c USING (fp) WHERE c.fp IS NULL),
           |ent AS (
           |  SELECT doc_id,
           |    round(-sum((CAST(n AS DOUBLE) / tot) * log2(CAST(n AS DOUBLE) / tot)), 6) AS h
           |  FROM (SELECT doc_id, c, count(*) AS n,
           |          CAST(sum(count(*)) OVER (PARTITION BY doc_id) AS DOUBLE) AS tot
           |        FROM (SELECT doc_id, unnest(string_split_regex(text, '')) AS c FROM nov)
           |        WHERE c <> '' GROUP BY doc_id, c)
           |  GROUP BY 1),
           |st AS (SELECT source, CAST(median(n_chars) AS DOUBLE) AS med,
           |         CAST(mad(n_chars) AS DOUBLE) AS mad
           |       FROM fresh GROUP BY 1),
           |adm AS (
           |  SELECT n.source, count(*) AS n_admitted
           |  FROM nov n JOIN ent e USING (doc_id) JOIN st USING (source)
           |  WHERE e.h >= 4.0 AND abs(n.n_chars - st.med) <= 3.5 * st.mad
           |  GROUP BY 1),
           |nv AS (SELECT source, count(*) AS n_novel FROM nov GROUP BY 1)
           |SELECT fr.source, count(*) AS n_fetched,
           |  CAST(count(DISTINCT fr.curl) AS BIGINT) AS n_url_unique,
           |  coalesce(any_value(nv.n_novel), 0) AS n_novel,
           |  coalesce(any_value(adm.n_admitted), 0) AS n_admitted
           |FROM fresh fr LEFT JOIN nv USING (source) LEFT JOIN adm USING (source)
           |GROUP BY 1 ORDER BY fr.source""".stripMargin))

  /** X2 sorted-neighborhood blocking
    * ([[DedupOps.sortedNeighborhoodCandidates]]): the classic
    * entity-resolution generator beside the hash families — docs sorted
    * by length, each paired with its 7 successors in that order, then the
    * usual bounded-Levenshtein verify ([[DedupOps.editDistanceVerify]],
    * q65's stage). What the sort order buys over q65's length BANDS is
    * boundary-blindness: a near-dup pair straddling a band edge is still
    * adjacent in sorted order. Candidate volume is exactly (window−1)·N —
    * corpus-linear BY CONSTRUCTION, the only generator in the surface
    * with a closed-form pair count. The global rank is the shuffleRank
    * range-bucket construction (coarse monotone bucket n_chars DIV 8 +
    * broadcast offsets; monotonicity raise-checked in-plan), never a
    * corpus-wide window. */
  private val q160 = QueryDef(
    "q160_sorted_neighborhood",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val cands = DedupOps.sortedNeighborhoodCandidates(docs, "doc_id",
        expr("n_chars DIV 8"), col("n_chars"), window = 8)
      DedupOps.editDistanceVerify(docs, "doc_id", col("text"), cands, maxDist = 64)
        .orderBy(col("a_id"), col("b_id"))
    },
    // Oracle cost discipline (round-14, verdict #4): the r13 form
    // evaluated the full-DP levenshtein TWICE per pair (WHERE + SELECT),
    // and the whole DP stage rode the window→join pipeline, which DuckDB
    // executes near-serially — 5,110 s at a 1/16 sf10 slice, timeout at
    // 3/16. Measured decomposition on the 3/16 slice (656 k pairs): pair
    // production 13 s; the SAME DP over a materialized pair table at 32
    // threads 109 s; inside the unhinted pipeline >1,800 s. So the fix is
    // shape, not math: `AS MATERIALIZED` pins the pair CTE, the DP
    // projection parallelizes over its scan, and levenshtein is computed
    // ONCE in a named projection. Whole oracle: 296 s at 3/16. The final
    // WHERE is the exact predicate — identical rows to the r13 form,
    // proven by the unchanged hash at the driver SFs.
    Some("""WITH r AS (
           |  SELECT doc_id, text,
           |    row_number() OVER (ORDER BY n_chars, doc_id) AS rk
           |  FROM documents),
           |p AS MATERIALIZED (
           |  SELECT a.doc_id AS a_id, a.text AS a_txt, b.doc_id AS b_id, b.text AS b_txt
           |  FROM r a CROSS JOIN unnest(range(1, 8)) AS o(k) JOIN r b ON b.rk = a.rk + o.k),
           |d AS (SELECT a_id, b_id, levenshtein(a_txt, b_txt) AS ed FROM p)
           |SELECT a_id, b_id, CAST(ed AS BIGINT) AS edit_distance
           |FROM d WHERE ed <= 64
           |ORDER BY a_id, b_id""".stripMargin))

  /** X2 WEIGHTED-Jaccard near-dup ([[DedupOps.featureTfRows]] →
    * [[DedupOps.weightedExpandRows]] → [[DedupOps.nearDupCandidates]] →
    * [[DedupOps.weightedJaccardVerifyPairs]]): the multiset metric —
    * Σ min(tf) / Σ max(tf) over 5-gram FREQUENCIES — for corpora where
    * REPETITION is the signal set Jaccard discards (template spam, log
    * dumps, boilerplate with counters: a doc that repeats a passage 10×
    * and one that has it once are set-identical but multiset-distant).
    * Integer-weight expansion (sh → sh#1..sh#min(tf, 4)) reduces it to
    * set Jaccard, so the CALIBRATED generation path (quantile df cap
    * q=0.95 floor=2, 8 minhashes banded r=2) runs on multisets unchanged;
    * the verify stage scores the UNCAPPED frequencies —
    * cap-for-generation / full-for-verify, as everywhere in the family.
    * 5-gram, q124's REPRESENTATION posture, not 3: the §6.1 audit
    * measured the 3-gram universe saturating on this fixture (q120's
    * candidates ~112× at 10× docs) while the 5-gram pipeline tracks dup
    * density (~11×); the multiset variant measured the same contrast
    * (BASELINE.md q162 rows: 100× on 3-gram multisets, density-tracking
    * on 5). */
  private val q162 = QueryDef(
    "q162_weighted_jaccard",
    (s, dir) => {
      // Checkpointed once (q163's idiom, r15): the tf table feeds BOTH the
      // candidate generator and the verify stage, and since each consumer
      // prunes different columns below the aggregate's exchange, exchange
      // reuse cannot dedupe them — the profiler showed the whole
      // shingle+tf pipeline evaluated twice per run. The tf table is the
      // AGGREGATED frequency view (≤ one row per (doc, 5-gram)), far
      // smaller than the positional stream it folds.
      val tfs = Materialize.checkpoint(DedupOps.featureTfRows(TextOps.shinglePosRows(
        Tables.documents(s, dir), col("doc_id"), lit("all"), col("text"), n = 5)))
      val cands = DedupOps.nearDupCandidates(
        DedupOps.weightedExpandRows(tfs, tfCap = 4),
        DedupOps.CandidateGen.QuantileCapped(q = 0.95, floor = 2,
          numHashes = 8, rowsPerBand = 2))
      DedupOps.weightedJaccardVerifyPairs(cands, tfs.drop("bucket"),
          threshold = 0.2)
        .orderBy(col("a_id"), col("b_id"))
    },
    Some(s"""WITH shl AS (
           |  SELECT doc_id,
           |    ${OracleSql.ngramsSql(5)} AS shs
           |  FROM documents),
           |toks AS (
           |  SELECT doc_id, u.sh AS tok, count(*) AS tf
           |  FROM shl, unnest(shs) AS u(sh)
           |  GROUP BY 1, 2),
           |ex AS (
           |  SELECT doc_id, tok || '#' || i.i AS sh
           |  FROM toks, unnest(range(1, least(tf, 4) + 1)) AS i(i)),
           |${OracleSql.quantileCappedPairsCtes("ex", floor = 2, rowsPerBand = 2, capped = "exc")},
           |shared AS (
           |  SELECT p.a_id, p.b_id, CAST(sum(least(ta.tf, tb.tf)) AS BIGINT) AS w_common
           |  FROM pairs p
           |  JOIN toks ta ON ta.doc_id = p.a_id
           |  JOIN toks tb ON tb.doc_id = p.b_id AND tb.tok = ta.tok
           |  GROUP BY 1, 2),
           |lens AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS mass FROM toks GROUP BY 1)
           |SELECT p.a_id, p.b_id,
           |  COALESCE(s.w_common, 0) AS w_common,
           |  la.mass AS a_mass, lb.mass AS b_mass,
           |  ${OracleSql.setJaccardSql("COALESCE(s.w_common, 0)", "la.mass", "lb.mass")} AS w_jaccard
           |FROM pairs p
           |LEFT JOIN shared s ON s.a_id = p.a_id AND s.b_id = p.b_id
           |JOIN lens la ON la.doc_id = p.a_id
           |JOIN lens lb ON lb.doc_id = p.b_id
           |WHERE ${OracleSql.setJaccardSql("COALESCE(s.w_common, 0)", "la.mass", "lb.mass")} >= 0.2
           |ORDER BY p.a_id, p.b_id""".stripMargin))

  /** X2 blocking-strategy recall A/B — "measure, don't guess" applied to
    * the GENERATOR choice: the exact ground-truth pair set (all 5-gram
    * Jaccard ≥ 0.5 pairs, affordable because 5-gram df is discriminative —
    * the §6.1 representation finding is what makes the truth computable)
    * scored against BOTH production generators: sorted-neighborhood
    * (q160's window-8 on n_chars) and calibrated banded LSH (q124's pure
    * default). A generated pair that is in truth would pass the
    * identical-metric verify by construction (verified ⊆ truth), so
    * truth ∩ candidates IS generation recall and no verify stage runs — the number a
    * pipeline owner reads before choosing a blocking strategy, and the
    * audit that shows WHERE a sort key fails (a near-dup pair with
    * different lengths is far apart in n_chars order but still collides
    * in minhash space). One summary row; every stage a bounded
    * join/aggregate shared through one checkpointed shingle pass. */
  private val q163 = QueryDef(
    "q163_blocking_recall_ab",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      // Used by truth (both self-join sides), the LSH generator, and two
      // verifies across separate jobs — checkpoint once (exchange reuse
      // cannot fire across actions).
      val sh5 = Materialize.checkpoint(TextOps.shingleRows(docs, col("doc_id"), lit("all"),
        col("text"), n = 5))
      val truth = DedupOps.jaccardPairsFromRows(sh5)
        .filter(col("jaccard") >= 0.5).select(col("a_id"), col("b_id"))
      // No verify stage: a generated pair that is in truth passes the
      // identical-metric verify by construction (verified ⊆ truth), so
      // truth ∩ normalized-candidates IS the verified count — q164's
      // idiom, and what the oracle runs. Running jaccardVerifyPairs here
      // would pay two |candidates|×set-size joins for identical counts.
      def norm(cands: org.apache.spark.sql.DataFrame, flag: String) =
        cands.select(least(col("a_id"), col("b_id")).as("a_id"),
            greatest(col("a_id"), col("b_id")).as("b_id"))
          .distinct().withColumn(flag, lit(1L))
      val snmV = norm(DedupOps.sortedNeighborhoodCandidates(docs, "doc_id",
        expr("n_chars DIV 8"), col("n_chars"), window = 8), "snm")
      val lshV = norm(DedupOps.nearDupCandidates(sh5), "lsh")
      def recall(n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        when(col("n_true") > 0,
        round(n.cast("double") / col("n_true").cast("double"), 6))
        .otherwise(lit(0.0))
      truth.join(snmV, Seq("a_id", "b_id"), "left")
        .join(lshV, Seq("a_id", "b_id"), "left")
        .agg(count(lit(1)).as("n_true"),
          coalesce(sum(col("snm")), lit(0L)).as("n_snm"),
          coalesce(sum(col("lsh")), lit(0L)).as("n_lsh"),
          coalesce(sum(when(col("snm").isNotNull && col("lsh").isNotNull,
            lit(1L))), lit(0L)).as("n_both"))
        .withColumn("snm_recall", recall(col("n_snm")))
        .withColumn("lsh_recall", recall(col("n_lsh")))
    },
    Some(s"""WITH ${OracleSql.shingleSetsCte(5)},
           |ex0 AS (SELECT doc_id, unnest(shset) AS sh FROM sets WHERE len(shset) > 0),
           |sizes AS (SELECT doc_id, len(shset) AS setsize FROM sets WHERE len(shset) > 0),
           |jac AS (
           |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_common
           |  FROM ex0 a JOIN ex0 b ON a.sh = b.sh AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |truth AS (
           |  SELECT a_id, b_id FROM jac
           |  JOIN sizes sa ON sa.doc_id = a_id
           |  JOIN sizes sb ON sb.doc_id = b_id
           |  WHERE ${OracleSql.setJaccardSql("n_common", "sa.setsize", "sb.setsize")} >= 0.5),
           |r AS (SELECT doc_id, row_number() OVER (ORDER BY n_chars, doc_id) AS rk
           |  FROM documents),
           |snmp AS (
           |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS a_id,
           |    greatest(a.doc_id, b.doc_id) AS b_id
           |  FROM r a CROSS JOIN unnest(range(1, 8)) AS o(k) JOIN r b ON b.rk = a.rk + o.k),
           |${OracleSql.quantileCappedPairsCtes("ex0", floor = 2, rowsPerBand = 2, pairs = "lshp")},
           |agg AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_true,
           |    CAST(COALESCE(sum(CASE WHEN s.a_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_snm,
           |    CAST(COALESCE(sum(CASE WHEN p.a_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_lsh,
           |    CAST(COALESCE(sum(CASE WHEN s.a_id IS NOT NULL AND p.a_id IS NOT NULL
           |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_both
           |  FROM truth t
           |  LEFT JOIN snmp s ON s.a_id = t.a_id AND s.b_id = t.b_id
           |  LEFT JOIN lshp p ON p.a_id = t.a_id AND p.b_id = t.b_id)
           |SELECT n_true, n_snm, n_lsh, n_both,
           |  CASE WHEN n_true > 0
           |    THEN round(CAST(n_snm AS DOUBLE) / CAST(n_true AS DOUBLE), 6)
           |    ELSE 0.0 END AS snm_recall,
           |  CASE WHEN n_true > 0
           |    THEN round(CAST(n_lsh AS DOUBLE) / CAST(n_true AS DOUBLE), 6)
           |    ELSE 0.0 END AS lsh_recall
           |FROM agg""".stripMargin))

  /** X2 MULTI-PASS sorted-neighborhood (Hernández–Stolfo's fix for q163's
    * finding): SNM's recall is a property of the KEY-content correlation,
    * so the classic remedy is several passes under DIFFERENT sort keys,
    * union of windows. Measured per pass against the same exact ground
    * truth as q163: the length key collapses at density (0.027 at sf0.1)
    * while a 16-char text-prefix key holds 1.0 on this corpus (near-dup
    * copies share prefixes) — and the union is what a production
    * multi-pass run ships. Recall needs NO verify stage here: a generated
    * pair that is in truth passes the identical-metric verify by
    * construction, so |truth ∩ candidates| IS the verified count. The
    * prefix pass reuses the same monotone-bucket rank machinery with a
    * STRING key (bucket = 2-char prefix of the 16-char key — prefixes are
    * lexicographically monotone, and the in-plan raise would catch any
    * collation disagreement between engines). */
  private val q164 = QueryDef(
    "q164_snm_multipass",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val sh5 = Materialize.checkpoint(TextOps.shingleRows(docs, col("doc_id"), lit("all"),
        col("text"), n = 5))
      val truth = DedupOps.jaccardPairsFromRows(sh5)
        .filter(col("jaccard") >= 0.5).select(col("a_id"), col("b_id"))
      def norm(cands: org.apache.spark.sql.DataFrame, flag: String) =
        cands.select(least(col("a_id"), col("b_id")).as("a_id"),
            greatest(col("a_id"), col("b_id")).as("b_id"))
          .distinct().withColumn(flag, lit(1L))
      val lenPass = norm(DedupOps.sortedNeighborhoodCandidates(docs, "doc_id",
        expr("n_chars DIV 8"), col("n_chars"), window = 8), "len_pass")
      val prePass = norm(DedupOps.sortedNeighborhoodCandidates(docs, "doc_id",
        substring(col("text"), 1, 2), substring(col("text"), 1, 16),
        window = 8), "pre_pass")
      truth.join(lenPass, Seq("a_id", "b_id"), "left")
        .join(prePass, Seq("a_id", "b_id"), "left")
        .agg(count(lit(1)).as("n_true"),
          coalesce(sum(col("len_pass")), lit(0L)).as("n_len"),
          coalesce(sum(col("pre_pass")), lit(0L)).as("n_prefix"),
          coalesce(sum(when(col("len_pass").isNotNull
            || col("pre_pass").isNotNull, lit(1L))), lit(0L)).as("n_union"))
        .withColumn("union_recall", when(col("n_true") > 0,
          round(col("n_union").cast("double") / col("n_true").cast("double"), 6))
          .otherwise(lit(0.0)))
    },
    Some(s"""WITH ${OracleSql.shingleSetsCte(5)},
           |ex0 AS (SELECT doc_id, unnest(shset) AS sh FROM sets WHERE len(shset) > 0),
           |sizes AS (SELECT doc_id, len(shset) AS setsize FROM sets WHERE len(shset) > 0),
           |jac AS (
           |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_common
           |  FROM ex0 a JOIN ex0 b ON a.sh = b.sh AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |truth AS (
           |  SELECT a_id, b_id FROM jac
           |  JOIN sizes sa ON sa.doc_id = a_id
           |  JOIN sizes sb ON sb.doc_id = b_id
           |  WHERE ${OracleSql.setJaccardSql("n_common", "sa.setsize", "sb.setsize")} >= 0.5),
           |rl AS (SELECT doc_id, row_number() OVER (ORDER BY n_chars, doc_id) AS rk
           |  FROM documents),
           |lp AS (
           |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS a_id,
           |    greatest(a.doc_id, b.doc_id) AS b_id
           |  FROM rl a CROSS JOIN unnest(range(1, 8)) AS o(k) JOIN rl b ON b.rk = a.rk + o.k),
           |rp AS (SELECT doc_id,
           |    row_number() OVER (ORDER BY substr(text, 1, 16), doc_id) AS rk
           |  FROM documents),
           |pp AS (
           |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS a_id,
           |    greatest(a.doc_id, b.doc_id) AS b_id
           |  FROM rp a CROSS JOIN unnest(range(1, 8)) AS o(k) JOIN rp b ON b.rk = a.rk + o.k),
           |agg AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_true,
           |    CAST(COALESCE(sum(CASE WHEN l.a_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_len,
           |    CAST(COALESCE(sum(CASE WHEN p.a_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_prefix,
           |    CAST(COALESCE(sum(CASE WHEN l.a_id IS NOT NULL OR p.a_id IS NOT NULL
           |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_union
           |  FROM truth t
           |  LEFT JOIN lp l ON l.a_id = t.a_id AND l.b_id = t.b_id
           |  LEFT JOIN pp p ON p.a_id = t.a_id AND p.b_id = t.b_id)
           |SELECT n_true, n_len, n_prefix, n_union,
           |  CASE WHEN n_true > 0
           |    THEN round(CAST(n_union AS DOUBLE) / CAST(n_true AS DOUBLE), 6)
           |    ELSE 0.0 END AS union_recall
           |FROM agg""".stripMargin))

  /** X2 SNM under the QUANTILE range bucket
    * ([[DedupOps.rangeBucketBoundaries]] + [[DedupOps.rangeBucket]]): the
    * skew-proof form of q160's bucket — cuts at the key distribution's
    * discrete quantiles carry ~equal row mass per bucket however the key
    * concentrates, where `DIV c` collapses a concentrated key into one
    * straggler bucket. The PAIR SET is provably identical under ANY
    * monotone bucketing (the rank is the (key, id) order either way; the
    * closed form depends only on the permutation), which is exactly what
    * the oracle checks: a pure global row_number permutation, no buckets
    * at all. Candidates only — the generator stage isolated, feeding
    * q160's verify or q164's union. */
  private val q167 = QueryDef(
    "q167_snm_range_bucketed",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val cuts = DedupOps.rangeBucketBoundaries(docs, col("n_chars"), 16)
      DedupOps.sortedNeighborhoodCandidates(docs, "doc_id",
          DedupOps.rangeBucket(col("n_chars"), cuts), col("n_chars"),
          window = 8)
        .orderBy(col("a_id"), col("b_id"), col("gap"))
    },
    Some("""WITH r AS (
           |  SELECT doc_id, row_number() OVER (ORDER BY n_chars, doc_id) AS rk
           |  FROM documents)
           |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |  CAST(b.rk - a.rk AS BIGINT) AS gap
           |FROM r a CROSS JOIN unnest(range(1, 8)) AS o(k) JOIN r b ON b.rk = a.rk + o.k
           |ORDER BY a_id, b_id, gap""".stripMargin))

  /** X1 the q148 sizing instrument with an ERROR BAR
    * ([[DedupOps.sampledDupRateJackknife]]): the same 3/16 fingerprint-
    * space sample, plus a leave-one-bucket-out jackknife over the three
    * sampled sub-buckets — per-bucket (count, distinct) pairs are
    * sufficient statistics because fingerprints never straddle buckets, so
    * the standard error is closed-form arithmetic over |sources × 3| tiny
    * rows, free beyond the sampled scan. The full-corpus truth sits beside
    * the estimate (as in q148) so the checked output demonstrates the band
    * doing its job; at 100 TB only the sampled branch runs and the band
    * decides whether 3 buckets of scan were enough or more must be paid.
    * Cross-engine determinism: θ replicates are integer-derived divisions
    * (exactly rounded), the spread uses (θ−θ̄)·(θ−θ̄) multiplies instead
    * of libm pow, √ is IEEE-exact, outputs round6. */
  private val q170 = QueryDef(
    "q170_dup_rate_jackknife",
    (s, dir) => DedupOps.sampledDupRateJackknife(
        Tables.documents(s, dir)
          .withColumn("fp", substring(md5(col("text").cast("binary")), 1, 3)),
        col("source"), col("fp"), Seq("0", "1", "2"))
      .orderBy(col("source")),
    Some(jackknifeOracle))

  /** Shared by q170 (row form) and q174 (standing-histogram form): the
    * oracle ALWAYS re-derives from raw rows, so q174's hash match IS the
    * histogram ≡ rows equivalence, cross-engine — one copy, so an
    * estimator change can never fork the two checks. */
  private lazy val jackknifeOracle: String =
    ("""WITH g AS (
           |  SELECT source, substr(md5(text), 1, 3) AS fp,
           |    substr(md5(substr(md5(text), 1, 3)), 1, 1) AS sb
           |  FROM documents),
           |a AS (
           |  SELECT source, count(*) AS n_docs,
           |    round(1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*), 6) + 0.0 AS dup_rate
           |  FROM g GROUP BY 1),
           |per AS (
           |  SELECT source, sb, count(*) AS nb, count(DISTINCT fp) AS ub
           |  FROM g WHERE sb IN ('0', '1', '2') GROUP BY 1, 2),
           |th AS (
           |  SELECT source, nb, ub,
           |    sum(nb) OVER (PARTITION BY source) AS n,
           |    sum(ub) OVER (PARTITION BY source) AS u
           |  FROM per),
           |tj AS (
           |  SELECT source, n, u,
           |    CASE WHEN n > nb
           |      THEN 1.0 - CAST(u - ub AS DOUBLE) / (n - nb) END AS theta
           |  FROM th),
           |tb AS (
           |  SELECT source, n, u, theta,
           |    avg(theta) OVER (PARTITION BY source) AS tbar
           |  FROM tj),
           |e AS (
           |  SELECT source, max(n) AS n_sampled, max(u) AS us,
           |    count(theta) AS g_reps,
           |    sum((theta - tbar) * (theta - tbar)) AS ss
           |  FROM tb GROUP BY 1)
           |SELECT a.source, a.n_docs, a.dup_rate,
           |  CAST(coalesce(e.n_sampled, 0) AS BIGINT) AS n_sampled,
           |  coalesce(round(1.0 - CAST(e.us AS DOUBLE) / e.n_sampled, 6) + 0.0, 0.0) AS est_dup_rate,
           |  CAST(coalesce(e.g_reps, 0) AS BIGINT) AS g_reps,
           |  CASE WHEN coalesce(e.g_reps, 0) > 0
           |    THEN round(sqrt(CAST(e.g_reps - 1 AS DOUBLE) / e.g_reps * e.ss), 6) + 0.0
           |    ELSE 0.0 END AS jk_se
           |FROM a LEFT JOIN e USING (source) ORDER BY a.source""").stripMargin

  /** X1 the sizing instrument SERVED FROM STANDING STATE
    * ([[DedupOps.sampledDupRateJackknifeFromCounts]]): q170's estimate +
    * error bar recomputed from a (source, fingerprint, count) histogram —
    * the sum-mergeable state class a `StandingStore` maintains per
    * micro-batch, bounded by the 3/16 sampled slice of fingerprint space —
    * instead of the rows. The histogram is built in the query; the oracle
    * is LITERALLY q170's (always re-derived from raw rows), so the hash
    * match pins histogram ≡ rows for the whole estimator chain
    * cross-engine, exactly as q168 does for the robust-stats fence. At
    * 100 TB this is the difference between re-scanning 3/16 of the corpus
    * per sizing question and reading a standing table that each ingest
    * batch already pays one tiny merge to keep current. */
  private val q174 = QueryDef(
    "q174_jackknife_standing",
    (s, dir) => DedupOps.sampledDupRateJackknifeFromCounts(
        Tables.documents(s, dir)
          .withColumn("fp", substring(md5(col("text").cast("binary")), 1, 3))
          .groupBy(col("source"), col("fp")).agg(count(lit(1)).as("n")),
        col("source"), col("fp"), col("n"), Seq("0", "1", "2"))
      .orderBy(col("source")),
    Some(jackknifeOracle))

  override val defs: Seq[QueryDef] =
    Seq(q22, q23, q24, q32, q60, q65, q67, q73, q74, q75, q85, q88, q107,
      q118, q119, q120, q121, q124, q143, q148, q150, q160, q162, q163, q164,
      q167, q170, q174)
}
