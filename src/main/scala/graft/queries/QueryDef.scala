package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator instantiation: a Spark query over the testdata
  * tables plus (when ANSI-expressible) the equivalent DuckDB SQL the driver
  * uses as a correctness oracle.
  *
  * Contract (builder prompt + Verify.scala): column NAMES and types must match
  * between `spark` and `oracle` — the driver sorts columns by name before
  * hashing values. Every query is deterministically ordered (full tie-break
  * keys) so row order can never differ between engines.
  */
final case class QueryDef(
    name: String,
    spark: (SparkSession, String) => DataFrame,
    oracle: Option[String])

trait QueryGroup {
  def defs: Seq[QueryDef]
}

/** Deterministic pipeline prefixes several queries rebuild identically,
  * served once per session through [[graft.engine.Shared]]: the CC family
  * (q53/q101/q111/q171/q173/q175 over the calibrated verified near-dup
  * graph; q61/q110 over the semantic near-dup graph) otherwise re-runs the
  * same candidate generation, verification, and label propagation up to 8×
  * per bench pass. Sharing elides only the common prefix's recomputation —
  * each query's RESULT (and oracle SQL) is unchanged. Builds are
  * pre-resolved OUTSIDE the nested `cached` call (a by-name build that
  * itself entered the shared map could recurse into the backing
  * ConcurrentHashMap mid-compute). */
object SharedPipelines {
  import graft.engine.{Shared, Tables}
  import graft.operators.{DedupOps, GraphOps, SimilarityOps, TextOps}
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.functions.{col, lit}

  /** The fixed 2-plane set the bounded QUERY-side joins still key on
    * (q110's candidate pool, q112's recall audit) — query-side fan-out is
    * |queries|-bounded, not the §6.2 self-join floor. The semantic
    * SELF-join left this literal geometry in r15 ([[tunedSemanticDepth]]). */
  val semPlanes: Seq[Seq[Double]] = graft.operators.SimilarityOps.lshPlanes(2, 64)

  /** The (tables, planes) grid every LSH sweep in the similarity family
    * walks (q117/q123/q141/q169 and the shared tuned-ANN artifact). */
  val annSweepConfigs: Seq[(Int, Int)] =
    Seq((1, 2), (2, 2), (4, 2), (8, 2), (2, 4), (4, 4))

  /** 5-gram global-bucket shingle rows over `documents` — the calibrated
    * near-dup family's representation (q124's operating point: 5-gram for
    * per-shingle selectivity on a saturated corpus, one global bucket
    * because near-duplication crosses source boundaries). Cheap narrow
    * map — rebuilt per consumer, not cached. Public since r15: the pair
    * verifiers that consume [[calibratedCandidates]] (containment q75,
    * full-set Jaccard) must score over the SAME shingle stream the
    * generator saw. */
  def calibratedShingleRows(s: SparkSession, dir: String): DataFrame =
    TextOps.shingleRows(Tables.documents(s, dir),
      col("doc_id"), lit("all"), col("text"), n = 5)

  private def shingles5(s: SparkSession, dir: String): DataFrame =
    calibratedShingleRows(s, dir)

  /** The quantile-capped stream the calibrated generator actually bands
    * (the `ex` CTE of [[OracleSql.calibratedPairsCtes]]) — exposed for the
    * estimator-calibration audit (q107), whose contract is that estimator
    * and exact truth see the SAME capped universe. Same literal knobs as
    * [[DedupOps.CandidateGen.QuantileCapped]]'s default. */
  def calibratedCappedShingles(s: SparkSession, dir: String): DataFrame =
    DedupOps.capShingleDfQuantile(shingles5(s, dir), q = 0.95, floor = 2)

  /** The CALIBRATED candidate-pair pool ([[DedupOps.nearDupCandidates]]
    * under the default [[DedupOps.CandidateGen.QuantileCapped]]: 0.95
    * df-quantile cap floored at 2, 8 minhashes banded r = 2) — the
    * measured-linear generator (three decades, 5 k→500 k docs, flat
    * 0.85–0.88 recall; SURVEY §6.1). This pool feeds the exact verifiers:
    * Jaccard ([[calibratedPairs]]) and edit distance (q65). */
  def calibratedCandidates(s: SparkSession, dir: String): DataFrame =
    Shared.cached(s, s"calib-cand:$dir")(buildCalibratedCandidates(s, dir))

  /** The uncached bodies the shared builds wrap in `Shared.cached`, which
    * `graft.Diag` plans and times as `shared:<build>`. */
  private[graft] def buildCalibratedCandidates(s: SparkSession, dir: String): DataFrame =
    DedupOps.nearDupCandidates(shingles5(s, dir))

  private[graft] def buildCalibratedPairs(cand: DataFrame, s: SparkSession,
      dir: String): DataFrame =
    DedupOps.jaccardVerifyPairs(cand, shingles5(s, dir), 0.5)

  private[graft] def buildSemanticEdges(s: SparkSession, dir: String): DataFrame = {
    val p = tunedSemanticDepth(s, dir)
    DedupOps.embeddingNearDups(Tables.embeddings(s, dir), "vec_id",
      col("embedding"), col("label"), semPairThreshold,
      SimilarityOps.lshTables(semTables, p, 64))
  }

  private[graft] def buildSemanticComps(s: SparkSession, dir: String): DataFrame =
    GraphOps.connectedComponents(buildSemanticEdges(s, dir), "a_id", "b_id")

  /** The calibrated VERIFIED pair graph — [[calibratedCandidates]] passed
    * through exact full-set Jaccard ≥ 0.5 ([[DedupOps.jaccardVerifyPairs]];
    * composition bit-identical to [[DedupOps.nearDupVerifiedPairs]]): the
    * production edge set (q124's) that the whole CC family clusters.
    * LSH candidates never feed connected components unverified — the q53
    * giant-cluster lesson — so the shared graph is the verified one. */
  def calibratedPairs(s: SparkSession, dir: String): DataFrame = {
    val cand = calibratedCandidates(s, dir)
    Shared.cached(s, s"calib-pairs:$dir")(buildCalibratedPairs(cand, s, dir))
  }

  /** Connected components over [[calibratedPairs]] — the (node, comp)
    * labeling q53/q101/q171/q173/q175 and q111's full-graph oracle share. */
  def calibratedComps(s: SparkSession, dir: String): DataFrame = {
    val pairs = calibratedPairs(s, dir)
    Shared.cached(s, s"calib-cc:$dir") {
      GraphOps.connectedComponents(pairs, "a_id", "b_id")
    }
  }

  /** The STANDING labeling for the incremental/churn family (q111/q173/
    * q175): CC over the "already indexed" part of the verified pair graph
    * — every pair not touching a doc_id ≡ 0 mod 3. In a real crawl this is
    * exactly the state that exists BEFORE a batch arrives (the (node,
    * comp) table the incremental merge reads and rewrites), so serving it
    * from the session materialization is the honest model — the
    * per-invocation work the consumers then measure is the merge itself.
    * Mod 3 (not 5): the fixtures' dup groups live on ids ≡ 0 mod 5 with
    * member offsets ≡ 0 mod 20, so a %5 batch would leave the standing
    * graph EMPTY (every true pair touches a fresh doc), while offsets vary
    * mod 3 — the %3 batch yields a nonempty standing graph AND real
    * cross-batch merges, the case where component labels actually move. */
  def calibratedOldCompsMod3(s: SparkSession, dir: String): DataFrame = {
    val pairs = calibratedPairs(s, dir)
    Shared.cached(s, s"calib-oldcc3:$dir") {
      val isNew = (c: org.apache.spark.sql.Column) => c % 3 === 0
      GraphOps.connectedComponents(
        pairs.filter(!isNew(col("a_id")) && !isNew(col("b_id"))), "a_id", "b_id")
    }
  }

  /** The session's trained tuned-ANN artifact
    * ([[SimilarityOps.trainTunedAnnIndex]]: Lloyd IVF cells + the
    * recall-targeted LSH sweep under them) — train-once state a serving
    * job holds, shared so the ~6× train-vs-serve cost split is visible:
    * the bench itemizes THIS build as its own row and q169 prices only
    * the artifact round-trip + serve. Deterministic (fixed seed, rounded
    * Lloyd updates), so sharing cannot move any consumer's result. */
  def tunedAnnIndex(s: SparkSession, dir: String): SimilarityOps.AnnIndex =
    Shared.cachedValue(s, s"tuned-ann:$dir") {
      val emb = Tables.embeddings(s, dir)
      SimilarityOps.trainTunedAnnIndex(emb, "vec_id",
        col("embedding"), dim = 64, kCells = 4, lloydIters = 2,
        queries = emb.filter(col("vec_id") < 10), k = 10,
        configs = annSweepConfigs, recallTarget = 0.8)
    }

  /** The (tables, planes) grid the PAIR-geometry sweep INSTRUMENT walks
    * for the semantic near-dup family ([[graft.operators.SimilarityOps
    * .pairLshAutoTune]]) — wider than [[annSweepConfigs]] on the PLANES
    * axis because a self-join's bill shrinks exponentially in planes
    * (2^p buckets per table). The sweep MEASURES each config's pair
    * recall and pair mass on this corpus (q176 reports the table under a
    * hash oracle); the production geometry choice is the occupancy rule
    * ([[tunedSemanticDepth]]) — see that scaladoc for why a recall
    * CONTRACT at the family's wide-angle threshold cannot be held
    * sub-quadratically. */
  val semSweepConfigs: Seq[(Int, Int)] =
    Seq((1, 2), (2, 2), (4, 2), (8, 2), (1, 4), (2, 4), (4, 4), (2, 6), (4, 6))

  /** Sample size and bars of the semantic pair-sweep INSTRUMENT (q176) —
    * shared literals between the Spark pipeline and oracle SQL. The sweep
    * measures recall on the family's own threshold pairs (≥ 0.35), the
    * regime SURVEY §6.2 proves cannot be recall-contracted
    * sub-quadratically — the report is the evidence; the production choice
    * is [[tunedSemanticDepth]]. */
  val semPairThreshold: Double = 0.35
  val semPairRecallTarget: Double = 0.8
  val semPairSampleN: Long = 200L

  /** OR-table count / target bucket occupancy / depth clamp of the
    * semantic family's OCCUPANCY-PINNED geometry — shared literals between
    * [[tunedSemanticDepth]] and the q61/q110 oracle ladder. */
  val semTables: Int = 2
  val semOccupancy: Long = 32L
  val semDepthMin: Int = 2
  val semDepthMax: Int = 12

  /** The session's semantic near-dup LSH depth — the OCCUPANCY RULE
    * ([[SimilarityOps.occupancyLshDepth]]): the shallowest plane count
    * p ∈ [2, 12] with n ≤ cells · 32 · 2^p, from one (count, distinct
    * labels) aggregate (2 longs of driver state). r15 re-anchor: until
    * round 14 the semantic family rode a FIXED 2-plane literal geometry —
    * the §6.2 corpus-quadratic floor (504.3 M pair mass / 61.3 s shared
    * build at sf10, the last unquarantined default-path quadratic). The
    * occupancy rule is the embedding-space twin of the lexical family's
    * df-QUANTILE cap: both pin a RELATIVE quantity (bucket occupancy /
    * hot-shingle share) so the candidate bill stays linear in the corpus
    * by construction, instead of pinning an absolute knob that silently
    * changes meaning as the corpus grows. Recall at the family's
    * wide-angle threshold declines with depth and is MEASURED, not
    * promised ([[SimilarityOps.pairLshAutoTune]], reported by q176);
    * exact-duplicate pairs collide at every depth (identical vectors share
    * all buckets), so true-dup recall is 1.0 by construction. Beyond the
    * p = 12 clamp (n > cells · 131 k) mass grows quadratically again and
    * [[DedupOps.bucketPairMassGuard]]'s default 200 M budget — back in
    * force since r15 — prices the refusal. */
  def tunedSemanticDepth(s: SparkSession, dir: String): Int =
    Shared.cachedValue(s, s"sem-occ-depth:$dir") {
      val r = Tables.embeddings(s, dir)
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
          org.apache.spark.sql.functions.countDistinct(col("label")).as("c"))
        .head()
      Integer.valueOf(SimilarityOps.occupancyLshDepth(r.getLong(0),
        r.getLong(1), semOccupancy, semDepthMin, semDepthMax))
    }.intValue()

  /** Connected components over the embedding-cosine near-dup pair graph —
    * q61's clusters and q110's false-negative exclusion set. Candidates
    * come from the occupancy-pinned geometry ([[tunedSemanticDepth]],
    * [[semTables]] OR-tables) under the DEFAULT bucket-mass budget; every
    * pair is exact-cosine verified (≥ 0.35) before clustering. */
  def semanticComps(s: SparkSession, dir: String): DataFrame =
    Shared.cached(s, s"semantic-cc:$dir")(buildSemanticComps(s, dir))
}

/** Oracle-SQL fragments shared across query groups. ONE generator per
  * fragment that two or more oracles use, so a hashing, cap, band,
  * rounding or sweep change can never fork the oracles. New oracles
  * compose these instead of re-typing them:
  *
  *  - shingling: [[ngramsSql]] (word n-gram list), [[shingleSetsCte]]
  *    (the `sets` CTE of distinct n-grams);
  *  - near-dup candidates: [[quantileCapCtes]] (`dfs`/`thr` df-quantile
  *    cap), [[minhashBandCtes]] (md5 → (h1, h2) `hashed` → minima → band
  *    keys), [[bandPairsCte]] (band self-join), [[quantileCappedPairsCtes]]
  *    (the three composed, [[graft.operators.DedupOps.nearDupCandidates]]'s
  *    replay);
  *  - scores: [[setJaccardSql]], [[cosineSql]], [[hllEstimateSql]] (over
  *    [[hllGroupedRegsCtes]]'s registers);
  *  - graphs and splits: [[closureCtes]] (recursive min-label components),
  *    [[hashSplitSql]] (the 80/90/100 md5 split);
  *  - LSH: [[signLshBucketSql]], [[annSweepCtes]] +
  *    [[annSweepChosenSelect]] (the recall-targeted config sweep),
  *    [[pairLshSweepCtes]], [[tunedSemanticCompsPrefix]];
  *  - the calibrated near-dup prefixes: [[calibratedPairsCtes]],
  *    [[calibratedEdgesCtes]], [[calibratedCompsPrefix]] (+
  *    [[calibratedOldCompsCtes]]);
  *  - unrolled trainers: [[kmeansCtes]], [[logisticCtes]], [[bpeCtes]],
  *    [[pcaCtes]]; tokenization: [[subwordWalkSql]].
  *
  * Interpolated fragments span lines; none starts a line with `|`, so
  * the caller's `.stripMargin` leaves them intact. */
object OracleSql {

  /** The word n-gram list of the token list `toks` (by default `text`
    * split on single spaces): `n` consecutive tokens joined by one space,
    * empty when there are fewer than `n` —
    * [[graft.operators.TextOps.shingleRows]]'s representation. */
  def ngramsSql(n: Int, toks: String = "string_split(text,' ')"): String = {
    val gram = (1 to n).map(k => s"$toks[i+$k]").mkString(" || ' ' || ")
    s"""CASE WHEN len($toks) >= $n
       |      THEN list_transform(range(len($toks) - ${n - 1}),
       |        i -> $gram)
       |      ELSE [] END""".stripMargin
  }

  /** `sets(<cols>, shset)`: each row of `from` with its DISTINCT word
    * n-grams ([[ngramsSql]]). */
  def shingleSetsCte(n: Int, cols: String = "doc_id", from: String = "documents"): String =
    s"""sets AS (
       |  SELECT $cols,
       |    list_distinct(${ngramsSql(n)}) AS shset
       |  FROM $from)""".stripMargin

  /** The df-quantile hot-shingle cap ([[graft.operators.DedupOps
    * .capShingleDfQuantile]]) over `src(doc_id, sh)`: `dfs` (per-shingle
    * df), `thr` (the smallest df whose cume_dist reaches 0.95 — the
    * Spark side's distinct-df histogram cumulative — floored at `floor`)
    * and `out(doc_id, sh)`, the rows at or under it. */
  def quantileCapCtes(src: String, out: String, floor: Int): String =
    s"""dfs AS (SELECT sh, count(*) AS df FROM $src GROUP BY 1),
       |thr AS (SELECT greatest(min(df), $floor) AS t FROM (
       |  SELECT df, cume_dist() OVER (ORDER BY df) AS cd FROM dfs) WHERE cd >= 0.95),
       |$out AS (SELECT $src.doc_id, $src.sh FROM $src JOIN dfs USING (sh), thr
       |  WHERE dfs.df <= thr.t)""".stripMargin

  /** 8 Kirsch–Mitzenmacher minhashes ([[graft.operators.DedupOps
    * .minhashMinima]]) over `src(<cols>, sh)`, banded by `rowsPerBand`:
    * `hashed<tag>` — one md5 per shingle split into 40-bit (h1, h2);
    * hash j = min(h1 + j·h2). With r = 1 the minima ARE the band rows,
    * `bands<tag>(<cols>, band, h)`; with r ≥ 2 they are
    * `mh<tag>(<cols>, j, h)` and `bands<tag>(<cols>, band, bk)` carries
    * the ':'-joined decimal minima of each band, ordered by j. */
  def minhashBandCtes(src: String, rowsPerBand: Int, cols: String = "doc_id",
      tag: String = ""): String = {
    val groupBy = (1 to cols.split(",").length + 1).mkString(", ")
    def minima(name: String, idx: String) =
      s"""$name AS (
         |  SELECT $cols, j.j AS $idx, min(h1 + j.j * h2) AS h
         |  FROM hashed$tag, unnest(range(8)) AS j(j)
         |  GROUP BY $groupBy)""".stripMargin
    val hashed =
      s"""hashed$tag AS (
         |  SELECT $cols,
         |    CAST('0x' || substr(md5(sh), 1, 10) AS BIGINT) AS h1,
         |    CAST('0x' || substr(md5(sh), 11, 10) AS BIGINT) AS h2
         |  FROM $src)""".stripMargin
    if (rowsPerBand == 1) hashed + ",\n" + minima(s"bands$tag", "band")
    else
      s"""$hashed,
         |${minima(s"mh$tag", "j")},
         |bands$tag AS (
         |  SELECT $cols, j // $rowsPerBand AS band, string_agg(h::VARCHAR, ':' ORDER BY j) AS bk
         |  FROM mh$tag GROUP BY $groupBy)""".stripMargin
  }

  /** The band self-join ([[graft.operators.DedupOps]]'s `bandCollisions`):
    * doc pairs (a_id < b_id) of `bands` rows agreeing on every column of
    * `on`. DISTINCT pairs, or with `counted` one row per pair with
    * `n_shared_bands`. */
  def bandPairsCte(name: String, on: Seq[String], counted: Boolean = false): String = {
    val cond = (on.map(c => s"a.$c = b.$c") :+ "a.doc_id < b.doc_id").mkString(" AND ")
    if (counted)
      s"""$name AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared_bands
         |  FROM bands a JOIN bands b
         |    ON $cond
         |  GROUP BY 1, 2)""".stripMargin
    else
      s"""$name AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON $cond)""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.DedupOps.nearDupCandidates]] under
    * `QuantileCapped(q = 0.95, floor, numHashes = 8, rowsPerBand)` over
    * `src(doc_id, sh)`, one global bucket: [[quantileCapCtes]] into
    * `capped` → [[minhashBandCtes]] → [[bandPairsCte]] into `pairs`. */
  def quantileCappedPairsCtes(src: String, floor: Int, rowsPerBand: Int,
      pairs: String = "pairs", capped: String = "ex", counted: Boolean = false): String = {
    val key = if (rowsPerBand == 1) "h" else "bk"
    Seq(quantileCapCtes(src, capped, floor), minhashBandCtes(capped, rowsPerBand),
      bandPairsCte(pairs, Seq("band", key), counted)).mkString(",\n")
  }

  /** Set Jaccard |A∩B| / |A∪B| from the common count and both set sizes,
    * rounded 1e-6 ([[graft.operators.DedupOps.jaccardVerifyPairs]]'s
    * score; the weighted form passes multiset masses). */
  def setJaccardSql(common: String, sizeA: String, sizeB: String): String =
    s"round(CAST($common AS DOUBLE) / CAST($sizeA + $sizeB - $common AS DOUBLE), 6)"

  /** Recursive min-label closure over the undirected edge CTE `und(src,
    * dst)`: `walk<suffix>(node, comp)` reachability and
    * `comps<suffix>(node, comp)`, the component labeling
    * ([[graft.operators.GraphOps.connectedComponents]]). Needs
    * `WITH RECURSIVE`. */
  def closureCtes(und: String, suffix: String = ""): String =
    s"""walk$suffix AS (
       |  SELECT DISTINCT src AS node, src AS comp FROM $und
       |  UNION
       |  SELECT u.dst AS node, w.comp FROM walk$suffix w JOIN $und u ON u.src = w.node),
       |comps$suffix AS (SELECT node, min(comp) AS comp FROM walk$suffix GROUP BY node)""".stripMargin

  /** The deterministic train/valid/test assignment of an integer `key`
    * ([[graft.operators.CurationOps.hashSplit]] with cuts 80/90/100 over
    * the first 32 md5 bits mod 100). */
  def hashSplitSql(key: String): String = {
    val b = s"('0x' || substr(md5(CAST($key AS VARCHAR)), 1, 8))::BIGINT % 100"
    s"CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'valid' ELSE 'test' END"
  }

  /** The raw HyperLogLog estimate at p = 8 ([[graft.operators.SketchOps
    * .hllEstimate]]): α·m² · 2^53 / `harmonicFp`, where `harmonicFp` is
    * the fixed-point harmonic sum Σ 2^(53 − reg); rounded 1e-6, −0.0
    * normalized. */
  def hllEstimateSql(harmonicFp: String): String =
    s"""round((0.7213 / (1 + 1.079 / 256.0)) * 256.0 * 256.0
       |        * 9007199254740992.0 / CAST($harmonicFp AS DOUBLE), 6) + 0.0""".stripMargin

  /** The p = 8 HyperLogLog registers of `user_id` per `event_type` over
    * `events` ([[graft.operators.SketchOps.hllRegistersGrouped]]): opens
    * `WITH`, ends at `regs(g, bucket, reg)`, every (group, bucket) of the DISTINCT
    * groups × range(256) frame, empty registers 0. */
  val hllGroupedRegsCtes: String =
    """WITH hx AS (SELECT event_type AS g, md5(user_id::VARCHAR) AS h FROM events),
      |pr AS (SELECT g, ('0x' || substr(h, 1, 2))::BIGINT AS bucket,
      |    ('0x' || substr(h, 3, 13))::BIGINT AS w FROM hx),
      |rg AS (SELECT g, bucket,
      |    max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS reg
      |  FROM pr GROUP BY 1, 2),
      |frame AS (SELECT t.g, r.range AS bucket
      |  FROM (SELECT DISTINCT event_type AS g FROM events) t
      |  CROSS JOIN range(256) r),
      |regs AS (SELECT frame.g, frame.bucket, coalesce(rg.reg, 0) AS reg
      |  FROM frame LEFT JOIN rg ON frame.g = rg.g AND frame.bucket = rg.bucket)""".stripMargin

  /** DuckDB replay of the CALIBRATED candidate generator
    * ([[SharedPipelines.calibratedCandidates]] ≡ [[graft.operators.DedupOps
    * .nearDupCandidates]] under the QuantileCapped default): 5-gram global
    * shingles → 0.95 df-quantile cap floored at 2 → 8 minhashes banded
    * r = 2 → DISTINCT band-collision pairs. CTE chain ends at
    * `pairs(a_id, b_id)`; also exposes `ex0` (uncapped shingle rows),
    * `sizes` (full set sizes) for the verify stage, `ex` (the capped rows)
    * and `mh` (the minima). Consumers: q65/q75/q107/q114/q124 and the CC
    * family's closure prefix. The sf10 harness materializes these CTEs by
    * name (`scripts/build_cal_prefix.py`), so names and bodies are fixed. */
  val calibratedPairsCtes: String =
    s"""${shingleSetsCte(5)},
       |ex0 AS (SELECT doc_id, unnest(shset) AS sh FROM sets WHERE len(shset) > 0),
       |sizes AS (SELECT doc_id, len(shset) AS setsize FROM sets WHERE len(shset) > 0),
       |${quantileCappedPairsCtes("ex0", floor = 2, rowsPerBand = 2)}""".stripMargin

  /** [[calibratedPairsCtes]] + the exact full-set-Jaccard verify at 0.5
    * ([[SharedPipelines.calibratedPairs]] ≡ [[graft.operators.DedupOps
    * .jaccardVerifyPairs]]) — ends at `edges(src, dst)`, the verified
    * near-dup edge set. */
  val calibratedEdgesCtes: String = calibratedPairsCtes +
    s""",
       |cmn AS (
       |  SELECT p.a_id, p.b_id, count(*) AS n_common
       |  FROM pairs p
       |  JOIN ex0 a ON a.doc_id = p.a_id
       |  JOIN ex0 b ON b.doc_id = p.b_id AND b.sh = a.sh
       |  GROUP BY 1, 2),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM cmn
       |  JOIN sizes sa ON sa.doc_id = a_id
       |  JOIN sizes sb ON sb.doc_id = b_id
       |  WHERE ${setJaccardSql("n_common", "sa.setsize", "sb.setsize")} >= 0.5)""".stripMargin

  /** Recursive-CTE min-label closure ([[closureCtes]]) over
    * [[calibratedEdgesCtes]], ending at the `comps(node, comp)` labeling
    * ([[SharedPipelines.calibratedComps]]). Opens `WITH RECURSIVE`;
    * callers append either a final SELECT (keepers, split assignment) or
    * further CTEs after a comma. Also exposes `und` (the undirected edge
    * list) for consumers that re-close over a filtered subgraph
    * (q173/q175's standing labeling). Tractable at oracle scale because
    * reachability pairs are bounded by the VERIFIED pair graph — true
    * near-dups only, sparser than any candidate pool. */
  val calibratedCompsPrefix: String = "WITH RECURSIVE " + calibratedEdgesCtes +
    s""",
       |und AS (SELECT src, dst FROM edges UNION SELECT dst AS src, src AS dst FROM edges),
       |${closureCtes("und")}""".stripMargin

  /** After [[calibratedCompsPrefix]]: the STANDING labeling
    * ([[SharedPipelines.calibratedOldCompsMod3]]) — `und_old`, the
    * verified edges not touching a doc_id ≡ 0 mod 3, closed into
    * `comps_old(node, comp)` (q173/q175). */
  val calibratedOldCompsCtes: String =
    s"""und_old AS (SELECT src, dst FROM und WHERE src % 3 <> 0 AND dst % 3 <> 0),
       |${closureCtes("und_old", "_old")}""".stripMargin

  /** DuckDB expression equivalent to
    * [[graft.operators.SimilarityOps.signLshBucket]] over LITERAL
    * hyperplanes: bit j of the bucket is sign(v · p_j). The planes are
    * deterministic (fixed seed), so inlining their values keeps the bucket
    * function ANSI-expressible — which is what lets the LSH-bucketed queries
    * carry a hard hash oracle instead of a rows-only check. Both engines
    * accumulate the dot product left-to-right, so the sign agrees to the
    * last ulp. */
  def signLshBucketSql(vecExpr: String, planes: Seq[Seq[Double]]): String =
    planes.zipWithIndex.map { case (p, j) =>
      s"(CASE WHEN list_dot_product($vecExpr, ${p.mkString("[", ", ", "]")}) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  /** The exact-cosine expression both engines evaluate identically (one
    * dot per operand pair + two norms, rounded 1e-6). Output columns add
    * `+ 0.0` (−0.0 normalized); thresholds and rank keys use it bare. */
  def cosineSql(a: String, b: String): String =
    s"""round(list_dot_product($a, $b)
       |      / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)""".stripMargin

  /** DuckDB replay of [[graft.operators.SimilarityOps.lshAutoTune]]'s
    * recall sweep for the `qs(q_id, <cell>, q_v)` query batch over `from`
    * — a FROM item aliased `e` with (vec_id, <cell>, v):
    *
    *  - `tru` — the exact same-cell top-`k` by cosine per query;
    *  - per config i: `cfg<i>_cand` (DISTINCT candidates agreeing on any
    *    table's literal-plane bucket), `cfg<i>_ann` (their top-`k`:
    *    q_id, n_id, cosine, rank), `cfg<i>_rec` (hits against `tru`) and
    *    `cfg<i>` (n_tables, n_planes, mean_recall, candidate_pairs);
    *  - `allc` (every config's row), `flg` (+ meets_target =
    *    mean_recall ≥ `recallTarget`) and `win` (+ chosen: the cheapest
    *    meeting config by candidate pairs, ties to fewer tables, then
    *    fewer planes). */
  def annSweepCtes(configs: Seq[(Int, Int)], from: String, cell: String, k: Int,
      recallTarget: Double): String = {
    import graft.operators.SimilarityOps.lshTables
    val cos = cosineSql("e.v", "qs.q_v")
    val cfgs = configs.zipWithIndex.map { case ((t, p), i) =>
      val anyTable = lshTables(t, p, 64).map(planes =>
        s"(${signLshBucketSql("e.v", planes)})" +
          s" = (${signLshBucketSql("qs.q_v", planes)})")
        .mkString("(", "\n      OR ", ")")
      s"""cfg${i}_cand AS (
         |  SELECT DISTINCT qs.q_id, e.vec_id AS n_id
         |  FROM $from JOIN qs ON e.$cell = qs.$cell AND $anyTable
         |  WHERE e.vec_id <> qs.q_id),
         |cfg${i}_ann AS (
         |  SELECT q_id, n_id, cosine, CAST(rk AS BIGINT) AS rank FROM (
         |    SELECT c.q_id, c.n_id, $cos + 0.0 AS cosine,
         |      row_number() OVER (PARTITION BY c.q_id ORDER BY
         |        $cos DESC, c.n_id) AS rk
         |    FROM cfg${i}_cand c
         |    JOIN $from ON e.vec_id = c.n_id
         |    JOIN qs ON qs.q_id = c.q_id) WHERE rk <= $k),
         |cfg${i}_rec AS (
         |  SELECT t.q_id, count(*) AS n_truth, count(a.n_id) AS n_hit
         |  FROM tru t LEFT JOIN cfg${i}_ann a
         |    ON a.q_id = t.q_id AND a.n_id = t.n_id
         |  GROUP BY 1),
         |cfg$i AS (
         |  SELECT $t AS n_tables, $p AS n_planes,
         |    round(avg(n_hit::DOUBLE / n_truth::DOUBLE), 6) + 0.0 AS mean_recall,
         |    (SELECT count(*) FROM cfg${i}_cand) AS candidate_pairs
         |  FROM cfg${i}_rec)""".stripMargin
    }.mkString(",\n")
    val unioned = configs.indices.map(i => s"SELECT * FROM cfg$i").mkString("\n  UNION ALL ")
    s"""tru AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT qs.q_id, e.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY qs.q_id ORDER BY
       |        $cos DESC, e.vec_id) AS rk
       |    FROM $from JOIN qs ON e.$cell = qs.$cell
       |    WHERE e.vec_id <> qs.q_id) WHERE rk <= $k),
       |$cfgs,
       |allc AS ($unioned),
       |flg AS (SELECT *, mean_recall >= $recallTarget AS meets_target FROM allc),
       |win AS (SELECT *,
       |    meets_target AND row_number() OVER (ORDER BY meets_target DESC,
       |      candidate_pairs, n_tables, n_planes) = 1 AS chosen
       |  FROM flg)""".stripMargin
  }

  /** The chosen config's ANN rows after [[annSweepCtes]]: the union of
    * every `cfg<i>_ann` gated on its `win.chosen` flag, config columns
    * riding each row (q_id, n_id, cosine, rank, n_tables, n_planes). */
  def annSweepChosenSelect(configs: Seq[(Int, Int)]): String =
    configs.zipWithIndex.map { case ((t, p), i) =>
      s"""SELECT q_id, n_id, cosine, rank, $t AS n_tables, $p AS n_planes
         |  FROM cfg${i}_ann
         |  WHERE (SELECT bool_or(chosen) FROM win
         |         WHERE n_tables = $t AND n_planes = $p)""".stripMargin
    }.mkString("\n  UNION ALL ")

  /** DuckDB replay of [[graft.operators.SimilarityOps.pairLshAutoTune]] —
    * the PAIR-geometry sweep (per config: pair recall on the sampled true
    * near-dup pairs + exact bucket pair mass over the corpus) and its
    * chosen-config distillation, as CTE blocks:
    *
    *  - `e` (vec_id, label, v) over `embeddings`;
    *  - `tp` — the sampled truth pairs (vec_id < sampleN, same label,
    *    exact cosine ≥ recallBar — the contract bar, ABOVE the verify
    *    threshold);
    *  - `sbka` (cfg, tb, vec_id, label, v, bucket) — every config's
    *    bucketed corpus rows, one UNION ALL arm per (config, table) with
    *    the table's literal planes inlined;
    *  - `rec` / `mass` / `win` — per-config pair recall (vacuous 1.0 on an
    *    empty sample), Σ C(n, 2) bucket mass, and the chosen flag
    *    (cheapest-by-mass meeting `recallTarget`, ties to the lower cfg
    *    index — the Spark side's exact ordering);
    *  - `chq` (c) — the chosen cfg index; `sbkc` — the chosen config's
    *    bucketed rows, ready for the candidate self-join.
    *
    * Every figure is integer arithmetic or a single exact division, so the
    * data-dependent CHOICE hashes identically cross-engine — the q141
    * discipline extended from serving to self-join geometry. */
  def pairLshSweepCtes(configs: Seq[(Int, Int)], dim: Int, recallBar: Double,
      recallTarget: Double, sampleN: Long): String = {
    import graft.operators.SimilarityOps.lshTables
    val arms = configs.zipWithIndex.flatMap { case ((t, p), i) =>
      lshTables(t, p, dim).zipWithIndex.map { case (planes, tb) =>
        s"""SELECT $i AS cfg, $tb AS tb, vec_id, label, v,
           |    (${signLshBucketSql("v", planes)}) AS bucket FROM e""".stripMargin
      }
    }.mkString("\nUNION ALL ")
    val recArms = configs.zipWithIndex.map { case ((t, p), i) =>
      val hit = lshTables(t, p, dim).map(planes =>
        s"(${signLshBucketSql("av", planes)}) = (${signLshBucketSql("bv", planes)})")
        .mkString("(", "\n      OR ", ")")
      s"""SELECT $i AS cfg, coalesce(
         |    avg(CASE WHEN $hit THEN 1 ELSE 0 END::DOUBLE), 1.0::DOUBLE) AS pair_recall
         |  FROM tp""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |smp AS (SELECT vec_id, label, v FROM e WHERE vec_id < $sampleN),
       |tp AS (
       |  SELECT a.v AS av, b.v AS bv
       |  FROM smp a JOIN smp b ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE ${cosineSql("a.v", "b.v")} >= $recallBar),
       |sbka AS MATERIALIZED (
       |$arms),
       |rec AS ($recArms),
       |mass AS (
       |  SELECT cfg, sum(c * (c - 1) // 2) AS pair_mass FROM (
       |    SELECT cfg, tb, label, bucket, count(*) AS c
       |    FROM sbka GROUP BY 1, 2, 3, 4) GROUP BY 1),
       |win AS (
       |  SELECT r.cfg, (r.pair_recall >= $recallTarget) AS meets, m.pair_mass,
       |    (r.pair_recall >= $recallTarget) AND row_number() OVER (
       |      ORDER BY (r.pair_recall >= $recallTarget) DESC, m.pair_mass, r.cfg) = 1 AS chosen
       |  FROM rec r JOIN mass m ON m.cfg = r.cfg),
       |chq AS (SELECT min(cfg) AS c FROM win WHERE chosen),
       |sbkc AS (SELECT sbka.* FROM sbka JOIN chq ON sbka.cfg = chq.c)""".stripMargin
  }

  /** DuckDB replay of the OCCUPANCY-pinned semantic geometry
    * ([[SharedPipelines.tunedSemanticDepth]] ≡ [[graft.operators
    * .SimilarityOps.occupancyLshDepth]]) + the chosen depth's verified
    * near-dup edges and their recursive-CTE connected components — the
    * full oracle prefix of the tuned semantic family ([[SharedPipelines
    * .semanticComps]]: q61's clusters, q110's exclusion set). Opens
    * `WITH RECURSIVE`; ends at `comps(node, comp)`.
    *
    *  - `e` (vec_id, label, v); `sz` — one (n, cells) row;
    *  - `dep` — the depth choice: min p in [pMin, pMax] with
    *    n ≤ cells · occupancy · 2^p, pMax when none (integer shifts and
    *    compares only — bit-identical to the Spark rule by construction);
    *  - `sbkc` — the chosen depth's bucketed rows: one UNION ALL arm per
    *    (depth, table) with that depth's literal planes inlined, each arm
    *    gated on `dep` so only the chosen ladder rung computes buckets;
    *  - `spr`/`edges` — the [[graft.operators.DedupOps
    *    .embeddingNearDups]] self-join (distinct pairs over (table,
    *    cell, bucket) matches), exact-cosine verified at `threshold`
    *    BEFORE clustering;
    *  - `und`/`walk`/`comps` — the min-label closure. */
  def tunedSemanticCompsPrefix(tables: Int, occupancy: Long, pMin: Int,
      pMax: Int, dim: Int, threshold: Double): String = {
    import graft.operators.SimilarityOps.lshTables
    val arms = (pMin to pMax).flatMap { p =>
      lshTables(tables, p, dim).zipWithIndex.map { case (planes, tb) =>
        s"""SELECT $p AS p, $tb AS tb, vec_id, label, v,
           |    (${signLshBucketSql("v", planes)}) AS bucket FROM e
           |  WHERE (SELECT p FROM dep) = $p""".stripMargin
      }
    }.mkString("\nUNION ALL ")
    s"""WITH RECURSIVE e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |sz AS (SELECT count(*) AS n, count(DISTINCT label) AS c FROM e),
       |dep AS (
       |  SELECT coalesce(min(pp.p), $pMax) AS p
       |  FROM unnest(range($pMin, ${pMax + 1})) pp(p), sz
       |  WHERE sz.n <= sz.c * $occupancy * (1::BIGINT << pp.p)),
       |sbkc AS (
       |$arms),
       |spr AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM sbkc a JOIN sbkc b
       |    ON a.tb = b.tb AND a.label = b.label AND a.bucket = b.bucket
       |   AND a.vec_id < b.vec_id),
       |edges AS (
       |  SELECT p.a_id AS src, p.b_id AS dst
       |  FROM spr p JOIN e a ON a.vec_id = p.a_id JOIN e b ON b.vec_id = p.b_id
       |  WHERE ${cosineSql("a.v", "b.v")} >= $threshold),
       |und AS (SELECT src, dst FROM edges UNION SELECT dst AS src, src AS dst FROM edges),
       |${closureCtes("und")}""".stripMargin
  }

  /** Unrolled deterministic Lloyd's k-means as DuckDB CTE blocks — the
    * oracle for the fixed-iteration trainers (q41/q90/q95). The iteration
    * count is a literal in each query's definition, so the loop UNROLLS
    * into a linear CTE chain (no recursion needed): `<p>c0` holds the k
    * seed centroids (the k lowest-vec_id vectors — [[graft.operators
    * .SimilarityOps.kmeans]]'s deterministic seeding) as ONE row with a
    * LIST(LIST(DOUBLE)) column `cs`, and each step assigns (argmin of
    * −2·v·c + |c|², ties to the lower cluster via list_position's
    * first-occurrence rule — the engine computes the same two dot products
    * in the same left-to-right order, so scores agree to the ulp) then
    * re-averages per (cluster, dim), empty clusters keeping their
    * centroid. The per-dim means are ROUNDED (1e-6, −0.0 normalized via
    * `+ 0.0`), mirroring [[graft.operators.SimilarityOps.kmeans]]'s rounded
    * update: avg() sums floats in engine-specific order, so only rounding
    * BOTH sides makes the matching centroids (and every argmin they feed)
    * identical by construction rather than empirically at one
    * partition/thread count. Emits `<p>c0 .. <p>c<iters>`; `src` must expose
    * (vec_id, v). Compose with [[kmeansAssignSelect]] for the final
    * labeling. */
  def kmeansCtes(p: String, src: String, k: Int, iters: Int, dim: Int): String = {
    val seed = s"${p}c0 AS (SELECT list(v ORDER BY vec_id) AS cs " +
      s"FROM (SELECT vec_id, v FROM $src ORDER BY vec_id LIMIT $k))"
    val steps = (1 to iters).map { i =>
      s"""${p}a$i AS (${kmeansAssignSelect(s"${p}c${i - 1}", src)}),
         |${p}m$i AS (SELECT cluster, d.i AS dim, round(avg(v[d.i + 1]), 6) + 0.0 AS m
         |  FROM ${p}a$i, unnest(range($dim)) AS d(i) GROUP BY 1, 2),
         |${p}n$i AS (SELECT cluster, list(m ORDER BY dim) AS nc FROM ${p}m$i GROUP BY 1),
         |${p}c$i AS (SELECT list(coalesce(n.nc, cs[j.j + 1]) ORDER BY j.j) AS cs
         |  FROM ${p}c${i - 1} CROSS JOIN unnest(range($k)) AS j(j)
         |  LEFT JOIN ${p}n$i n ON n.cluster = j.j)""".stripMargin
    }
    (seed +: steps).mkString(",\n")
  }

  /** The nearest-centroid labeling of `src` (vec_id, v) against the
    * single-row centroid CTE `csCte` — one SELECT, usable as a CTE body or
    * subquery. Ties to the lower cluster id (first occurrence of the list
    * minimum), exactly the Spark side's (d, idx) struct-min rule. */
  /** The shared scored-list inner SELECT both assignment builders rank
    * over — ONE place owns the −2·v·c + |c|² expression so the
    * assignment oracle and the distance oracle cannot desynchronize. */
  private def kmeansScoredFrom(csCte: String, src: String): String =
    s"""(SELECT vec_id, v,
       |      list_transform(cs, c -> -2 * list_dot_product(v, c)
       |        + list_dot_product(c, c)) AS ds
       |    FROM $src CROSS JOIN $csCte)""".stripMargin

  def kmeansAssignSelect(csCte: String, src: String): String =
    s"""SELECT vec_id, v, list_position(ds, list_min(ds)) - 1 AS cluster
       |  FROM ${kmeansScoredFrom(csCte, src)}""".stripMargin

  /** [[kmeansAssignSelect]] plus the squared assignment distance —
    * d² = |v|² + list_min(ds), the argmin's own score with the dropped
    * |v|² added back (the [[graft.operators.SimilarityOps.cellDistortion]]
    * identity), so distance and cell come from ONE score list. Emits
    * (vec_id, cell, d2). */
  def kmeansAssignD2Select(csCte: String, src: String): String =
    s"""SELECT vec_id, list_position(ds, list_min(ds)) - 1 AS cell,
       |    list_dot_product(v, v) + list_min(ds) AS d2
       |  FROM ${kmeansScoredFrom(csCte, src)}""".stripMargin

  /** The rational-sigmoid expression over a margin expression `t` —
    * [[graft.operators.ClassifierOps.rationalSigmoid]]'s exact SQL twin
    * (÷2, abs, +, ÷, × are all IEEE-exactly-rounded, so both engines
    * produce the same double for the same `t`). */
  def rationalSigmoidSql(t: String): String =
    s"0.5 * (1 + (($t) / 2) / (1 + abs(($t) / 2)))"

  /** The margin accumulation `(((wb + z0*w0) + z1*w1) + …)` — bias first,
    * then features in index order, left-associated, mirroring
    * [[graft.operators.ClassifierOps.logisticTrainExact]]'s foldLeft so
    * every intermediate rounding step agrees cross-engine. `zTerm(i)`
    * supplies the i-th standardized feature expression. */
  def marginSql(d: Int, zTerm: Int => String, w: Int => String, wb: String): String =
    (0 until d).foldLeft(wb) { (acc, i) => s"($acc + ${zTerm(i)} * ${w(i)})" }

  /** Unrolled batch-gradient logistic training (rational link) as DuckDB
    * CTE blocks — the oracle for
    * [[graft.operators.ClassifierOps.logisticTrainExact]], the same
    * unroll-the-fixed-iteration-loop discipline as [[kmeansCtes]].
    * `featSrc` must expose (f0..f{d-1}, y with y ∈ {0.0, 1.0}). Emits:
    *
    *  - `<p>st` — one row of rounded means `m_i` and rounded floored sds
    *    `s_i` (1e-6 round + −0.0 normalize; sd floored at 1e-6), exactly
    *    the Spark side's stat aggregate;
    *  - `<p>z` — the standardized training rows;
    *  - `<p>n` — the training count as DOUBLE;
    *  - `<p>w0 .. <p>w<iters>` — the weight trajectory: each step binds
    *    the margin once (`t`), forms the rational-sigmoid residual, rounds
    *    the MEAN gradient per coordinate, and subtracts lr·g. Every float
    *    op either has identical operands in identical order (exactly
    *    rounded ⇒ bit-equal) or is immediately rounded at 1e-6 on both
    *    sides, so the trajectory matches the engine's by construction.
    *
    * Compose a scoring SELECT over `<p>st` + `<p>w<iters>` with
    * [[marginSql]] + [[rationalSigmoidSql]].
    *
    * The chain CTEs are `AS MATERIALIZED`: each `w<k>` is referenced twice
    * (by `r<k+1>` and `w<k+1>`), so DuckDB's default inlining would
    * duplicate the whole training prefix per step — 2^iters plan growth
    * (measured: 65 s plain vs 0.08 s materialized at 10 iters, sf0.01).
    * Values are unaffected; results verified identical both ways. */
  def logisticCtes(p: String, featSrc: String, d: Int, iters: Int, lr: Double): String = {
    val is = 0 until d
    val st = s"${p}st AS MATERIALIZED (SELECT " + is.map(i =>
      s"round(avg(f$i), 6) + 0.0 AS m$i, " +
        s"greatest(round(stddev_pop(f$i), 6) + 0.0, 0.000001) AS s$i")
      .mkString(", ") + s" FROM $featSrc)"
    val z = s"${p}z AS MATERIALIZED (SELECT " + is.map(i => s"(f$i - m$i) / s$i AS z$i")
      .mkString(", ") + s", y FROM $featSrc CROSS JOIN ${p}st)"
    val n = s"${p}n AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM ${p}z)"
    val w0 = s"${p}w0 AS MATERIALIZED (SELECT " + is.map(i => s"0.0 AS w$i").mkString(", ") +
      ", 0.0 AS wb)"
    val steps = (1 to iters).map { k =>
      val margin = marginSql(d, i => s"z$i", i => s"w$i", "wb")
      s"""${p}r$k AS (SELECT ${is.map(i => s"z$i").mkString(", ")},
         |    ${rationalSigmoidSql("t")} - y AS r
         |  FROM (SELECT z.*, $margin AS t FROM ${p}z z CROSS JOIN ${p}w${k - 1})),
         |${p}g$k AS MATERIALIZED (SELECT round(sum(r) / max(n), 6) + 0.0 AS gb,
         |    ${is.map(i => s"round(sum(r * z$i) / max(n), 6) + 0.0 AS g$i").mkString(", ")}
         |  FROM ${p}r$k CROSS JOIN ${p}n),
         |${p}w$k AS MATERIALIZED (SELECT ${is.map(i => s"w$i - $lr * g$i AS w$i").mkString(", ")},
         |    wb - $lr * gb AS wb
         |  FROM ${p}w${k - 1} CROSS JOIN ${p}g$k)""".stripMargin
    }
    (Seq(st, z, n, w0) ++ steps).mkString(",\n")
  }

  /** Unrolled BPE training as DuckDB CTE blocks — the oracle for
    * [[graft.operators.TextOps.bpeTrain]], completing the
    * unroll-the-fixed-iteration-loop sweep (k-means q41/q90/q95, logistic
    * q125): with the merge count a literal, the "iterative argmax" is a
    * linear CTE chain, and since BPE is ALL string/integer arithmetic
    * the match is exact with nothing to round. Emits `<p>w0 .. <p>w<K>`
    * (the (freq, syms) word table per generation, built from
    * `documents`) and `<p>t1 .. <p>t<K>` (each step's winning pair —
    * count-desc, then lexicographic (a, b), exactly the engine's
    * orderBy(desc(n), a, b).limit(1)). The re-application is the same
    * greedy left-to-right non-overlapping fold as the engine's
    * `aggregate(...)` — list_reduce needs a seed element of the
    * accumulator type, hence the prepend-empty-list-of-lists idiom.
    * MATERIALIZED for the kmeans/logistic reason: each `w<k>` is
    * referenced twice. */
  def bpeCtes(p: String, merges: Int, docsSql: String = "documents"): String = {
    val w0 = s"""${p}w0 AS MATERIALIZED (SELECT count(*) AS freq,
       |    string_split_regex(w, '') AS syms
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM $docsSql)
       |  WHERE len(w) > 0 GROUP BY w)""".stripMargin
    val steps = (1 to merges).map { k =>
      s"""${p}t$k AS MATERIALIZED (SELECT a, b, n FROM (
         |    SELECT syms[i.i + 1] AS a, syms[i.i + 2] AS b, CAST(sum(freq) AS BIGINT) AS n
         |    FROM ${p}w${k - 1}, unnest(range(len(syms) - 1)) AS i(i) GROUP BY 1, 2)
         |  ORDER BY n DESC, a, b LIMIT 1),
         |${p}w$k AS MATERIALIZED (SELECT freq,
         |    CASE WHEN t.a IS NULL THEN syms ELSE list_reduce(
         |      list_prepend([]::VARCHAR[], list_transform(syms, s -> [s])),
         |      (acc, e) -> CASE WHEN len(acc) > 0 AND acc[-1] = t.a AND e[1] = t.b
         |        THEN list_append(list_slice(acc, 1, len(acc) - 1), t.a || t.b)
         |        ELSE list_append(acc, e[1]) END) END AS syms
         |  FROM ${p}w${k - 1} LEFT JOIN ${p}t$k t ON TRUE)""".stripMargin
    }
    (w0 +: steps).mkString(",\n")
  }

  /** The merge table [[bpeCtes]] learned, in training order —
    * (rank, "left", "right", merged, n), the exact shape q96 emits. */
  def bpeMergeTableSelect(p: String, merges: Int): String = {
    val arms = (1 to merges).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS rank, a AS "left", b AS "right",
         |    a || b AS merged, n FROM ${p}t$k""".stripMargin
    }
    s"SELECT * FROM (\n${arms.mkString("\nUNION ALL ")}\n) ORDER BY rank"
  }

  /** Unrolled power iteration as DuckDB CTE blocks — the oracle for
    * [[graft.operators.SimilarityOps.powerIterationTop]]: `<p>mu` holds
    * the rounded per-dim means as one list row, `<p>v0` the e₀ seed, and
    * each step computes the centered projections, the rounded mean
    * gradient list `ul`, and the normalized next vector — u/√(Σu²) with
    * the Σ accumulated by list_dot_product in the same left-to-right
    * order the engine's fold uses, so every loading is bit-identical.
    * Degenerate u = 0 yields the zero vector on both sides. MATERIALIZED
    * for the usual unrolled-chain reason. `embeddings` must expose
    * `embedding`. */
  def powerIterationCtes(p: String, dim: Int, iters: Int): String =
    pcaCtes(p, dim, iters, k = 1)

  /** k-component generalization of [[powerIterationCtes]] with DEFLATION —
    * the oracle for [[graft.operators.SimilarityOps
    * .powerIterationComponents]]: component c's chain seeds at axis e_c
    * and, per iteration, subtracts its projection onto every final prior
    * component `<p>v<j>x<iters>` in extraction order (one chained CTE per
    * prior — dot, multiply, subtract, all exactly-rounded IEEE ops the
    * engine performs identically) before the normalize step. Emits the
    * shared `<p>src`/`<p>nn`/`<p>mu`/`<p>ctr` (centered vectors,
    * materialized once for all chains) and per component
    * `<p>v<c>x0 .. <p>v<c>x<iters>`. */
  def pcaCtes(p: String, dim: Int, iters: Int, k: Int): String = {
    val src = s"${p}src AS MATERIALIZED (SELECT embedding::DOUBLE[] AS v FROM embeddings)"
    val nn = s"${p}nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM ${p}src)"
    val mu = s"""${p}mu AS MATERIALIZED (SELECT list(m ORDER BY dim) AS mu FROM (
       |  SELECT d.i AS dim, round(avg(v[d.i + 1]), 6) + 0.0 AS m
       |  FROM ${p}src, unnest(range($dim)) AS d(i) GROUP BY 1))""".stripMargin
    val ctr = s"""${p}ctr AS MATERIALIZED (SELECT
       |    list_transform(range($dim), i -> v[i + 1] - mu[i + 1]) AS c
       |  FROM ${p}src CROSS JOIN ${p}mu)""".stripMargin
    val chains = (0 until k).flatMap { c =>
      val v0 = s"${p}v${c}x0 AS (SELECT list_transform(range($dim), " +
        s"i -> CASE WHEN i = $c THEN 1.0 ELSE 0.0 END) AS w)"
      val steps = (1 to iters).map { it =>
        val sCte = s"""${p}s${c}x$it AS MATERIALIZED (SELECT c, list_dot_product(c, w) AS s
           |  FROM ${p}ctr CROSS JOIN ${p}v${c}x${it - 1})""".stripMargin
        val uCte = s"""${p}u${c}x${it}j0 AS MATERIALIZED (SELECT list(u ORDER BY dim) AS ul FROM (
           |  SELECT d.i AS dim, round(sum(c[d.i + 1] * s) / max(n), 6) + 0.0 AS u
           |  FROM ${p}s${c}x$it CROSS JOIN ${p}nn, unnest(range($dim)) AS d(i) GROUP BY 1))""".stripMargin
        val defl = (0 until c).map { j =>
          s"""${p}u${c}x${it}j${j + 1} AS (SELECT list_transform(range($dim),
             |    i -> ul[i + 1] - list_dot_product(ul, w) * w[i + 1]) AS ul
             |  FROM ${p}u${c}x${it}j$j CROSS JOIN ${p}v${j}x$iters)""".stripMargin
        }
        val vCte = s"""${p}v${c}x$it AS MATERIALIZED (SELECT CASE WHEN list_dot_product(ul, ul) = 0
           |    THEN list_transform(range($dim), i -> 0.0)
           |    ELSE list_transform(ul, u ->
           |      round(u / sqrt(list_dot_product(ul, ul)), 6) + 0.0) END AS w
           |  FROM ${p}u${c}x${it}j$c)""".stripMargin
        (Seq(sCte, uCte) ++ defl :+ vCte).mkString(",\n")
      }
      v0 +: steps
    }
    (Seq(src, nn, mu, ctr) ++ chains).mkString(",\n")
  }

  /** Recursive-CTE reproduction of [[graft.functions.SubwordEncode]]'s
    * greedy longest-match tokenization over the SAME literal vocabulary:
    * `jp` holds, per (doc, word, char position), the longest vocab entry
    * matching there (or 1 — the char fallback), and the recursive `walk`
    * follows those jumps, emitting one row per subword in `tok`. Append a
    * final SELECT over `walk`; the whole statement must start with this
    * fragment (it opens `WITH RECURSIVE`). */
  def subwordWalkSql(vocab: Seq[String]): String = {
    val values = vocab.map(v => s"('${v.replace("'", "''")}')").mkString(", ")
    subwordWalkSqlFrom(s"vocab(v) AS (VALUES $values)")
  }

  /** [[subwordWalkSql]] with the vocabulary as an arbitrary CTE (and an
    * optional prelude of CTEs it depends on) instead of literal VALUES —
    * what lets the TRAINED-vocab pipeline (q98: [[bpeCtes]] merges → this
    * walk) carry a hash oracle end-to-end. */
  def subwordWalkSqlFrom(vocabCte: String, prelude: String = "",
      docsSql: String = "documents"): String = {
    val pre = if (prelude.nonEmpty) prelude + ",\n" else ""
    // The vocab match is an INNER theta-join on a materialized position CTE
    // (`ps`), left-joined back on plain equality keys — DuckDB rejects a
    // correlated LEFT JOIN directly against the lateral unnest.
    s"""WITH RECURSIVE $pre$vocabCte,
       |wrd AS (SELECT doc_id, i.i AS wi, string_split(text, ' ')[i.i + 1] AS w
       |  FROM $docsSql, unnest(range(len(string_split(text, ' ')))) AS i(i)),
       |ps AS (SELECT doc_id, wi, w, p.p AS pos FROM wrd, unnest(range(len(w))) AS p(p)),
       |mt AS (SELECT doc_id, wi, pos, max(len(v.v)) AS mlen
       |  FROM ps JOIN vocab v ON substr(ps.w, ps.pos + 1, len(v.v)) = v.v
       |  GROUP BY 1, 2, 3),
       |jp AS (SELECT ps.doc_id, ps.wi, ps.w, ps.pos, coalesce(mt.mlen, 1) AS jump
       |  FROM ps LEFT JOIN mt USING (doc_id, wi, pos)),
       |walk AS (
       |  SELECT jp.doc_id, jp.wi, jp.jump AS pos, substr(jp.w, 1, jp.jump) AS tok
       |  FROM jp WHERE jp.pos = 0
       |  UNION ALL
       |  SELECT j.doc_id, j.wi, wk.pos + j.jump, substr(j.w, wk.pos + 1, j.jump)
       |  FROM walk wk JOIN jp j ON j.doc_id = wk.doc_id AND j.wi = wk.wi AND j.pos = wk.pos)""".stripMargin
  }
}
