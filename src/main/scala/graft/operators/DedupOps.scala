package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Materialize

/** Deduplication operators for the training-data extension surface (builder
  * prompt; SURVEY §2.10 X1/X2): exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design: nothing here is O(n²) over the corpus. Exact/fingerprint
  * dedup is a hash aggregate; MinHash/SimHash candidate generation goes
  * through band-bucket self-joins (pairs only form inside a bucket, which
  * LSH theory keeps small); the full-Jaccard verifier joins on shared
  * shingles, never on the cross product. All hashing is md5-based so the
  * DuckDB oracle can reproduce it bit-for-bit (xxhash64 would be faster but
  * is not cross-engine).
  *
  * Pair core — one private helper per decision; new generators reuse them:
  * [[bandCollisions]] (band self-join + per-pair band count),
  * [[minhashMinima]] (md5 → (h1, h2) → per-doc minima, the one signature
  * aggregate behind [[minhashBandedRows]]), [[sizedCapped]] +
  * [[sharedShingleOverlap]] (set sizes → priced fixed cap → (bucket, sh)
  * self-join), [[simhashBandRows]] (7 × 9-bit band explode), [[pairMass]]
  * (Σ C(n,2) over groups) and [[refuseAbove]] (the priced `raise_error`).
  */
object DedupOps {

  /** X1: exact dedup — hash-groupBy on content hash; min(id) is the
    * deterministic keeper (dropDuplicates keeps an arbitrary row, which
    * would not be oracle-stable). One shuffle on the hash. */
  def exactDedupGroups(df: DataFrame, id: Column, content: Column): DataFrame =
    df.groupBy(md5(content).as("content_hash"))
      .agg(min(id).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** The LSH band self-join: (id, bucket, band, h) rows → (a_id, b_id,
    * `as`), a < b, `as` = the number of bands the pair collides on. */
  private def bandCollisions(bands: DataFrame, as: String): DataFrame = {
    val a = bands.toDF("a_id", "bucket", "band", "h")
    val b = bands.toDF("b_id", "bucket", "band", "h")
    a.join(b, Seq("bucket", "band", "h"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as(as))
  }

  /** Hot-shingle document-frequency cap: drop (bucket, sh) groups present in
    * more than `maxDf` documents BEFORE any shingle self-join. One
    * ubiquitous real-world 3-gram ("of the and") otherwise makes the shared-
    * shingle join quadratic in its df — the classic MinHash-literature
    * hardening. Recall loss is negligible: a shingle shared by thousands of
    * documents carries no near-dup signal, only join fan-out. The window's
    * (bucket, sh) hash partitioning is exactly the distribution the
    * downstream self-join requires, so the join itself adds no exchange.
    *
    * '''Measured-superlinear at scale — baseline use only.''' A FIXED
    * absolute cap changes meaning as the corpus grows: the SURVEY §6.1
    * Heaps'-law audit measured fixed-cap candidate pools growing 22–92×
    * on a 10× corpus (q22 91.5×, q73 48.6×, q23 22.4×) because global df
    * eventually crosses any fixed cut for nearly every shingle, while the
    * quantile form stayed linear (9.8×) with flat recall. New code should
    * go through [[nearDupCandidates]] (default
    * [[CandidateGen.QuantileCapped]]) or [[capShingleDfQuantile]]; this
    * form is retained as the measured baseline behind the explicit
    * [[CandidateGen.FixedCap]] opt-in and the q22/q23/q73/q78 ledger
    * rows. */
  def capShingleDf(shingles: DataFrame, maxDf: Int): DataFrame =
    capShingleDfKeep(shingles, maxDf).drop("__df")

  /** [[capShingleDf]] KEEPING the per-row group-size column `__df` — so the
    * priced pre-flight ([[subCapPairMassGuard]]) can aggregate the pair
    * mass from the rows the window already labeled instead of re-deriving
    * the shingle pipeline from scan (measured 3–7× on the guarded
    * baselines when the mass branch recomputed from scratch). */
  def capShingleDfKeep(shingles: DataFrame, maxDf: Int): DataFrame =
    shingles
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("bucket"), col("sh"))))
      .filter(col("__df") <= maxDf)

  /** Quantile-CALIBRATED df cap — the scale-robust form of [[capShingleDf]]:
    * drop (bucket, sh) groups whose document frequency exceeds the df
    * distribution's q-quantile instead of a fixed absolute cut. An absolute
    * cap silently changes meaning as the corpus grows: round 7's sf1 audit
    * measured q78's fixed df≤50 keeping ~99% of global shingles at sf0.1
    * and dropping ~96% of them at sf1 (global df had grown past the cap for
    * nearly every shingle under vocabulary saturation) — a recall collapse
    * with no error. A quantile cap keeps cutting the same SHARE of the
    * universe (the hottest 1−q) at any corpus size.
    *
    * The threshold is the DISCRETE quantile — the smallest df whose
    * cumulative share of (bucket, sh) groups reaches q — so it stays an
    * exact integer in any engine (a percentile-CONT midpoint would
    * interpolate floats and break oracle hashing). It is computed from the
    * df HISTOGRAM (groupBy(__df).count()), never by ordering the group
    * table itself: a cume_dist window over the groups would funnel the
    * entire vocabulary through ONE partition — a single-partition
    * bottleneck at exactly the exploding-vocabulary scale this operator
    * targets. The histogram is bounded by DISTINCT df values (≪ groups —
    * df is a small-integer count with a long-tail distribution), so its
    * one ordered cumulative-sum window is over a provably tiny table; both
    * aggregates before it are ordinary distributed hash aggregates.
    *
    * `floor` guards the SPARSE edge the round-8 5-gram audit measured:
    * when more than q of all groups have df = 1 (a wide-shingle universe
    * on a small corpus), the discrete quantile lands on t = 1 — and a
    * df ≤ 1 cut drops every SHARED shingle, true duplicates included
    * (candidates measured to exactly 0). The threshold never goes below
    * `floor`; the default 1 is a no-op (df ≥ 1 always), production wide-
    * shingle configs pass ≥ 2 so shared evidence always survives.
    *
    * Form choice: [[graft.engine.Materialize.isMaterialized]] (a checkpoint
    * anywhere in the input plan, a mixed union included) selects the window form. */
  def capShingleDfQuantile(shingles: DataFrame, q: Double, floor: Int = 1): DataFrame = {
    // Two physically different forms, identical results — chosen by what
    // the INPUT costs to evaluate (r16; every number below is a same-box
    // sf10 A/B, see OPTIMIZATION_r16.md):
    //
    // RAW input (the usual case — the stream is a live tokenize/explode/
    // window pipeline): checkpoint it once, df per (bucket, sh) group via
    // a plain hash aggregate (partial aggregation combines map-side, so
    // the exchange carries ~|groups| rows, not the stream), threshold from
    // the group table directly, and the filter as a LEFT SEMI join against
    // the surviving groups. No sort anywhere, one evaluation of the
    // upstream pipeline. History: the pre-r15 form evaluated the pipeline
    // TWICE (the sf0.1 cost r15 removed); the r15 one-exchange form
    // evaluated it once but SORTED the full exploded stream twice
    // (threshold + filter windows above one ReusedExchange) — fine at
    // sf0.1, 2-3× WORSE at sf10 where the double string-sort dominates
    // (r16 drift gate vs frozen r14: shared calibrated build 24 → 77 s,
    // q118 89 → 154 s; this form: 14-18 s / 80-90 s).
    //
    // ALREADY-MATERIALIZED input (the stream reads a caller checkpoint —
    // q162's tf table, q163's sh5): re-evaluating the stream is a block
    // read + narrow maps, so a second materialization only adds bytes
    // (q162's multiset expansion inflates it ~3.4 GB at sf10: the
    // checkpoint+join form measured 31-37 s vs 22 s). Keep the r15
    // one-exchange double-window form there: one shuffle, no new blocks;
    // the ordered frame pins count() to the whole group (unbounded both
    // ways), so __df is byte-identical to the unordered form, and
    // row_number = 1 picks one row per group for the histogram.
    if (Materialize.isMaterialized(shingles)) {
      val w = Window.partitionBy(col("bucket"), col("sh")).orderBy(col("doc_id"))
      val withDf = shingles
        .withColumn("__df", count(lit(1)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("__rn", row_number().over(w))
      val thr = dfQuantileThreshold(
        withDf.filter(col("__rn") === 1).select(col("__df")), q, floor)
      withDf
        .crossJoin(broadcast(thr))
        .filter(col("__df") <= col("__thr"))
        .drop("__df", "__thr", "__rn")
    } else {
      val mat = Materialize.checkpoint(shingles)
      val dfs = mat.groupBy(col("bucket"), col("sh"))
        .agg(count(lit(1)).as("__df"))
      val thr = dfQuantileThreshold(dfs.select(col("__df")), q, floor)
      val keep = dfs.crossJoin(broadcast(thr))
        .filter(col("__df") <= col("__thr"))
        .select(col("bucket"), col("sh"))
      // USING-join output leads with the join keys; restore the caller's
      // column order (downstream toDF renames are positional).
      mat.join(keep, Seq("bucket", "sh"), "left_semi")
        .select(shingles.columns.map(col): _*)
    }
  }

  /** The discrete q-quantile threshold (never below `floor`) of a `__df`
    * column, as a broadcastable 1-row (__thr) frame — the calibration
    * arithmetic of [[capShingleDfQuantile]], exposed so an INCREMENTAL
    * maintainer (a standing per-batch df-stats table in streaming — see
    * [[graft.streaming.StreamingOps]]) computes the identical threshold a
    * batch recompute over the same corpus would. Histogram-based: cost
    * bounded by DISTINCT df values, not by vocabulary size; the cumulative/
    * total arithmetic matches cume_dist exactly, so oracle hashes keyed on
    * the threshold are engine- and path-independent. */
  def dfQuantileThreshold(dfCol: DataFrame, q: Double, floor: Int): DataFrame = {
    require(q > 0 && q <= 1, s"quantile must be in (0, 1], got $q")
    require(floor >= 1, s"df floor must be >= 1, got $floor")
    val hist = dfCol.groupBy(col("__df")).agg(count(lit(1)).as("__n"))
    hist
      .withColumn("__cum", sum(col("__n")).over(Window.orderBy(col("__df"))))
      .crossJoin(broadcast(hist.agg(sum(col("__n")).as("__tot"))))
      .filter(col("__cum").cast("double") / col("__tot").cast("double") >= q)
      .agg(greatest(min(col("__df")), lit(floor.toLong)).as("__thr"))
  }

  /** The signature aggregate behind [[minhashBandedRows]]: (doc_id, bucket,
    * m0..m{numHashes−1}) over exploded (doc_id, bucket, sh) rows from
    * [[TextOps.shingleRows]], with Kirsch–Mitzenmacher hashing: ONE
    * codegen'd md5 per shingle split into two 40-bit halves (h1, h2), then
    * m_j = min(h1 + j·h2) — a plain hash aggregate. Everything stays
    * inside WholeStageCodegen (profiled 20× faster than an interpreted
    * per-j lambda-md5 signature), and 40-bit values keep h1 + 7·h2 < 2^43,
    * overflow-safe in engines that error on BIGINT overflow (DuckDB). A df
    * cap, when wanted, is the caller's ([[capShingleDf]] /
    * [[capShingleDfQuantile]] on the rows passed in). */
  private def minhashMinima(shingles: DataFrame, numHashes: Int): DataFrame = {
    val hashed = shingles
      .withColumn("h", md5(col("sh")))
      .withColumn("h1", conv(substring(col("h"), 1, 10), 16, 10).cast("long"))
      .withColumn("h2", conv(substring(col("h"), 11, 10), 16, 10).cast("long"))
    val mins = (0 until numHashes).map(j => min(col("h1") + lit(j.toLong) * col("h2")).as(s"m$j"))
    hashed.groupBy(col("doc_id"), col("bucket")).agg(mins.head, mins.tail: _*)
  }

  /** The MinHash band rows: (doc_id, bucket, band, h), one per (doc,
    * band) — the LSH "index entries" the candidate self-join
    * ([[minhashLshCandidatesBanded]]) and a standing-index probe
    * ([[incrementalLshSuspects]], the streaming suspect operators) both
    * consume. Band b bands `rowsPerBand` consecutive minhashes into ONE
    * string key `h`, the ':'-joined decimal minima — reproducible in any
    * engine with md5 + string_agg, so the query carrying it keeps a hard
    * hash oracle. r = 1 is this function too: the key is then the one
    * minimum's decimal string, so collisions are those of the long value.
    *
    * `rowsPerBand` is the SELECTIVITY knob the round-7 sf1 audit showed is
    * mandatory on self-similar corpora. With r = 1 a pair collides on a
    * band whenever ONE minhash agrees (P = j per band, j = true Jaccard),
    * and under vocabulary saturation shared hot shingles make that
    * near-certain for unrelated pairs — the audit measured 27k candidates
    * at sf0.1 / quadratic growth to sf1 on the global bucket. Banding r
    * minwise values into one key raises the per-band collision bar to ALL
    * r agreeing (P = j^r): the classic S-curve P(candidate) = 1 − (1 −
    * j^r)^b (Broder; MMDS ch.3), which crushes the low-Jaccard mass
    * (j = 0.2, r=2, b=4: 0.83 → 0.063) while keeping true near-dups
    * (j = 0.9: 1.0 → 0.98). r = 1 suits the tiny test corpus (low true
    * Jaccard); production corpora use r = 2..4.
    *
    * Plan shape at every r: one codegen'd md5 per shingle, one (doc,
    * bucket) hash aggregate for all numHashes minima, then a
    * numHashes/r-row explode — b rows per doc. */
  def minhashBandedRows(shingles: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    require(rowsPerBand >= 1 && numHashes % rowsPerBand == 0,
      s"rowsPerBand=$rowsPerBand must divide numHashes=$numHashes")
    val keys = (0 until numHashes / rowsPerBand).map { b =>
      concat_ws(":", (0 until rowsPerBand).map(i => col(s"m${b * rowsPerBand + i}")): _*)
    }
    minhashMinima(shingles, numHashes).select(col("doc_id"), col("bucket"),
      posexplode(array(keys: _*)).as(Seq("band", "h")))
  }

  /** X2 (MinHash+LSH): candidate near-dup pairs — the band self-join over
    * [[minhashBandedRows]]; candidates form only where all r minhashes of
    * some band agree inside a bucket. (a_id, b_id, n_shared_bands), a < b,
    * deterministic. */
  def minhashLshCandidatesBanded(shingles: DataFrame, numHashes: Int,
      rowsPerBand: Int): DataFrame =
    bandCollisions(minhashBandedRows(shingles, numHashes, rowsPerBand), "n_shared_bands")

  /** Default ceiling for [[subCapPairMassGuard]]: 200 M pre-aggregation
    * join rows. Calibration (round-13): q22's fixed df ≤ 50 pool measures
    * 62.6 k at sf0.1, 5.86 M at sf1 (both payable in seconds), and
    * 432.4 M at sf10 — where the isolated rerun wrote 67 GB of shuffle
    * before the disk guard killed it. 200 M sits an order of magnitude
    * above every measured-green tier and safely below the measured
    * blow-up point. */
  val DefaultPairMassBudget: Long = 200000000L

  /** Pre-flight COST refusal for fixed-df-cap pair plans (round-12 verdict
    * #2): before a shared-shingle self-join fans out, price it. The join's
    * pre-aggregation output is EXACTLY Σ C(df, 2) over surviving
    * (bucket, sh) groups — computable with one cheap aggregate over the
    * df histogram — so a plan whose fixed cap has drifted into the
    * superlinear regime (SURVEY §6.1: Σ C(df, 2) grows faster than the
    * corpus on any Zipf-tailed df distribution) raises a PRICED
    * `raise_error` naming the estimate and the budget, instead of writing
    * 67 GB of shuffle into a disk-guard kill (q22's measured sf10
    * endpoint). The same estimate upper-bounds the MinHash BAND join too:
    * a pair can only agree on a minwise value if it shares ≥ 1 surviving
    * shingle (disagreeing sets collide only at the ≈2⁻⁴⁰ hash level), so
    * band-join mass ≤ numBands × Σ C(df, 2).
    *
    * Mechanics: the input must carry the per-row group-size column
    * `dfCol` (the df window [[capShingleDfKeep]] already computes — a
    * group of df rows contributes df·(df−1)/2 pairs = Σ_rows (df−1)/2,
    * so the mass is ONE plain aggregate over already-labeled rows:
    * Σ(df−1) DIV 2), refused through [[refuseAbove]]. Aggregating from the
    * window's own output (not a fresh groupBy from scan) keeps the mass
    * branch shareable with the join sides' exchange — the first cut
    * recomputed the whole shingle pipeline for the mass and measured 3–7×
    * on the guarded baselines. `budget <= 0` disables (for call sites
    * whose mass is individually measured payable — each cites it). */
  def subCapPairMassGuard(cappedWithDf: DataFrame, maxDf: Int, budget: Long,
      site: String, dfCol: String = "__df"): DataFrame = {
    val mass = cappedWithDf
      .agg(coalesce(sum(col(dfCol) - lit(1L)), lit(0L)).as("__s"))
      .select(expr("__s DIV 2").as("__pm"))
    // The raise rides the JOIN KEY column (`sh`), never dfCol: callers drop
    // dfCol right after. `sh` survives into the self-join by construction.
    refuseAbove(cappedWithDf, mass, budget, "sh",
      s"$site: sub-cap (df <= $maxDf) shared-shingle pair mass = ",
      s" rows exceeds pairMassBudget = $budget — a FIXED df cap is" +
        " measured-superlinear at scale (SURVEY §6.1); use" +
        " CandidateGen.QuantileCapped, or raise the budget only with a" +
        " measured payable plan")
  }

  /** Σ C(n, 2) over the `groupCols` groups of `rows` — a bucket self-join's
    * exact pre-aggregation output — as a 1-row (__pm) frame; 0 when empty. */
  private[graft] def pairMass(rows: DataFrame, groupCols: Seq[String]): DataFrame =
    rows.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .agg(coalesce(sum(expr("__n * (__n - 1) DIV 2")), lit(0L)).as("__pm"))

  /** The priced refusal every pair-mass guard shares: broadcast the 1-row
    * (__pm) `mass` onto `rows`; past `budget`, `probeCol` raises `prefix` +
    * mass + `suffix` on the first row evaluated — in the map stage feeding
    * the join, before the shuffle fans out. `probeCol` must be a JOIN-KEY
    * column (a guard on a column the optimizer prunes silently vanishes).
    * `budget <= 0` disables. */
  private def refuseAbove(rows: DataFrame, mass: DataFrame, budget: Long,
      probeCol: String, prefix: String, suffix: String): DataFrame =
    if (budget <= 0L) rows
    else rows.crossJoin(broadcast(mass))
      .withColumn(probeCol, when(col("__pm") <= lit(budget), col(probeCol))
        .otherwise(raise_error(concat(lit(prefix), col("__pm").cast("string"), lit(suffix)))))
      .drop("__pm")

  /** Pre-flight COST refusal for FIXED-geometry LSH bucket self-joins
    * (round 14 — the [[subCapPairMassGuard]] discipline extended to the
    * embedding family, closing the r14 bench's two unguarded >40× rows):
    * with literal (tables, planes) the bucket space is pinned at
    * |cells|·T·2^planes groups, so bucket population grows with the corpus
    * and the self-join's pre-aggregation pair mass Σ C(n_g, 2) is
    * corpus-QUADRATIC. Measured across sf0.1/sf1/sf10 (DuckDB replay of
    * the engine's own bucket arithmetic): q32's (label × 2-plane) geometry
    * 50.5 k → 5.04 M → 504.3 M over a FIXED 40 groups; q88's two-table OR
    * 100.7 k → 10.04 M → 1.004 B over 80 — 100× per 10× step, the §6.2
    * floor shape in embedding space. [[pairMass]] over the bucketed rows
    * prices the join and [[refuseAbove]] refuses past `budget` instead of
    * fanning out. The production path at scale is the recall-targeted
    * auto-tuner ([[SimilarityOps.trainTunedAnnIndex]]/`serveAnn`), whose
    * geometry grows with the corpus. `budget <= 0` disables (measurement
    * instruments); call sites whose mass is individually measured payable
    * raise the budget citing the measurement (q32/q88/semanticComps: the
    * sf10 masses above ran to completion in 47.6 s / 103.8 s / 61.3 s in
    * `BENCH_sf10_r14.json`). */
  def bucketPairMassGuard(bucketed: DataFrame, groupCols: Seq[String],
      budget: Long, site: String, probeCol: String): DataFrame =
    refuseAbove(bucketed, pairMass(bucketed, groupCols), budget, probeCol,
      s"$site: fixed-geometry LSH bucket pair mass = ",
      s" rows exceeds bucketMassBudget = $budget — literal (tables," +
        " planes) pin the bucket space, making the self-join" +
        " corpus-quadratic (measured 100x per 10x step); use the" +
        " recall-targeted auto-tuner (trainTunedAnnIndex/serveAnn)," +
        " or raise the budget only with a measured payable plan")

  /** Candidate-generation POLICY for near-dup dedup — the API-level guard
    * that makes the measured-linear calibrated pipeline the path of least
    * resistance, after two rounds of scale audits proved the fixed-df-cap
    * forms intrinsically superlinear on realistic vocabulary
    * (SURVEY §6.1 Heaps'-law tier: on a 10× corpus the fixed-cap pools
    * grew 91.5× [q22], 48.6× [q73], 22.4× [q23], while the quantile-cap +
    * banded pipeline grew 9.8× with flat 0.85–0.88 recall at both steps).
    * Code that does not explicitly choose a policy gets
    * [[CandidateGen.QuantileCapped]]; reaching a fixed cap requires
    * constructing [[CandidateGen.FixedCap]] by name. */
  sealed trait CandidateGen
  object CandidateGen {

    /** THE DEFAULT — quantile-calibrated df cap + r-rows-per-band LSH, the
      * production pipeline (q118→q120→q124): drop the hottest 1−`q` SHARE
      * of (bucket, shingle) groups (a cut that keeps meaning the same
      * thing as the corpus grows — [[capShingleDfQuantile]]), then band
      * `numHashes` minhashes into groups of `rowsPerBand` so a candidate
      * needs ALL r minwise values of some band to agree
      * (P = 1 − (1 − j^r)^b). Measured LINEAR at both 10× fixture steps
      * on both the uniform and the Heaps'-law vocabulary tiers
      * (SURVEY §6.1; BASELINE.md round-8/9 audits). `floor` ≥ 2 keeps
      * shared evidence alive on sparse wide-shingle corpora. */
    final case class QuantileCapped(q: Double = 0.95, floor: Int = 2,
        numHashes: Int = 8, rowsPerBand: Int = 2) extends CandidateGen {
      // Fail at construction, not mid-plan: the same contracts
      // capShingleDfQuantile / minhashBandedRows enforce downstream.
      require(q > 0 && q <= 1, s"quantile must be in (0, 1], got $q")
      require(floor >= 1, s"df floor must be >= 1, got $floor")
      require(rowsPerBand >= 1 && numHashes % rowsPerBand == 0,
        s"rowsPerBand=$rowsPerBand must divide numHashes=$numHashes")
    }

    /** MEASURED-SUPERLINEAR baseline — explicit opt-in only. A fixed
      * absolute df cap silently changes meaning as the corpus grows
      * (round-7 sf1 audit: q78's df ≤ 50 kept ~99% of shingles at sf0.1,
      * dropped ~96% at sf1), and on realistic Heaps'-law vocabulary its
      * candidate pool grows superlinearly (§6.1: 22–92× on a 10× corpus)
      * because every shingle's df eventually crosses any fixed cut.
      * Retained ONLY as the measured baseline the q22/q23/q73/q78 ledger
      * rows document; do not deploy it on a growing corpus.
      *
      * `pairMassBudget` (round-12 verdict #2): the construction-time
      * refusal catches the CHOICE, but a legitimate opt-in at scale used
      * to run straight into a 67 GB shuffle and a disk-guard kill (q22's
      * measured sf10 endpoint). The policy now carries a cost ceiling —
      * [[subCapPairMassGuard]] prices the plan with one cheap aggregate
      * and raises BEFORE the join fans out. `<= 0` disables, for a call
      * site whose mass is individually measured payable. */
    final case class FixedCap(maxDf: Int, numHashes: Int = 8,
        rowsPerBand: Int = 1,
        pairMassBudget: Long = DefaultPairMassBudget) extends CandidateGen {
      require(maxDf > 0, s"FixedCap.maxDf must be positive, got $maxDf")
      // Same fail-at-construction contract as QuantileCapped — a bad
      // band shape must not surface mid-plan in minhashBandedRows.
      require(rowsPerBand >= 1 && numHashes % rowsPerBand == 0,
        s"rowsPerBand=$rowsPerBand must divide numHashes=$numHashes")
    }
  }

  /** Near-dup candidate pairs under a [[CandidateGen]] policy — the
    * front-door generator: callers that don't choose get the calibrated
    * linear path ([[CandidateGen.QuantileCapped]]), bit-identical to
    * composing [[capShingleDfQuantile]] + [[minhashLshCandidatesBanded]]
    * by hand (the q120/q124 construction). Output (a_id, b_id,
    * n_shared_bands), a < b. Feed the result to [[jaccardVerifyPairs]]
    * (or use [[nearDupVerifiedPairs]]) before any clustering — LSH
    * candidates never feed connected components unverified. */
  def nearDupCandidates(shingles: DataFrame,
      gen: CandidateGen = CandidateGen.QuantileCapped()): DataFrame = gen match {
    case CandidateGen.QuantileCapped(q, floor, numHashes, rowsPerBand) =>
      minhashLshCandidatesBanded(
        capShingleDfQuantile(shingles, q, floor), numHashes, rowsPerBand)
    case CandidateGen.FixedCap(maxDf, numHashes, rowsPerBand, budget) =>
      // Cap first, then PRICE the capped stream (the guard's Σ C(df,2)
      // upper-bounds the band join — see subCapPairMassGuard), then band.
      minhashLshCandidatesBanded(
        subCapPairMassGuard(capShingleDfKeep(shingles, maxDf), maxDf, budget,
          "nearDupCandidates(FixedCap)").drop("__df"),
        numHashes, rowsPerBand)
  }

  /** [[nearDupCandidates]] + [[jaccardVerifyPairs]] in one call — the
    * generate→verify contract as a single default-safe entry point
    * (candidate cost bounded by the calibrated generator, verify cost
    * bounded by |candidates| × avg set size, Jaccard computed on FULL
    * sets). Output: (a_id, b_id, n_common, a_size, b_size, jaccard) at or
    * above `minJaccard`. */
  def nearDupVerifiedPairs(shingles: DataFrame,
      gen: CandidateGen = CandidateGen.QuantileCapped(),
      minJaccard: Double = 0.5): DataFrame =
    jaccardVerifyPairs(nearDupCandidates(shingles, gen), shingles, minJaccard)

  /** Incremental NEAR-dup crawl dedup — the MinHash twin of the exact
    * incremental form (q60): fresh documents probe a STANDING LSH band
    * index with a LEFT SEMI join on (bucket, band, h); a fresh doc whose
    * signature collides with any indexed band on ≥1 band is a near-dup
    * SUSPECT routed to a verifier (Jaccard / edit distance), everything
    * else is admitted without ever scanning the corpus. At 100 TB the band
    * index is the only standing state (numHashes rows per corpus doc,
    * bucketable by (band, h)); per crawl batch the work is the batch's own
    * signature pass + one equi-join against the index — corpus-size-
    * independent, exactly how production crawl dedup amortizes.
    * Returns the fresh rows with an `lsh_suspect` flag. */
  def incrementalLshSuspects(freshBands: DataFrame, indexBands: DataFrame): DataFrame = {
    val suspects = freshBands.join(indexBands, Seq("bucket", "band", "h"), "left_semi")
      .select(col("doc_id")).distinct().withColumn("lsh_suspect", lit(true))
    freshBands.select(col("doc_id")).distinct()
      .join(suspects, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lsh_suspect"), lit(false)).as("lsh_suspect"))
  }

  /** X2 (n-gram Jaccard, row form — the scale path): true Jaccard from
    * exploded (doc_id, bucket, sh) rows. Pairs form only on shared shingles
    * inside a bucket (never the cross product), and the whole pipeline is
    * joins + hash aggregates — no interpreted array lambdas.
    *
    * Metric caveat when `maxDf > 0`: set sizes stay FULL-set while the
    * intersection only counts surviving (≤ maxDf) shingles, so the reported
    * jaccard is biased LOW for pairs that share hot shingles — on a skewed
    * corpus this can reorder a top-k against true Jaccard (a pair whose
    * overlap is mostly boilerplate ranks below one with the same true
    * Jaccard from rare shingles, which is usually the ranking a dedup
    * pipeline WANTS — hot-shingle overlap is the weakest dup signal). A
    * self-consistent Jaccard over the capped universe would need set sizes
    * recomputed after the cap: one extra exchange per side (doc_id window
    * after the (bucket, sh) cap window) for a metric that down-weights
    * boilerplate less. Deliberately not done; the oracle mirrors the
    * full-set-size semantics bit-for-bit. */
  def jaccardPairsFromRows(shingles: DataFrame, maxDf: Int = 0,
      pairMassBudget: Long = DefaultPairMassBudget): DataFrame =
    sharedShingleOverlap(sizedCapped(shingles, maxDf, pairMassBudget, "jaccardPairsFromRows"))
      .withColumn("jaccard", round(overlapJaccard, 6))

  /** (doc_id, bucket, sh) → (doc_id, bucket, sh, setsize), then, when
    * `maxDf > 0`, the fixed df cap with its priced pre-flight. Set size is
    * a window count per (doc_id, bucket) — the partitioning shingleRows
    * already has, so no shuffle and no `sizes` aggregate to join; per
    * bucket because a doc may appear under several buckets. The cap sits
    * AFTER the size window (sizes stay full-set; only the intersection is
    * capped) and shuffles to (bucket, sh), which the join then reuses;
    * Σ C(df,2) over the survivors IS the join's pre-aggregation row count,
    * so the refusal states the exact fan-out avoided. */
  private def sizedCapped(shingles: DataFrame, maxDf: Int, budget: Long,
      site: String): DataFrame = {
    val sized = shingles.withColumn("setsize",
      count(lit(1)).over(Window.partitionBy(col("doc_id"), col("bucket"))))
    if (maxDf > 0)
      subCapPairMassGuard(capShingleDfKeep(sized, maxDf), maxDf, budget, site).drop("__df")
    else sized
  }

  /** The shared-shingle self-join over [[sizedCapped]] rows: (a_id, b_id,
    * n_common, a_size, b_size), a < b, pairs sharing ≥ 1 (bucket, sh). Both
    * join sides are IDENTICAL subplans shuffled on (bucket, sh), so Spark's
    * exchange reuse computes the pipeline once and reads it twice. */
  private def sharedShingleOverlap(sized: DataFrame): DataFrame = {
    val a = sized.toDF("a_id", "bucket", "sh", "a_size")
    val b = sized.toDF("b_id", "bucket", "sh", "b_size")
    a.join(b, Seq("bucket", "sh"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_common"),
        max(col("a_size")).as("a_size"), max(col("b_size")).as("b_size"))
  }

  /** X2 (containment near-dup): directional shingle containment
    * |A∩B| / min(|A|,|B|) — the quote/subset detector Jaccard misses. A
    * short document fully embedded in a long one scores containment 1.0
    * while its Jaccard stays near |A|/|B| (tiny), so symmetric metrics
    * never surface partial copies; containment is the standard complement
    * (Broder's "containment" alongside "resemblance").
    *
    * Identical join core (and cost) to [[jaccardPairsFromRows]]:
    * [[sizedCapped]] + [[sharedShingleOverlap]]. The same `maxDf` caveat
    * applies: sizes stay full-set while the intersection counts surviving
    * shingles, so hot-shingle overlap is down-weighted (the direction a
    * dedup ranking wants). */
  def containmentPairs(shingles: DataFrame, maxDf: Int = 0,
      minContainment: Double = 0.0,
      pairMassBudget: Long = DefaultPairMassBudget): DataFrame =
    sharedShingleOverlap(sizedCapped(shingles, maxDf, pairMassBudget, "containmentPairs"))
      .withColumn("containment", round(overlapContainment, 6))
      .filter(col("containment") >= minContainment)

  /** Exact-Jaccard VERIFY over an EXPLICIT candidate-pair list — the stage
    * between a calibrated candidate generator (quantile-capped banded LSH)
    * and clustering. Unlike [[jaccardPairsFromRows]], which joins every
    * shared shingle corpus-wide (quadratic in per-shingle df on a
    * saturated corpus), this routes the shingle stream THROUGH the pair
    * list: cost is |candidates| × avg shingle-set size, so the verify bill
    * can never exceed what the generator was calibrated to emit — the
    * round-7 sf1 lesson (an uncalibrated 123k-pair pool honestly amplified
    * through edit-distance verify to 207 s) encoded as an operator whose
    * cost is BOUNDED BY its input.
    *
    * Jaccard is computed on the FULL (uncapped, unblocked) sets: true
    * similarity is a property of the documents, not of the blocking scheme
    * that surfaced the pair, so the df cap that bounded candidate
    * GENERATION does not bias the verdict. Output: (a_id, b_id, n_common,
    * a_size, b_size, jaccard), pairs at or above `threshold` only. */
  def jaccardVerifyPairs(cand: DataFrame, shingles: DataFrame,
      threshold: Double): DataFrame =
    pairOverlapStats(cand, shingles)
      .withColumn("jaccard", round(overlapJaccard, 6))
      .filter(col("jaccard") >= threshold)

  /** Directional-containment VERIFY over an explicit candidate-pair list —
    * |A∩B| / min(|A|, |B|) on the FULL shingle sets, cost bounded by
    * |candidates| × avg set size exactly like [[jaccardVerifyPairs]] (the
    * two verifiers share [[pairOverlapStats]], so the quote/subset metric
    * and the symmetric one can never see different sets). Re-anchors the
    * containment family off the fixed-df-cap corpus-wide join (measured
    * superlinear, SURVEY §6.1) onto whatever calibrated generator produced
    * `cand`. Recall caveat, documented not hidden: an r-rows-per-band
    * MinHash generator targets JACCARD, and a short-doc-inside-long-doc
    * pair has high containment but low Jaccard — at a fixed band shape its
    * collision odds decay with the length ratio, so a production
    * containment pass that must catch extreme-ratio embeddings pairs this
    * verifier with a 1-row-per-band pool ([[CandidateGen.QuantileCapped]]
    * `rowsPerBand = 1`) or an asymmetric generator.
    * Output: (a_id, b_id, n_common, containment) at or above
    * `minContainment`. */
  def containmentVerifyPairs(cand: DataFrame, shingles: DataFrame,
      minContainment: Double): DataFrame =
    pairOverlapStats(cand, shingles)
      .withColumn("containment", round(overlapContainment, 6))
      .filter(col("containment") >= minContainment)
      .select(col("a_id"), col("b_id"), col("n_common"), col("containment"))

  /** The shared overlap stage of the pair VERIFIERS (Jaccard /
    * containment): exact (n_common, a_size, b_size) per candidate pair,
    * with sizes taken over the same (full, distinct) shingle stream the
    * intersection is counted on.
    *
    * One row per pair MEMBER (side 0 = a, 1 = b), then ONE join against the
    * distinct shingle stream: the shingle pipeline is EVALUATED ONCE, and
    * set sizes fall out of the same joined stream (the join on doc_id alone
    * carries every shingle of each member doc, so the per-side row count IS
    * |A| / |B|) — no doc-level window, no second sizes aggregate. No
    * broadcast HINT on the member table: a calibrated pool is tiny and AQE
    * converts the join to broadcast at runtime (probe side read locally),
    * while an uncalibrated multi-million-pair pool degrades to a shuffle
    * join instead of blowing up the driver.
    *
    * Normalize the candidate list before fan-out: a duplicate pair (a
    * multi-generator union, an ungrouped edge list) or a reversed (b, a)
    * would double every per-shingle hit count — __hits === 2 then NEVER
    * matches and a true near-dup silently verifies to jaccard 0, a false
    * negative feeding the scrub. least/greatest + distinct makes the
    * operator total over any id-pair list at the cost of one exchange
    * over the (tiny) candidate ids. */
  private def pairOverlapStats(cand: DataFrame, shingles: DataFrame): DataFrame = {
    val rows = shingles.select(col("doc_id"), col("sh")).distinct()
    pairMembers(cand).join(rows, "doc_id")
      .groupBy(col("a_id"), col("b_id"), col("sh"))
      .agg(count(lit(1)).as("__hits"),
        sum(when(col("side") === 0, 1L)).as("__a1"),
        sum(when(col("side") === 1, 1L)).as("__b1"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(when(col("__hits") === 2, 1L)).as("n_common"),
        sum(col("__a1")).as("a_size"), sum(col("__b1")).as("b_size"))
  }

  /** Jaccard |A∩B| / |A∪B| and containment |A∩B| / min(|A|, |B|) over
    * (n_common, a_size, b_size) overlap rows — one definition for the
    * corpus-wide forms and the verifiers, unrounded. */
  private val overlapJaccard: Column = col("n_common").cast("double") /
    (col("a_size") + col("b_size") - col("n_common")).cast("double")
  private val overlapContainment: Column =
    col("n_common").cast("double") / least(col("a_size"), col("b_size")).cast("double")

  /** (a_id, b_id, doc_id, side) — one row per pair MEMBER (side 0 = a,
    * 1 = b) of the candidate list normalized to a < b and deduped (a
    * duplicate or reversed pair would double every per-feature count): the
    * fan-out every pair verifier joins against its feature stream. */
  private def pairMembers(cand: DataFrame): DataFrame = {
    val pairs = cand.select(
        least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
      .distinct()
    pairs.select(col("a_id"), col("b_id"), col("a_id").as("doc_id"), lit(0).as("side"))
      .union(pairs.select(col("a_id"), col("b_id"), col("b_id").as("doc_id"), lit(1).as("side")))
  }

  /** X2 (embedding-cosine near-dup): pairs whose embedding cosine meets the
    * threshold. Candidate generation is bounded by (coarse cell ×
    * sign-LSH bucket): the cell is the IVF-style quantizer / partition key,
    * and a pair is a candidate when it shares (cell, table-t bucket) for
    * ANY of the [[SimilarityOps.lshTables]] plane sets — round 1's
    * cell-only join was all-pairs within a cell (199,666 pairs at sf0.1),
    * the composed key keeps candidates density-bounded at any corpus size.
    * Per-pair recall is 1 − (1 − (1 − θ/π)^planes)^T, the production knob
    * when near-dup recall must approach exhaustive. A plane set `p` is the
    * one-table list `Seq(p)`; `lshTables(1, 0, dim)` is the cell-only
    * join. The verifier is exact cosine.
    *
    * The key is [[SimilarityOps.lshCandidateRows]]'s `tb`, so the OR stays
    * one hash equi-join; the verifier runs per match (one codegen'd
    * VecDot — a pair caught by several tables recomputes the same cheap
    * dot), the threshold filter shrinks the stream, and with T > 1 only
    * the scalar (a_id, b_id, cosine) triple passes the final dedup
    * shuffle. Candidate volume ≤ T × single-table — density-bounded (the
    * T = 2 generator's count beside q32's is recorded in BASELINE.md and
    * `SCALE_AUDIT_FINAL.jsonl`; MultiTableLshSpec pins the ≤ 2× bound). */
  def embeddingNearDups(embs: DataFrame, id: String, emb: Column, cellCol: Column,
      threshold: Double, tables: Seq[Seq[Seq[Double]]],
      bucketMassBudget: Long = DefaultPairMassBudget): DataFrame = {
    // The candidate rows feed THREE subplans — the guard's mass aggregate
    // and both self-join sides — and the guard wrapper on side `a` makes
    // the sides canonically different, so ReusedExchange can never serve
    // them: the r16 executed plan showed the embeddings scan + per-vector
    // bucket dots evaluated 3× per run. One eager checkpoint (the
    // q162 idiom — materializes INSIDE the run, guide §2.4 "share one
    // evaluation") makes all three consumers read the same blocks; the
    // rows are linear in the corpus (|vecs| × T), so the
    // materialization is the cheap side of the trade at every tier.
    val rows = Materialize.checkpoint(
      SimilarityOps.lshCandidateRows(embs, id, emb, cellCol, tables, "a_"))
    // Guard ONE side: both sides are the same row set, and Σ C(n, 2) over
    // the (cell, tb) groups IS the join's pre-dedup output size — wrapping
    // both sides would duplicate the mass aggregate + crossJoin lineage
    // into each join input.
    val a = bucketPairMassGuard(
      rows, Seq("cell", "tb"), bucketMassBudget, "embeddingNearDups", "tb")
    val b = rows.toDF("b_id", "cell", "b_v", "b_nrm", "tb")
    val pairs = a.join(b, Seq("cell", "tb"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cosine",
        SimilarityOps.pairCosine(col("a_v"), col("a_nrm"), col("b_v"), col("b_nrm")))
      .filter(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"), col("cosine"))
    if (tables.size == 1) pairs else pairs.distinct() // union of per-table candidate sets
  }

  /** X2 (SimHash): 63-bit signature (bits 0..62 from the first 16 hex
    * digits of md5(token); bit 63 stays clear so the value is positive in
    * every engine — a set sign bit would diverge between Spark's long sum
    * and DuckDB's HUGEINT-promoted sum). Bit p of the signature is the sign
    * of the ±1 vote sum over the doc's distinct tokens, where a token's vote
    * for bit p is bit (3 − p%4) of hex digit p/4 of its md5. Pure
    * relational: explode(tokens) × 16 hex digits → two hash aggregates — no
    * UDF, no interpreted lambdas, and the same arithmetic runs verbatim in
    * the oracle engine. */
  /** `carry` columns ride through the signature aggregate (each must be
    * functionally dependent on `id`, e.g. the doc's bucket) so callers don't
    * need a join to re-attach them afterwards. */
  def simhash63(docs: DataFrame, id: String, tokenSet: Column,
      carry: Seq[String] = Nil): DataFrame = {
    // One row per TOKEN: the first 16 hex digits of md5(tok) are pulled out
    // as two 32-bit halves, and the 63 bit-votes are 63 parallel sum()
    // aggregates over token rows in a single hash aggregate. The previous
    // shape exploded a row per (token, hex digit) — 16× the row volume plus
    // a second Generate and a second aggregate — for the same signature.
    // Bit p (= dpos*4 + b) of the signature votes on bit (3-b) of hex digit
    // dpos; digit dpos sits at nibble 7-dpos of h1 (dpos<8) / 15-dpos of h2.
    val keys = col(id) +: carry.map(col)
    val toks = docs.select(keys :+ explode(tokenSet).as("tok"): _*)
      .withColumn("h", md5(col("tok")))
      .withColumn("h1", conv(substring(col("h"), 1, 8), 16, 10).cast("long"))
      .withColumn("h2", conv(substring(col("h"), 9, 8), 16, 10).cast("long"))
    val voteCols = (0 until 63).map { p =>
      val dpos = p / 4
      val b = p % 4
      val src = if (dpos < 8) col("h1") else col("h2")
      val shift = (if (dpos < 8) 7 - dpos else 15 - dpos) * 4 + (3 - b)
      sum(when(shiftright(src, shift).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"v$p")
    }
    val votes = toks.groupBy(keys: _*).agg(voteCols.head, voteCols.tail: _*)
    val sig = (0 until 63).map(p => when(col(s"v$p") > 0, lit(1L << p)).otherwise(0L)).reduce(_ + _)
    votes.select(keys :+ sig.as("simhash"): _*)
  }

  /** X2 (SimHash banded candidates): near-dup pairs within `maxHamming` of
    * each other, candidate generation through 7 bands of 9 bits joined on
    * (bucket, band, bits) — never the within-bucket cross product (round
    * 1's all-pairs plan grew 6k → 622k pairs from sf0.01 → sf0.1).
    *
    * '''MEASURED-SUPERLINEAR at scale — baseline/bounded use only'''
    * (round-13 SimHash posture audit, SURVEY §6.2, settling the round-12
    * verdict #1 question). The 9-bit band space holds only 512 values, so
    * once a bucket's population n ≫ 512 the band join's pair mass acquires a
    * RANDOM-collision floor ≈ 7·C(n,2)/512 per bucket — quadratic over a
    * constant, on ANY vocabulary. Measured band-join mass Σ C(n,2):
    *
    *  - Heaps'-law 10⁶-word vocabulary: 1.46 M at 50 k docs → 146.6 M at
    *    500 k (100× on a 10× corpus — the floor, not dup density);
    *  - 31-word driver fixture: 46.7 M at 50 k → 4.69 B at 500 k (the
    *    signature collapse ON TOP of the floor — the r12 sf10 sweep's
    *    >45 GB shuffle kill);
    *  - true near-dup density grows LINEARLY on both corpora (~5% copies).
    *
    * Exact Hamming-≤6 recall REQUIRES these wide bands (pigeonhole over 7
    * disjoint bands), so the floor is intrinsic to the guarantee, not a
    * tuning miss: SimHash-banded at scale needs either bucket-population
    * control (`maxBucket` — explicit recall trade) or a sub-bucketing key,
    * and the calibrated MinHash family ([[nearDupCandidates]]) is the
    * measured-linear default for set similarity. The `bandMassBudget`
    * pre-flight prices the join and refuses past the budget, so the
    * blow-up is a stated cost, never a disk-guard kill.
    *
    * Recall is exact, not approximate: a pair with Hamming ≤ 6 has differing
    * bits in at most 6 of the 7 disjoint bands (pigeonhole), so at least one
    * band matches and the pair is generated — the result set equals the
    * all-pairs scan, which is what the oracle runs. Hamming is verified on
    * candidates only.
    *
    * `maxBucket` (0 = off) additionally caps pathological band buckets —
    * the band-join analogue of the hot-shingle df cap: a (bucket, band,
    * bits) group with > maxBucket members is dropped before the self-join,
    * bounding candidate volume at buckets·maxBucket² (linear in the corpus)
    * on adversarially self-similar data. The cost is recall: a true pair
    * whose EVERY matching band is hot is missed, so the exact-recall
    * guarantee only holds for maxBucket = 0 — which is why the
    * oracle-checked q24 runs uncapped and production corpora opt in.
    *
    * `bandMassBudget` (round-12 verdict #1): the priced pre-flight for the
    * DEGENERATE-signature case — see [[simhashBandCandidates]]. */
  def simhashNearDupsBanded(docs: DataFrame, id: String, tokenSet: Column,
      bucketCol: Column, maxHamming: Int = 6, maxBucket: Int = 0,
      bandMassBudget: Long = DefaultPairMassBudget): DataFrame = {
    require(maxHamming <= 6, "7 bands of 9 bits guarantee recall only for Hamming <= 6")
    simhashBandCandidates(docs, id, tokenSet, bucketCol, maxBucket, bandMassBudget)
      .withColumn("hamming", bit_count(col("a_sim").bitwiseXOR(col("b_sim"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** The candidate stage of [[simhashNearDupsBanded]]: distinct doc pairs
    * sharing ≥1 of the 7 9-bit bands inside a bucket, BEFORE Hamming
    * verification — the count that must grow ~linearly with the corpus,
    * not quadratically (q24 rows in BASELINE.md and
    * `SCALE_AUDIT_FINAL.jsonl`). */
  private def simhashBandCandidates(docs: DataFrame, id: String, tokenSet: Column,
      bucketCol: Column, maxBucket: Int = 0,
      bandMassBudget: Long = DefaultPairMassBudget): DataFrame = {
    val allBands = simhashBandRows(docs, id, tokenSet, bucketCol)
    // The cap's window shuffles to (bucket, band, bits) — the join's own
    // distribution, so hardening adds no exchange (same trick as the
    // shingle df cap).
    val capped = if (maxBucket > 0) {
      allBands.withColumn("__n",
          count(lit(1)).over(Window.partitionBy(col("bucket"), col("band"), col("bits"))))
        .filter(col("__n") <= maxBucket).drop("__n")
    } else allBands
    // Priced pre-flight for the DEGENERATE-signature regime (round-12
    // verdict #1, see simhashNearDupsBanded): near-identical signatures
    // collapse band buckets into a few giant groups (the r12 sf10 sweep:
    // >45 GB of shuffle on the 31-word fixture). The join's
    // pre-aggregation output is EXACTLY Σ C(n,2) over (bucket, band, bits)
    // groups, so the blow-up is refused by PRICE before the shuffle fans
    // out; on a Heaps'-law vocabulary it tracks near-dup density.
    val bands = refuseAbove(capped, pairMass(capped, Seq("bucket", "band", "bits")),
      bandMassBudget, "bits", "simhashBandCandidates: band-join pair mass = ",
      s" rows exceeds bandMassBudget = $bandMassBudget — the" +
        " signature space has collapsed into degenerate band buckets" +
        " (near-identical token sets on a tiny vocabulary); cap" +
        " buckets via maxBucket (documented recall trade) or widen" +
        " the token representation")
    // Both sides are the identical subplan shuffled on (bucket, band, bits):
    // exchange reuse computes the signature pipeline once.
    val a = bands.toDF("a_id", "bucket", "a_sim", "band", "bits")
    val b = bands.toDF("b_id", "bucket", "b_sim", "band", "bits")
    a.join(b, Seq("bucket", "band", "bits"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id")) // a pair may share several bands
      .agg(max(col("a_sim")).as("a_sim"), max(col("b_sim")).as("b_sim"))
  }

  /** The SimHash band rows of [[simhashBandCandidates]]: (id, bucket,
    * simhash, band, bits), one row per doc and each of the 7 disjoint
    * 9-bit bands. `bucket` rides through the signature aggregate
    * (functionally dependent on the doc id) — no join to re-attach it. */
  private def simhashBandRows(docs: DataFrame, id: String, tokenSet: Column,
      bucketCol: Column): DataFrame =
    simhash63(docs.withColumn("bucket", bucketCol), id, tokenSet, Seq("bucket"))
      .select(col(id), col("bucket"), col("simhash"),
        posexplode(array((0 until 7).map(j => expr(s"(simhash >> ${9 * j}) & 511")): _*))
          .as(Seq("band", "bits")))

  /** X2 (edit distance): pairs within `maxDist` Levenshtein operations,
    * entity-resolution style. Candidates are blocked on (`blockCol` ×
    * token-count band): a pair within `maxTokDiff` whitespace tokens lands
    * in the same or an adjacent band of width `maxTokDiff`, so the probe
    * side expands each document to its three neighboring band keys
    * (`explode` of 3 rows — constant fan-out) and the join stays equi-key;
    * a pair matches exactly once because the build side's band is a single
    * value. The verifier is Spark's codegen'd `levenshtein` WITH the
    * threshold argument — O(maxDist · min(len)) banded DP with early exit,
    * not the full O(len²) matrix, which is the difference between a
    * verifier and a time bomb on book-length documents. Token-count
    * banding is a NECESSARY condition only in the whitespace-token metric;
    * the length filter |ntok_a − ntok_b| ≤ maxTokDiff is re-checked
    * exactly, and production stacks more blocking keys (fingerprint
    * prefixes, MinHash bands) in OR the same way LSH tables stack. */
  def editDistancePairs(docs: DataFrame, id: String, text: Column, blockCol: Column,
      maxTokDiff: Int = 8, maxDist: Int = 60): DataFrame = {
    require(maxTokDiff > 0 && maxDist >= 0, "maxTokDiff must be positive, maxDist non-negative")
    val d = docs.select(col(id).as("doc_id"), blockCol.as("blk"), text.as("txt"))
      .withColumn("ntok", size(split(col("txt"), " ")).cast("long"))
      .withColumn("band", expr(s"ntok div $maxTokDiff"))
    val probe = d.select(col("doc_id").as("a_id"), col("blk"),
        col("txt").as("a_txt"), col("ntok").as("a_ntok"),
        explode(array(col("band") - 1, col("band"), col("band") + 1)).as("band"))
    val build = d.select(col("doc_id").as("b_id"), col("blk"),
      col("txt").as("b_txt"), col("ntok").as("b_ntok"), col("band"))
    probe.join(build, Seq("blk", "band"))
      .filter(col("a_id") < col("b_id"))
      .filter(abs(col("a_ntok") - col("b_ntok")) <= maxTokDiff)
      .withColumn("edit_distance",
        graft.functions.GraftFunctions
          .levenshteinBounded(col("a_txt"), col("b_txt"), maxDist).cast("long"))
      .filter(col("edit_distance") >= 0) // threshold form returns -1 above maxDist
      .select(col("a_id"), col("b_id"), col("edit_distance"))
  }

  /** Edit-distance VERIFIER over an arbitrary candidate pair list — the
    * composition a production pipeline runs: a recall-tuned generator
    * (MinHash-LSH bands, [[minhashLshCandidatesBanded]]) bounds the pair
    * volume by near-dup density, then each candidate pays one
    * threshold-bounded `levenshtein` (banded DP, early exit). Length-band
    * blocking ([[editDistancePairs]]) is complete for the token metric but
    * all-pairs WITHIN a band — verifying every same-length pair of a
    * billion-doc band is the quadratic trap; LSH blocking is probabilistic
    * but density-bounded at any corpus size (recall per band stack
    * documented on the generator). Texts join candidates by id twice —
    * id→text lookups, never text×text. */
  def editDistanceVerify(docs: DataFrame, id: String, text: Column,
      candidates: DataFrame, maxDist: Int): DataFrame = {
    val d = docs.select(col(id).as("__id"), text.as("__txt"))
    // Spread the candidate list across the cluster BEFORE attaching texts
    // (r15, guide §2.5/§8): the pair list is a few BYTES per row but each
    // pair costs an O(maxDist·len) banded DP — the extreme compute-per-byte
    // regime where AQE's byte-based coalescing is exactly wrong (measured:
    // q160's entire 2.2 s DP stage ran in ONE task behind a 50 KB shuffle).
    // An explicit numPartitions repartition is exempt from AQE coalescing,
    // so the DP inherits full parallelism; only (a_id, b_id) ids cross the
    // exchange — texts attach afterwards (broadcast/equi-join), so the
    // payload never moves twice. defaultParallelism scales with the
    // cluster, not a literal.
    candidates.select(col("a_id"), col("b_id"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .join(d.select(col("__id").as("a_id"), col("__txt").as("a_txt")), "a_id")
      .join(d.select(col("__id").as("b_id"), col("__txt").as("b_txt")), "b_id")
      // Exact prefilter, result-identical: |len(a) − len(b)| lower-bounds
      // the edit distance, so pairs it excludes could only have produced
      // a -1 from the thresholded levenshtein anyway — at the cost of two
      // length reads instead of a banded DP.
      .filter(abs(length(col("a_txt")) - length(col("b_txt"))) <= maxDist)
      .withColumn("edit_distance",
        graft.functions.GraftFunctions
          .levenshteinBounded(col("a_txt"), col("b_txt"), maxDist).cast("long"))
      .filter(col("edit_distance") >= 0)
      .select(col("a_id"), col("b_id"), col("edit_distance"))
  }

  /** X2 (weighted sparse similarity): idf-weighted shingle-cosine pairs —
    * the TF-IDF-vector-space twin of [[jaccardPairsFromRows]]'s set
    * similarity. Over DISTINCT per-doc shingles (tf = 1), a document is the
    * sparse vector (shingle → idf), idf = ln(docsInBucket / df), and pair
    * similarity is Σ_shared idf² / (‖a‖·‖b‖) — rare shared shingles count
    * for more, ubiquitous ones for ~nothing, which is what separates
    * boilerplate overlap from genuine near-duplication.
    *
    * Same bounded join shape as q22: candidates form ONLY on shared
    * (bucket, shingle) rows with the df ≤ `maxDf` hot-shingle cap, so pair
    * volume is density-bounded at any corpus size (the q22 row of the
    * BASELINE.md candidate-volume audit);
    * idf and the per-doc norm ride windows over the (bucket, sh) / doc_id
    * partitionings the join and aggregate already need. The bucket doc
    * count (idf numerator) is a tiny broadcast dim. */
  def tfidfCosinePairs(shingles: DataFrame, maxDf: Int,
      minCosine: Double,
      pairMassBudget: Long = DefaultPairMassBudget): DataFrame = {
    require(maxDf > 0, "maxDf must be positive")
    val nb = shingles.groupBy(col("bucket"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    val scored = subCapPairMassGuard(shingles
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("bucket"), col("sh"))))
      .filter(col("df") <= maxDf), maxDf, pairMassBudget, "tfidfCosinePairs",
      dfCol = "df")
      .join(broadcast(nb), "bucket")
      .withColumn("idf", log(col("n_docs").cast("double") / col("df").cast("double")))
      .withColumn("norm2", sum(col("idf") * col("idf"))
        .over(Window.partitionBy(col("doc_id"))))
    val a = scored.select(col("doc_id").as("a_id"), col("bucket"), col("sh"),
      col("idf"), col("norm2").as("a_n2"))
    val b = scored.select(col("doc_id").as("b_id"), col("bucket"), col("sh"),
      col("norm2").as("b_n2"))
    a.join(b, Seq("bucket", "sh"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_common"),
        sum(col("idf") * col("idf")).as("num"),
        max(col("a_n2")).as("a_n2"), max(col("b_n2")).as("b_n2"))
      .withColumn("cosine", graft.engine.Semantics.roundz(
        col("num") / (sqrt(col("a_n2")) * sqrt(col("b_n2"))), 6))
      .filter(col("cosine") >= minCosine)
      .select(col("a_id"), col("b_id"), col("n_common"), col("cosine"))
  }

  /** Sub-document exact dedup (the RefinedWeb/CCNet "repeated passage
    * removal" shape, token-chunk granularity because the corpus has no
    * line structure): split each document into DISJOINT `chunkTokens`-token
    * chunks, count each chunk text's document frequency corpus-wide, drop
    * every occurrence of chunks appearing in more than `maxDf` documents
    * (boilerplate), and reassemble the survivors in order. Returns
    * (doc_id, clean_text, n_kept, n_removed) for every input document —
    * including ones fully consumed by boilerplate (empty clean_text).
    *
    * Scale design: chunking is a constant fan-out per document (ceil(n/C)
    * rows); the df count aggregates on md5(chunk) so the shuffle carries a
    * fixed-width key, not the chunk text; the keep filter is an equi-join
    * against that (hash, df) table — at 100 TB the df table is bounded by
    * distinct-chunk volume, which dedup itself keeps sublinear. Reassembly
    * is one per-doc aggregate (sort-by-position inside the group), the
    * same doc_id partitioning every per-doc op uses. Disjoint chunks (not
    * sliding shingles) keep removal well-defined — no overlap resolution —
    * which is exactly why the line-dedup literature removes whole units. */
  def repeatedChunkRemoval(docs: DataFrame, id: String, text: Column,
      chunkTokens: Int = 10, maxDf: Long = 1): DataFrame = {
    require(chunkTokens > 0 && maxDf >= 1, "chunkTokens must be positive, maxDf >= 1")
    val d = docs.select(col(id).as("doc_id"), split(text, " ").as("__toks"))
      .withColumn("__nch",
        ceil(size(col("__toks")).cast("double") / chunkTokens).cast("int"))
    val chunks = d.select(col("doc_id"), col("__nch"),
        posexplode(transform(sequence(lit(0), col("__nch") - 1),
          i => array_join(slice(col("__toks"), i * chunkTokens + 1, lit(chunkTokens)), " "))))
      .toDF("doc_id", "__nch", "pos", "chunk")
      .withColumn("ch", md5(col("chunk")))
    val dfCount = chunks.groupBy(col("ch"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val kept = chunks.join(dfCount, "ch").filter(col("df") <= maxDf)
    reassembled(d.select(col("doc_id"), col("__nch").cast("long").as("__n_chunks")),
      "__n_chunks", kept, "pos", "chunk")
  }

  /** X1 sub-document, CONTENT-DEFINED boundaries: like
    * [[repeatedChunkRemoval]] but chunk cuts come from the text itself —
    * position p ends a chunk when the rolling fingerprint of the
    * `window`-token shingle starting at p hits 0 mod `divisor` (expected
    * chunk length ≈ `divisor` tokens). Fixed-width chunks lose ALL
    * alignment after a single token inserted upstream; content-defined
    * cuts re-synchronize within one window, so shared boilerplate keeps
    * hashing to the same chunks — the rsync/LBFS trick applied to corpus
    * boilerplate (spec: a one-token prefix edit defeats the fixed-width
    * variant and not this one).
    *
    * Plan shape: the codegen posexplode + window-`lead` shingle idiom, one
    * codegen'd [[graft.functions.StringPolyHash]] per position, a running
    * cut-count window (same per-doc partitioning), then exactly
    * [[repeatedChunkRemoval]]'s df-count + reassembly. State = the
    * distinct-chunk table, saturating on self-repeating corpora. */
  def cdcChunkRemoval(docs: DataFrame, id: String, text: Column,
      window: Int = 3, divisor: Int = 16, maxDf: Long = 1): DataFrame = {
    require(maxDf >= 1, "maxDf >= 1")
    val chunks = cdcChunks(docs, id, text, window, divisor)
    val dfCount = chunks.groupBy(col("ch"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val total = chunks.groupBy(col("doc_id"))
      .agg((max(col("chunk_id")) + 1L).as("__n_chunks"))
    val kept = chunks.join(dfCount, "ch").filter(col("df") <= maxDf)
    reassembled(total, "__n_chunks", kept, "cpos", "chunk")
  }

  /** The reassembly tail of the sub-document scrubs: surviving (doc_id,
    * `pos`, `piece`) rows rejoined in order into (doc_id, clean_text,
    * n_kept, n_removed) for EVERY doc of `totals` (doc_id, `n` = its piece
    * count), empty clean_text when nothing survived. One per-doc aggregate
    * (sort-by-position inside the group). */
  private def reassembled(totals: DataFrame, n: String, kept: DataFrame,
      pos: String, piece: String): DataFrame = {
    val reasm = kept.groupBy(col("doc_id"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col(pos), col(piece)))),
          x => x.getField(piece)), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    totals.join(reasm, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col(n) - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** The chunking stage of [[cdcChunkRemoval]]: one row per content-defined
    * chunk — (doc_id, chunk_id, chunk, cpos, ch = md5(chunk)). Its
    * DISTINCT-chunk count is the saturating df-table state (the q85 rows in
    * BASELINE.md and `SCALE_AUDIT_FINAL.jsonl`). */
  private def cdcChunks(docs: DataFrame, id: String, text: Column,
      window: Int = 3, divisor: Int = 16): DataFrame = {
    require(window >= 2 && divisor >= 2, "need window >= 2, divisor >= 2")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val toks = docs.select(col(id).as("doc_id"),
      posexplode(split(text, " ")).as(Seq("pos", "tok")))
    val sh = concat_ws(" ",
      col("tok") +: (1 until window).map(k => lead("tok", k).over(w)): _*)
    val withCut = toks
      .withColumn("__sh", when(lead("tok", window - 1).over(w).isNotNull, sh))
      .withColumn("__cut", when(col("__sh").isNotNull &&
        graft.functions.GraftFunctions.polyHash(col("__sh")) % divisor === 0, 1L)
        .otherwise(0L))
      .withColumn("chunk_id", coalesce(
        sum(col("__cut")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    withCut.groupBy(col("doc_id"), col("chunk_id"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("chunk"),
        min(col("pos")).as("cpos"))
      .withColumn("ch", md5(col("chunk")))
  }

  /** MinHash estimator calibration: for every LSH candidate pair, the
    * sketch's Jaccard ESTIMATE (fraction of the `numHashes` minwise hashes
    * that agree — the unbiased estimator the banding math is built on) next
    * to the EXACT Jaccard, both over the SAME shingle universe (set sizes
    * taken over the rows passed in, so a caller that caps them first gets
    * capped sizes, unlike [[jaccardPairsFromRows]]'s full-set sizes — an
    * estimator audit must compare like with like). This
    * is the sketch-quality report a dedup pipeline ships before trusting a
    * signature width: E[|est − exact|] ≈ √(J(1−J)/k) tells you whether k
    * hashes justify the banding thresholds ([[minhashBandedRows]]'
    * r/b tuning reads directly off it).
    *
    * Plan shape: the shingle stream is touched twice — once through
    * [[minhashBandedRows]]' r = 1 signature rows (k·docs rows), once through
    * the bounded shared-shingle join (q22's generator, same df-cap bound on
    * candidate volume); both self-joins are equi-joins on (bucket, key).
    * The estimate needs NO extra work: the band join's match count IS
    * `n_equal_hashes`. Pairs whose band collision comes from an h1+j·h2
    * hash collision with zero shared shingles (≈2⁻⁴⁰) drop at the inner
    * join — a calibration row without an exact value is noise, not signal.
    * Output: (a_id, b_id, n_equal_hashes, est_jaccard, jaccard, abs_err),
    * unrounded — callers round for cross-engine comparison. */
  def minhashCalibration(shingles: DataFrame, numHashes: Int): DataFrame = {
    val cand = bandCollisions(minhashBandedRows(shingles, numHashes, 1), "n_equal_hashes")
    // Sizes over the same stream (no cap here): the estimator and the
    // exact side must see the same sets.
    calibrationReport(cand, sharedShingleOverlap(sizedCapped(shingles, maxDf = 0,
      budget = 0L, site = "minhashCalibration")), numHashes)
  }

  /** The report both calibration forms emit: (a_id, b_id, n_equal_hashes,
    * est_jaccard, jaccard, abs_err) from the per-pair agreeing-hash counts
    * and the exact (n_common, a_size, b_size) overlap, unrounded. */
  private def calibrationReport(est: DataFrame, overlap: DataFrame,
      numHashes: Int): DataFrame =
    est.join(overlap.withColumn("jaccard", overlapJaccard), Seq("a_id", "b_id"))
      .withColumn("est_jaccard",
        col("n_equal_hashes").cast("double") / lit(numHashes.toDouble))
      .select(col("a_id"), col("b_id"), col("n_equal_hashes"),
        col("est_jaccard"), col("jaccard"),
        abs(col("est_jaccard") - col("jaccard")).as("abs_err"))

  /** MinHash estimator calibration over an EXPLICIT candidate-pair list —
    * [[minhashCalibration]]'s report (per pair: the numHashes-wide Jaccard
    * ESTIMATE beside the EXACT Jaccard and the absolute error) with both
    * sides routed THROUGH the pair list instead of corpus-wide self-joins,
    * so the calibration bill is bounded by |candidates| × (numHashes + avg
    * set size) — the [[jaccardVerifyPairs]] cost discipline applied to the
    * sketch-quality audit. Feed it the calibrated generator's own pool
    * ([[nearDupCandidates]]) and its own capped shingle stream: estimator
    * and truth must see the SAME (capped) sets, or the report grades the
    * cap, not the sketch. Expects a single global bucket in
    * `cappedShingles` (the calibrated family's shape — a per-source
    * bucketing would need the bucket carried through the signature join).
    * Pairs with no surviving shared shingle are dropped (inner-join
    * semantics, matching the corpus-wide form). Output: (a_id, b_id,
    * n_equal_hashes, est_jaccard, jaccard, abs_err), unrounded — callers
    * round for cross-engine hashing. */
  def minhashCalibrationVerify(cand: DataFrame, cappedShingles: DataFrame,
      numHashes: Int): DataFrame = {
    // The capped stream feeds BOTH the estimator (minhash signatures) and
    // the exact side (pairOverlapStats). The expensive shared prefix — the
    // (bucket, sh) shuffle + sort + df window — is materialized ONCE
    // inside [[capShingleDfQuantile]] (its r16 checkpoint), so the two
    // consumers here re-apply only the cheap threshold filter over those
    // blocks; no second materialization is needed at this level.
    // Per-hash minwise rows over the SAME capped universe the exact side
    // sees; one row per (doc, hash index) under the global bucket.
    val sig = minhashBandedRows(cappedShingles, numHashes, 1)
      .select(col("doc_id"), col("band").as("__j"), col("h"))
    val est = pairMembers(cand).join(sig, "doc_id")
      .groupBy(col("a_id"), col("b_id"), col("__j"), col("h"))
      .agg(count(lit(1)).as("__hits"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(coalesce(sum(when(col("__hits") === 2, 1L)), lit(0L))
        .as("n_equal_hashes"))
    calibrationReport(est,
      pairOverlapStats(cand, cappedShingles).filter(col("n_common").isNotNull), numHashes)
  }

  /** Cross-document repeated-SPAN scrub — the ExactSubstr result of
    * "Deduplicating Training Data Makes Language Models Better" (Lee et al.
    * 2022) computed with hash joins instead of a suffix array: a token
    * position is removed from EVERY document when some `w`-token window
    * covering it also occurs in at least `minDocs` distinct documents.
    * [[repeatedChunkRemoval]] (disjoint chunks) and [[cdcChunkRemoval]]
    * (content-defined cuts) only catch repeats that respect their chunk
    * boundaries; here the window slides over every token position, so a
    * repeated passage is caught at ARBITRARY alignment — and because
    * overlapping hits union into maximal covered spans, the removal is
    * exactly "every maximal cross-doc-repeated span of length ≥ w", the
    * suffix-array semantics at w-token resolution.
    *
    * Scale design: the gram stream is one row per token (posexplode + the
    * codegen window-`lead` idiom — HOF `transform` would drop the stage out
    * of codegen); the df count aggregates on md5(gram) so the shuffle
    * carries a fixed-width key; the hit join is an equi-join against the
    * (hash) table of grams with df ≥ minDocs, whose size duplication
    * density itself bounds. Covered positions come from an explode of
    * `sequence(pos, pos+w-1)` over HIT grams only — a ≤w× fan-out of the
    * duplicated region, not the corpus — deduped on the same (doc_id, pos)
    * key the anti-join consumes. Reassembly is one per-doc aggregate. A
    * suffix array would find variable-length repeats in O(n log n) single-
    * node; this trades that for three shuffles that scale out. At 100 TB
    * the df table is the only state, and grouping by xxhash64 instead of
    * md5 halves its width (md5 kept here for the cross-engine oracle).
    *
    * Returns (doc_id, clean_text, n_kept, n_removed) for EVERY input
    * document, empty clean_text when fully consumed. Documents shorter
    * than `w` tokens form no window and are never scrubbed. */
  def repeatedSpanScrub(docs: DataFrame, id: String, text: Column,
      w: Int = 5, minDocs: Long = 2): DataFrame = {
    require(w >= 1 && minDocs >= 2, "need w >= 1, minDocs >= 2")
    val win = Window.partitionBy("doc_id").orderBy("pos")
    val toks = docs.select(col(id).as("doc_id"),
      posexplode(split(text, " ")).as(Seq("pos", "tok")))
    val leads = col("tok") +: (1 until w).map(i => lead("tok", i).over(win))
    val grams = toks
      .withColumn("gh", when(
        if (w == 1) lit(true) else lead("tok", w - 1).over(win).isNotNull,
        md5(concat_ws(" ", leads: _*))))
      .filter(col("gh").isNotNull)
      .select(col("doc_id"), col("pos"), col("gh"))
    val dup = grams.groupBy(col("gh"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("gh"))
    val covered = grams.join(dup, "gh")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(w - 1))).as("pos"))
      .distinct()
    val kept = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
    reassembled(docs.select(col(id).as("doc_id"),
        size(split(text, " ")).cast("long").as("__n_toks")),
      "__n_toks", kept, "pos", "tok")
  }

  /** A persisted Bloom index over a standing corpus's fingerprint set — the
    * cross-RUN dedup artifact: built once when the corpus snapshot is laid
    * down, stored beside it, and reloaded by every subsequent ingest batch
    * (the same artifact class as the layout stats manifest). `sketch` is
    * the [[graft.functions.BloomUtil]] bitset (FNV-1a 64 +
    * Kirsch–Mitzenmacher, `mBits` bits, `k` probes); `nKeys` records the
    * build-time cardinality so a reader can audit the design load (fp rate
    * ≈ (1−e^(−k·nKeys/mBits))^k) before trusting the prefilter to be
    * selective. */
  final case class BloomIndex(mBits: Int, k: Int, nKeys: Long, sketch: Array[Byte]) {
    require(mBits > 0 && mBits % 64 == 0, s"mBits must be a positive multiple of 64, got $mBits")
    require(k > 0, s"k must be positive, got $k")
    require(nKeys >= 0, s"nKeys must be >= 0, got $nKeys")
    require(sketch.length.toLong * 8L == mBits.toLong,
      s"sketch length ${sketch.length} bytes does not match mBits=$mBits")
  }

  /** Build a [[BloomIndex]] over a corpus fingerprint column, DISTRIBUTED:
    * the typed [[graft.functions.BloomBuild]] Aggregator carries a
    * fixed-size bitset per partition and OR-merges, so driver state is the
    * KB..MB sketch regardless of corpus size. `mBits = 0` auto-sizes from
    * the measured distinct-key count ([[graft.functions.BloomUtil.sizeFor]]:
    * m = n·k/ln2 → fp ≈ 2^−k at design load). The distinct pass is the
    * build's one shuffle — at 100 TB it runs against the corpus's already-
    * deduped fingerprint INDEX (q60's standing state), not the text. */
  def buildFingerprintBloom(corpus: DataFrame, fp: Column, k: Int = 5,
      mBits: Int = 0): BloomIndex = {
    import graft.functions.{BloomBuild, BloomUtil}
    require(mBits >= 0, s"mBits must be >= 0 (0 = auto-size), got $mBits")
    // The count and the sketch both read the keys; the sketch is driver
    // state, so they are freed on return (a stream builds one per batch).
    val keys = Materialize.checkpoint(corpus.select(fp.cast("string").as("__fp")).distinct())
    try {
      val n = keys.count()
      val m = if (mBits > 0) mBits else BloomUtil.sizeFor(n, k)
      val agg = udaf(new BloomBuild(m, k), org.apache.spark.sql.Encoders.STRING)
      val sketch = keys.agg(agg(col("__fp"))).head.getAs[Array[Byte]](0)
      BloomIndex(m, k, n, sketch)
    } finally Materialize.release(keys)
  }

  /** Persist a [[BloomIndex]] as a single-row parquet artifact (metadata +
    * sketch bytes) so later ingest runs [[readBloomIndex]] instead of
    * rebuilding over the corpus. */
  def writeBloomIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      idx: BloomIndex): Unit = {
    import spark.implicits._
    Seq((idx.mBits, idx.k, idx.nKeys, idx.sketch))
      .toDF("m_bits", "k", "n_keys", "sketch")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Reload a persisted [[BloomIndex]]; refuses loudly on a malformed
    * artifact (wrong schema / row count) rather than prefiltering with
    * garbage. */
  def readBloomIndex(spark: org.apache.spark.sql.SparkSession, path: String): BloomIndex = {
    val rows = spark.read.parquet(path)
      .select(col("m_bits"), col("k"), col("n_keys"), col("sketch")).collect()
    require(rows.length == 1,
      s"bloom index at $path must hold exactly 1 row, found ${rows.length}")
    val r = rows(0)
    BloomIndex(r.getInt(0), r.getInt(1), r.getLong(2), r.getAs[Array[Byte]](3))
  }

  /** OR-merge of two same-geometry [[BloomIndex]]es — the sketch algebra
    * that makes the artifact maintainable without corpus rescans: the
    * bitset of a union of key sets IS the OR of the bitsets (position
    * functions depend only on geometry), so `merge(build(A), build(B)) ≡
    * build(A ∪ B)` bit-for-bit. An ingest pipeline ORs each admitted
    * batch's sketch into the standing artifact (same discipline as the HLL
    * replay-by-algebra streaming sink); `nKeys` becomes an UPPER bound
    * after merging (shared keys double-count), which only over-provisions
    * the next auto-sizing, never corrupts membership. Refuses loudly on
    * mismatched geometry — ORing different (m, k) would silently produce
    * false negatives, the one failure mode a Bloom prefilter must never
    * have. */
  def mergeBloomIndexes(a: BloomIndex, b: BloomIndex): BloomIndex = {
    require(a.mBits == b.mBits && a.k == b.k,
      s"cannot merge bloom indexes of different geometry: " +
        s"(m=${a.mBits}, k=${a.k}) vs (m=${b.mBits}, k=${b.k})")
    val out = new Array[Byte](a.sketch.length)
    var i = 0
    while (i < out.length) {
      out(i) = (a.sketch(i) | b.sketch(i)).toByte
      i += 1
    }
    BloomIndex(a.mBits, a.k, a.nKeys + b.nKeys, out)
  }

  /** X1 incremental dedup, Bloom-pruned — q60's anti-join with the standing
    * corpus made batch-cheap: fresh rows probe the corpus's [[BloomIndex]]
    * with the codegen'd `graft_bloom_contains` (sketch rides the plan as a
    * literal — no join, no shuffle); bloom-NEGATIVE rows are provably novel
    * (no false negatives) and are admitted without touching the corpus,
    * and only the bloom-positive sliver (true dupes + ε false positives)
    * pays the exact anti-join rescan. Result is EXACTLY the plain
    * anti-join — the filter only moves work.
    *
    * At 100 TB: a typical crawl batch is overwhelmingly novel, so the
    * anti-join's probe side shrinks from the whole batch to its duplicate
    * sliver; the corpus side joins against that sliver instead of the
    * batch. The index must be the one built over THIS `corpusFps` snapshot
    * (or a superset-keyed rebuild) — an index missing corpus keys would
    * admit duplicates as "provably novel", which is why [[readBloomIndex]]
    * carries `nKeys` for snapshot auditing.
    *
    * `fpName` must name a string column present in `fresh`; `corpusFps`
    * needs the same column (deduplicated internally).
    *
    * '''Determinism contract''': `fresh` is evaluated TWICE (the
    * bloom-negative filter and the positive rescan are separate plan
    * branches). A non-deterministic input — `sample`/`rand`/uuid-derived
    * fingerprints — can land a row in both branches or neither,
    * duplicating or dropping it relative to the plain anti-join.
    * Materialize such inputs first ([[graft.engine.Materialize.checkpoint]])
    * before handing them here. */
  def bloomPrunedNovel(fresh: DataFrame, fpName: String, corpusFps: DataFrame,
      idx: BloomIndex): DataFrame = {
    import graft.functions.GraftFunctions
    // NULL fingerprints take the fast path: a null key never equi-matches
    // the corpus, so the plain left_anti KEEPS such rows — three-valued
    // logic must not drop them from both branches (the probe returns null
    // on null input).
    val might = coalesce(
      GraftFunctions.bloomContains(col(fpName), idx.sketch, idx.k), lit(false))
    val novelFast = fresh.filter(!might)
    val rescan = fresh.filter(might)
      .join(corpusFps.select(col(fpName)).distinct(), Seq(fpName), "left_anti")
    novelFast.unionByName(rescan)
  }

  /** X2 sorted-neighborhood (SNM) candidate generation — the classic
    * entity-resolution BLOCKING family beside the hash families (LSH:
    * probabilistic buckets; length bands: [[editDistancePairs]]): sort
    * the corpus by a semantic key, pair each row with its next
    * `window − 1` neighbors in that order. Deterministic and complete
    * within the window; what it catches that bucket blocking can miss is
    * near-dups that STRADDLE a bucket boundary — in sorted order they
    * are adjacent regardless of where any boundary falls.
    *
    * '''Scale caveat, measured''' (q163's recall A/B against exact
    * ground truth): a FIXED window in sort-key order dilutes as the
    * docs-per-key-value density grows — on the n_chars key, recall 0.88
    * at 500 docs collapsed to 0.027 at 5,000, while the calibrated LSH
    * default held ~0.9. SNM complements content-keyed blocking for
    * boundary cases; it is not the primary generator at corpus scale.
    * '''Do not deploy single-pass SNM solo''': reach for
    * [[nearDupCandidates]] (the calibrated front door) or, when a
    * sort-key family is genuinely wanted, [[snmMultiPass]] — its
    * multi-key union restores recall 1.0 on the same corpus where this
    * single key measured 0.027 (q163/q164 ledger rows).
    *
    * The global sorted RANK is the scale problem (a corpus-wide
    * ORDER-BY window is the straggler the shuffleRank construction
    * exists to kill), so the rank is built the same way: the caller
    * supplies a coarse MONOTONE `bucket` of the key (e.g. `n_chars DIV
    * 8` for a length key — or [[rangeBucket]] over
    * [[rangeBucketBoundaries]]' quantile cuts, which stays balanced on
    * skewed keys); within-bucket ranks ride a per-bucket window, bucket
    * offsets are a broadcast prefix-sum over the ≤|buckets|-row
    * aggregate. Monotonicity is NOT taken on faith: the offsets pass
    * carries per-bucket key min/max and RAISES if any bucket's max
    * reaches the next bucket's min — a violated contract would silently
    * produce a rank that is not the key order, i.e. wrong candidates
    * with no error. Neighbor pairing is an offset-EXPLODE equi-join
    * (each row joins its rank + 1..window−1 — fixed fan-out, no range
    * join). NULL keys/ids raise: a row silently dropped from a
    * permutation is corruption.
    *
    * Output: (a_id, b_id, gap) with a the earlier row in key order —
    * feed [[editDistanceVerify]] for the verify stage. */
  def sortedNeighborhoodCandidates(docs: DataFrame, id: String,
      bucket: Column, key: Column, window: Int): DataFrame = {
    require(window >= 2, s"window must be >= 2 (got $window)")
    def guarded(c: Column, what: String): Column =
      when(c.isNull, raise_error(lit(
        s"sortedNeighborhood: $what must be non-null — a null row would " +
          "silently drop from the sorted permutation")))
        .otherwise(c)
    val base = docs.select(guarded(col(id), "doc_id").as("doc_id"),
      guarded(bucket, "bucket").as("__bkt"), guarded(key, "key").as("__key"))
    val offsets = base.groupBy(col("__bkt"))
      .agg(count(lit(1)).as("__n"), min(col("__key")).as("__mink"),
        max(col("__key")).as("__maxk"))
      .withColumn("__prevmax",
        lag(col("__maxk"), 1).over(Window.orderBy(col("__bkt"))))
      .withColumn("__off",
        sum(col("__n")).over(Window.orderBy(col("__bkt"))) - col("__n"))
      .withColumn("__mono",
        when(col("__prevmax").isNotNull && col("__prevmax") >= col("__mink"),
          raise_error(lit("sortedNeighborhood: bucket is not a monotone " +
            "coarsening of key — a bucket's max key reaches the next " +
            "bucket's min; ranks would not be key order")).cast("long"))
          .otherwise(lit(0L)))
      .select(col("__bkt").as("__obkt"), (col("__off") + col("__mono")).as("__off"))
    val ranked = base
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__bkt")).orderBy(col("__key"), col("doc_id")))
        .cast("long"))
      .join(broadcast(offsets), col("__bkt") === col("__obkt"))
      .select(col("doc_id"), (col("__off") + col("__rn")).as("__rank"))
    val probe = ranked.select(col("doc_id").as("a_id"), col("__rank"),
        explode(sequence(lit(1), lit(window - 1))).as("gap"))
      .withColumn("__rank", col("__rank") + col("gap"))
    probe.join(ranked.select(col("doc_id").as("b_id"), col("__rank")), "__rank")
      .select(col("a_id"), col("b_id"), col("gap").cast("long").as("gap"))
  }

  /** Quantile RANGE-BUCKET boundaries of a long key — the partitioner
    * [[sortedNeighborhoodCandidates]]'s contract asks its caller for: cuts
    * at the i/n discrete quantiles of the key's distribution, so buckets
    * carry ~equal row mass — up to the largest SINGLE-VALUE mass, the
    * irreducible floor (one key value can never be split across range
    * buckets; a value holding half the corpus holds half of one bucket's
    * corpus no matter where the cuts fall). A `key DIV c` bucket is worse
    * on the same data: it merges the hot value WITH its neighbors into
    * one straggler. The
    * cuts come from the key's value-count HISTOGRAM (groupBy(key).count —
    * a distributed hash aggregate) with one ordered cumulative window over
    * the ≤|distinct key values| histogram rows — the dfQuantileThreshold
    * discipline: never order the row table itself. For keys whose distinct
    * cardinality is itself corpus-scale, sample rows upstream (boundaries
    * only steer BALANCE — [[rangeBucket]] is monotone for ANY cut set, so
    * correctness never depends on boundary quality). Driver state: ≤ n−1
    * longs (the centroid class). Deterministic — same data, same cuts, any
    * partitioning. */
  def rangeBucketBoundaries(df: DataFrame, key: Column, nBuckets: Int): Seq[Long] = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val hist = df.select(key.cast("long").as("__k"))
      .filter(col("__k").isNotNull)
      .groupBy(col("__k")).agg(count(lit(1)).as("__n"))
    // cut i = smallest key whose cumulative count reaches ⌈tot·i/n⌉, i.e.
    // the first key with i·tot ≤ n·cum — pure LONG arithmetic (no double
    // division whose rounding could flip a boundary). Key __k serves cut i
    // exactly when n·cum_prev < i·tot ≤ n·cum, so every key emits its
    // served i-range in ONE pass: one histogram aggregate, one ordered
    // window over ≤|distinct key values| rows, one collect — not a
    // blocking job per cut.
    val n = nBuckets.toLong
    val cuts = hist
      .withColumn("__cum", sum(col("__n")).over(Window.orderBy(col("__k"))))
      .crossJoin(broadcast(hist.agg(coalesce(sum(col("__n")), lit(0L)).as("__tot"))))
      .withColumn("__prev", col("__cum") - col("__n"))
      // integer DIV (floor on non-negatives), never `/` (double in SparkSQL);
      // a row serving no cut gets an EMPTY array — sequence(a, b) with
      // a > b would silently generate a DESCENDING range.
      .withColumn("__lo", expr(s"($n * __prev) DIV __tot + 1"))
      .withColumn("__hi", expr(s"($n * __cum) DIV __tot"))
      .withColumn("__i", explode(when(col("__hi") >= col("__lo"),
        sequence(col("__lo"), col("__hi")))
        .otherwise(array().cast("array<bigint>"))))
      .filter(col("__i") >= 1 && col("__i") <= lit(n - 1))
      .select(col("__i"), col("__k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    require(cuts.nonEmpty,
      "rangeBucketBoundaries: key column has no non-null values — cannot " +
        "cut an empty distribution; filter or supply a constant bucket")
    (1L until n).flatMap(cuts.get).distinct
  }

  /** Monotone bucket column from [[rangeBucketBoundaries]] cuts: bucket =
    * |{cut ≤ key}|, an interpreted array filter over ≤ nBuckets literals —
    * negligible beside the exchange it steers, and monotone BY
    * CONSTRUCTION for any ascending cut set (the property the
    * sorted-neighborhood rank raise-checks). */
  def rangeBucket(key: Column, cuts: Seq[Long]): Column = {
    require(cuts == cuts.sorted, s"cuts must be ascending, got $cuts")
    if (cuts.isEmpty) lit(0L)
    else size(filter(array(cuts.map(lit): _*), c => key.cast("long") >= c)).cast("long")
  }

  /** Per-document feature FREQUENCIES from POSITIONAL (doc_id, bucket, sh)
    * rows ([[graft.operators.TextOps.shinglePosRows]] — one row per
    * OCCURRENCE; the set-collapsed [[graft.operators.TextOps.shingleRows]]
    * would make every tf 1): the multiset view of a corpus that the
    * weighted-Jaccard family consumes where the set family consumes
    * `distinct` shingles. One hash aggregate; tf is exact long
    * arithmetic. */
  def featureTfRows(shinglePosRows: DataFrame): DataFrame =
    shinglePosRows.groupBy(col("doc_id"), col("bucket"), col("sh"))
      .agg(count(lit(1)).as("tf"))

  /** Integer-weight EXPANSION: (doc_id, bucket, sh, tf) → shingle-row-
    * shaped (doc_id, bucket, sh + "#" + i) for i ∈ 1..min(tf, tfCap).
    * The classic reduction of weighted Jaccard to set Jaccard for integer
    * weights: plain set Jaccard over the expanded universe IS the
    * (capped-)weighted Jaccard Σ min(tf_a, tf_b) / Σ max(tf_a, tf_b), so
    * the ENTIRE calibrated set machinery — [[capShingleDfQuantile]],
    * banded minhash, [[nearDupCandidates]] — works on multisets
    * unchanged: minhash hashing, df calibration, and band joins see only
    * opaque strings. `tfCap` bounds the fan-out a single hot feature can
    * contribute (a document that repeats one shingle a million times must
    * not explode to a million rows); the cap biases only candidate
    * GENERATION — route candidates to [[weightedJaccardVerifyPairs]],
    * which scores the uncapped frequencies. Expansion is at most
    * Σ min(tf, tfCap) rows ≤ the corpus's positional row count — the
    * multiset pipeline never exceeds the set pipeline's input volume. */
  def weightedExpandRows(featureTfs: DataFrame, tfCap: Int): DataFrame = {
    require(tfCap >= 1, s"tfCap must be >= 1, got $tfCap")
    featureTfs.select(col("doc_id"), col("bucket"), col("sh").as("__sh"),
        explode(sequence(lit(1L), least(col("tf"), lit(tfCap.toLong)))).as("__i"))
      .select(col("doc_id"), col("bucket"),
        concat(col("__sh"), lit("#"), col("__i")).as("sh"))
  }

  /** Exact WEIGHTED-Jaccard verify over an explicit candidate-pair list —
    * [[jaccardVerifyPairs]]' multiset twin: w_jaccard =
    * Σ_t min(tf_a, tf_b) / Σ_t max(tf_a, tf_b), with the denominator as
    * a_mass + b_mass − w_common (exact long arithmetic until the one
    * final rounded division). Scored on the FULL frequencies — the tfCap
    * that bounded generation fan-out does not bias the verdict, the same
    * cap-for-generation / full-for-verify discipline as the set family.
    * Same bounded shape too: the feature stream routes THROUGH the pair
    * list, so cost is |candidates| × avg distinct features per doc.
    *
    * `featureTfs` must carry ONE row per (doc_id, sh) —
    * [[featureTfRows]]' output for a single bucket. Output:
    * (a_id, b_id, w_common, a_mass, b_mass, w_jaccard) at or above
    * `threshold`. */
  def weightedJaccardVerifyPairs(cand: DataFrame, featureTfs: DataFrame,
      threshold: Double): DataFrame = {
    val rows = featureTfs.select(col("doc_id"), col("sh"), col("tf"))
    // Per (pair, sh): at most one row per side, so max() reads the side's
    // tf; per pair the join on doc_id carried EVERY feature of each member,
    // so the side-sums are the full masses — no second sizes aggregate.
    pairMembers(cand).join(rows, "doc_id")
      .groupBy(col("a_id"), col("b_id"), col("sh"))
      .agg(max(when(col("side") === 0, col("tf"))).as("__tfa"),
        max(when(col("side") === 1, col("tf"))).as("__tfb"))
      .groupBy(col("a_id"), col("b_id"))
      // least() skips nulls in BOTH engines (a one-sided token would wrongly
      // contribute its own tf) — the shared-token guard must be explicit.
      .agg(coalesce(sum(when(col("__tfa").isNotNull && col("__tfb").isNotNull,
          least(col("__tfa"), col("__tfb")))), lit(0L)).as("w_common"),
        sum(coalesce(col("__tfa"), lit(0L))).as("a_mass"),
        sum(coalesce(col("__tfb"), lit(0L))).as("b_mass"))
      .withColumn("w_jaccard",
        round(col("w_common").cast("double") /
          (col("a_mass") + col("b_mass") - col("w_common")).cast("double"), 6))
      .filter(col("w_jaccard") >= threshold)
  }

  /** Leave-one-bucket-out jackknife on the SAMPLED dup-rate estimator
    * (q148's planning instrument, now with an error bar): the fingerprint
    * space is hashed into 16 sub-buckets (first md5-hex char OF the
    * fingerprint, so every copy of a key lands in one bucket together —
    * the same no-split-groups property the point estimate rests on), the
    * estimator runs on the union of `sampleBuckets`, and its standard
    * error comes from the g leave-one-out replicates
    * θ_(i) = 1 − (U−u_i)/(N−n_i) over the sampled buckets:
    * se = sqrt((g−1)/g · Σ(θ_(i) − θ̄)²). Because fingerprints never
    * straddle buckets, per-bucket (count, distinct-count) pairs are
    * SUFFICIENT statistics — the replicates are closed-form arithmetic
    * over |sources × g| tiny rows, so the error bar costs nothing beyond
    * the sampled scan the estimate already pays. A 100 TB dedup plan can
    * then be sized with a confidence band instead of a bare point: if the
    * band is too wide, widen `sampleBuckets` and re-read — the marginal
    * cost is 1/16 of the scan per bucket.
    *
    * Output per source: `n_docs`/`dup_rate` (full-corpus ground truth,
    * kept beside the estimate exactly as q148 does — at scale only the
    * sampled branch runs), `n_sampled`, `est_dup_rate`, `g_reps`
    * (replicates with N > n_i; a source entirely inside ONE bucket has no
    * leave-one-out information, so it surfaces with its estimate and
    * g = 0, se = 0 — never silently dropped), `jk_se`. Sources with no
    * sampled rows surface with zeros (LEFT join), never vanish.
    *
    * `fp` must be NON-NULL, enforced loudly (round-11 advice): a null
    * fingerprint would skew the estimate invisibly — countDistinct skips
    * nulls while count(1) counts the row (dup_rate inflates), and
    * md5(null) → null __sb drops the row from the sampled branch without
    * a trace — exactly the silent divergence the "never silently dropped"
    * discipline above refuses. */
  def sampledDupRateJackknife(df: DataFrame, source: Column, fp: Column,
      sampleBuckets: Seq[String]): DataFrame = {
    require(sampleBuckets.nonEmpty && sampleBuckets.forall(_.length == 1),
      "sampleBuckets must be single md5-hex chars")
    require(sampleBuckets.distinct.size == sampleBuckets.size,
      "duplicate sample bucket")
    val base = df.select(source.as("source"),
        when(fp.isNotNull, fp).otherwise(raise_error(lit(
          "sampledDupRateJackknife: fp must be non-null — a null would " +
            "inflate dup_rate (countDistinct skips it, count(1) keeps it) " +
            "and vanish from the sampled branch (md5(null) bucket)")))
          .as("__fp"))
      .withColumn("__sb", substring(md5(col("__fp").cast("binary")), 1, 1))
    val actual = base.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        graft.engine.Semantics.roundz(
          lit(1.0) - countDistinct(col("__fp")).cast("double") / count(lit(1)), 6)
          .as("dup_rate"))
    val per = base.filter(col("__sb").isin(sampleBuckets: _*))
      .groupBy(col("source"), col("__sb"))
      .agg(count(lit(1)).as("__nb"), countDistinct(col("__fp")).as("__ub"))
    jackknifeTail(actual, per)
  }

  /** [[sampledDupRateJackknife]] from a STANDING (source, fingerprint,
    * count) histogram instead of rows — the streamed form of the sizing
    * instrument: per-key counts are sum-mergeable across micro-batches
    * (unlike distinct counts over raw rows), so a `StandingStore` can
    * maintain the sampled-bucket histogram incrementally and answer the
    * estimate + error bar at any moment without replaying the stream.
    * State is bounded by |distinct sampled fingerprints|, i.e. the
    * |sampleBuckets|/16 slice of key space — the same slice the batch
    * instrument scans. Identical output contract to the row form (q168's
    * histogram ≡ rows discipline); duplicate (source, fp) rows are merged
    * by summing, zero/negative/null counts are rejected loudly — a silent
    * skip would make a histogram bug look like data. */
  def sampledDupRateJackknifeFromCounts(hist: DataFrame, source: Column,
      fp: Column, n: Column, sampleBuckets: Seq[String]): DataFrame = {
    require(sampleBuckets.nonEmpty && sampleBuckets.forall(_.length == 1),
      "sampleBuckets must be single md5-hex chars")
    require(sampleBuckets.distinct.size == sampleBuckets.size,
      "duplicate sample bucket")
    val base = hist.select(source.as("source"),
        // Same null-fp refusal as the row form: a null key would hold its
        // own histogram group yet vanish from the sampled branch.
        when(fp.isNotNull, fp).otherwise(raise_error(lit(
          "sampledDupRateJackknifeFromCounts: fp must be non-null")))
          .as("__fp"),
        coalesce(n.cast("long"),
          raise_error(lit("sampledDupRateJackknifeFromCounts: count must " +
            "be non-null")).cast("long")).as("__n0"))
      .withColumn("__n0", when(col("__n0") >= 1L, col("__n0"))
        .otherwise(raise_error(lit("sampledDupRateJackknifeFromCounts: " +
          "count must be >= 1")).cast("long")))
      .groupBy(col("source"), col("__fp")).agg(sum(col("__n0")).as("__cnt"))
      .withColumn("__sb", substring(md5(col("__fp").cast("binary")), 1, 1))
    val actual = base.groupBy(col("source"))
      .agg(sum(col("__cnt")).as("n_docs"),
        graft.engine.Semantics.roundz(
          lit(1.0) - count(lit(1)).cast("double") / sum(col("__cnt")).cast("double"), 6)
          .as("dup_rate"))
    val per = base.filter(col("__sb").isin(sampleBuckets: _*))
      .groupBy(col("source"), col("__sb"))
      .agg(sum(col("__cnt")).as("__nb"), count(lit(1)).as("__ub"))
    jackknifeTail(actual, per)
  }

  /** Shared tail of the jackknife pair: per-bucket (n, distinct) rows →
    * leave-one-out replicates → (estimate, g, se), LEFT-joined back onto
    * the ground-truth frame. Input contract: `actual(source, n_docs,
    * dup_rate)`, `per(source, __sb, __nb, __ub)`. */
  private def jackknifeTail(actual: DataFrame, per: DataFrame): DataFrame = {
    val wsrc = Window.partitionBy(col("source"))
    // θ_(i) is null for a replicate with N == n_i (a source entirely inside
    // one bucket has no leave-one-out information); null-SKIPPING avg/sum
    // keep such a source in the output with its estimate and g_reps = 0
    // instead of silently dropping it — in a sizing instrument a vanished
    // source reads as "no duplication", the worst failure mode.
    val th = per
      .withColumn("__n", sum(col("__nb")).over(wsrc))
      .withColumn("__u", sum(col("__ub")).over(wsrc))
      .withColumn("__theta", when(col("__n") > col("__nb"),
        lit(1.0) - (col("__u") - col("__ub")).cast("double") /
          (col("__n") - col("__nb")).cast("double")))
      .withColumn("__tbar", avg(col("__theta")).over(wsrc))
    // (θ−θ̄)·(θ−θ̄), not pow(·,2): an exactly-rounded multiply both
    // engines agree on bit-for-bit, where pow() is libm-dependent.
    val est = th.groupBy(col("source"))
      .agg(max(col("__n")).as("n_sampled"), max(col("__u")).as("__us"),
        count(col("__theta")).as("g_reps"),
        sum((col("__theta") - col("__tbar")) * (col("__theta") - col("__tbar")))
          .as("__ss"))
      .withColumn("est_dup_rate", graft.engine.Semantics.roundz(
        lit(1.0) - col("__us").cast("double") / col("n_sampled").cast("double"), 6))
      .withColumn("jk_se", when(col("g_reps") > 0, graft.engine.Semantics.roundz(
        sqrt((col("g_reps") - 1).cast("double") / col("g_reps").cast("double") *
          col("__ss")), 6)).otherwise(lit(0.0)))
    actual.join(est, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("dup_rate"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("est_dup_rate"), lit(0.0)).as("est_dup_rate"),
        coalesce(col("g_reps"), lit(0L)).as("g_reps"),
        coalesce(col("jk_se"), lit(0.0)).as("jk_se"))
  }
}
