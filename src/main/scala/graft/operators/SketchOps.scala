package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Engine-portable distinct-count sketching (A3's scale rung; SURVEY §2.5).
  *
  * q36 uses Spark's native HyperLogLog++ (`approx_count_distinct`) — the
  * right production choice, but its sketch is engine-specific, so the
  * correctness gate can only rows-check it. This object is the
  * BY-CONSTRUCTION-DETERMINISTIC sibling: a HyperLogLog whose every step
  * (hash, bucketing, rank, harmonic sum) is defined in engine-portable
  * arithmetic, so an independent engine re-executing the definition
  * reproduces the estimate BIT-FOR-BIT — the same discipline that gave
  * the iterative trainers hard oracles (q41/q90/q95/q125).
  *
  *  - hash = md5 (both engines emit identical lowercase hex);
  *  - bucket = first p/4 hex chars; rank input w = the next 13 hex chars
  *    (52 bits) — integer substring parses, no float;
  *  - rho = 53 − bitlength(w) (w = 0 ⇒ 53), via `bin()` string length —
  *    both engines strip leading zeros, no log2() call;
  *  - the harmonic sum Σ 2^−M_j is kept in FIXED POINT as
  *    Σ 2^(53−M_j) — an exact BIGINT, so the one float division at the
  *    end operates on identical operands in both engines and is
  *    IEEE-exactly-rounded to the same double. The bound m·2^53 < 2^63
  *    only holds for p ≤ 9 (each EMPTY bucket contributes a full 2^53),
  *    so [[hllEstimate]] rejects larger p rather than letting Spark's
  *    non-ANSI sum wrap silently — see its guard.
  *
  * The estimate is the RAW HLL estimator α_m·m²/Z — deliberately without
  * the small-range linear-counting correction, whose ln() would
  * reintroduce libm dependence (Java vs C log differ in the last ulp).
  * The spec covers accuracy where the raw estimator is in its regime
  * (n ≳ 2.5·m); below that the reported `rel_err` column documents the
  * textbook small-range bias honestly.
  *
  * Scale: one hash-aggregate pass to m partial-merged registers — the
  * same constant-state posture as the native HLL; at 100 TB the register
  * table is m rows regardless of corpus size.
  */
object SketchOps {

  /** The (bucket, rho) expression pair every HLL form hashes with — ONE
    * definition so the global and grouped register builders cannot drift
    * (a widened w substring or changed rho rule changes both or neither). */
  private def hllBucketRho(key: Column, p: Int): (Column, Column) = {
    require(p % 4 == 0 && p >= 4 && p <= 16, s"p must be a multiple of 4 in [4,16], got $p")
    val hexChars = p / 4
    val h = md5(key.cast("string"))
    val w = conv(substring(h, hexChars + 1, 13), 16, 10).cast("long")
    val rho = when(w === 0L, lit(53)).otherwise(lit(53) - length(bin(w))).cast("long")
    (conv(substring(h, 1, hexChars), 16, 10).cast("long"), rho)
  }

  /** (bucket, reg) register table for a deterministic HLL over `key`:
    * all 2^p buckets present (unhit buckets hold 0), reg = max rho. */
  def hllRegisters(df: DataFrame, key: Column, p: Int = 8): DataFrame = {
    val spark = df.sparkSession
    val (bucket, rho) = hllBucketRho(key, p)
    val hit = df.select(bucket.as("bucket"), rho.as("rho"))
      .groupBy(col("bucket")).agg(max(col("rho")).as("reg"))
    spark.range(1L << p).select(col("id").as("bucket"))
      .join(hit, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("reg"), lit(0L)).as("reg"))
  }

  /** Per-GROUP [[hllRegisters]]: (g, bucket, reg) with all 2^p buckets
    * present for every group — the sketch a per-partition cardinality
    * monitor keeps (one 2^p-register table per source/day/tenant, merged
    * by (g, bucket) max exactly as the global form merges by bucket).
    * State = |groups|·2^p rows at any corpus size. NULL-group rows keep
    * their own sketch (null-safe frame join — the silent-loss class a
    * plain equi-join reintroduces). */
  def hllRegistersGrouped(df: DataFrame, group: Column, key: Column, p: Int = 8): DataFrame = {
    val spark = df.sparkSession
    val (bucket, rho) = hllBucketRho(key, p)
    val hit = df.select(group.as("g"), bucket.as("bucket"), rho.as("rho"))
      .groupBy(col("g"), col("bucket")).agg(max(col("rho")).as("reg"))
      .withColumnRenamed("g", "gh").withColumnRenamed("bucket", "bh")
    // The group frame comes from the AGGREGATE, not a second corpus scan:
    // every group with >= 1 input row emits >= 1 hit row (a NULL key still
    // lands as a (g, null-bucket) row), so distinct gh IS the group set —
    // and the distinct rides the same shuffle exchange as the register
    // aggregate (ReusedExchange) instead of re-reading the table.
    val frame = hit.select(col("gh").as("g")).distinct()
      .crossJoin(broadcast(spark.range(1L << p).select(col("id").as("bucket"))))
    frame
      .join(hit, col("g") <=> col("gh") && col("bucket") === col("bh"), "left")
      .select(col("g"), col("bucket"), coalesce(col("reg"), lit(0L)).as("reg"))
  }

  /** The d salted-md5 counter positions of `key` in a d×w count-min
    * sketch: element i of the array is the column for row i, hashed as
    * md5("i:" || key) — the salt string keeps the d rows independent while
    * staying reproducible by any engine with md5. */
  def cmsPositions(key: Column, d: Int, w: Int): Column =
    array((0 until d).map { i =>
      conv(substring(md5(concat(lit(s"$i:"), key.cast("string"))), 1, 8), 16, 10)
        .cast("long") % w
    }: _*)

  /** A built count-min sketch: the (row, col, cnt) counter table PLUS the
    * (d, w) geometry it was hashed with. The geometry travels with the
    * counters so [[cmsQuery]] cannot be called with mismatched parameters
    * — probing a d×w sketch with d'×w' positions hashes to cells that
    * don't correspond to the build and silently returns wrong (often 0)
    * estimates, violating the one-sided est ≥ true guarantee with no
    * error raised. */
  final case class CmsSketch(counters: DataFrame, d: Int, w: Int)

  /** Count-min sketch counters over `key` occurrences: (row, col, cnt),
    * cnt = how many input rows hash to that cell. ALL-INTEGER arithmetic —
    * unlike the HLL's one float division there is no float anywhere, so
    * the sketch is trivially bit-identical cross-engine. d·w cells of
    * state regardless of corpus size; the build is one explode(d) +
    * hash-aggregate pass with map-side partials. Returns the counters
    * bundled with their geometry ([[CmsSketch]]). */
  def cmsCounters(df: DataFrame, key: Column, d: Int = 4, w: Int = 512): CmsSketch = {
    require(d >= 1 && w >= 2, s"need d >= 1, w >= 2; got d=$d, w=$w")
    CmsSketch(
      df.select(posexplode(cmsPositions(key, d, w)).as(Seq("row", "col")))
        .groupBy(col("row"), col("col")).agg(count(lit(1)).as("cnt")),
      d, w)
  }

  /** Point-query the sketch for each probe key: min over the key's d
    * cells — the classic CMS estimate, ≥ the true count always and
    * ≤ true + εN with probability 1−δ (ε = e/w, δ = e^−d). Join ships
    * (row, col) pairs against the d·w-cell counter table (broadcastable
    * at any corpus size). Adds `cms_est` to the probe rows, which must be
    * unique (they are the group-back key). Probe positions are computed
    * from the geometry carried inside `sketch`, so they are the build's
    * by construction. */
  def cmsQuery(sketch: CmsSketch, probes: DataFrame, probeKey: Column): DataFrame = {
    require(!probes.columns.contains("row") && !probes.columns.contains("col"),
      "cmsQuery reserves column names row/col; rename them in the probe set first")
    val keep = probes.columns.map(col)
    probes
      .select(keep :+ posexplode(cmsPositions(probeKey, sketch.d, sketch.w))
        .as(Seq("row", "col")): _*)
      .join(sketch.counters, Seq("row", "col"), "left")
      // A never-hit cell is absent from the counter table — its value is 0,
      // and min() must see it (CMS estimates of unseen keys can be 0).
      .groupBy(keep: _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
  }

  /** Equi-width histogram quantile sketch — the deterministic, mergeable
    * quantile structure beside q108's engine-internal t-digest (the same
    * relationship [[hllRegisters]] has to q36's native HLL): per group,
    * `bins` equal integer-width buckets over [min, max]; a quantile's
    * estimate is the UPPER EDGE of the first bucket whose cumulative
    * count reaches the ceil(q·n) rank, which bounds the true discrete
    * quantile from above by construction and errs by at most one bucket
    * width (emitted as `err_bound`). ALL-INTEGER arithmetic — bin index
    * ((v−min)·bins) div range, rank (num·n + den − 1) div den, edge
    * min + ceil((b+1)·range/bins) − 1 — so a second engine reproduces
    * every estimate exactly. State per group = bins counters + (min, max,
    * n), constant at any corpus size; the window runs over ≤ bins rows
    * per group. Partial histograms merge by bin-wise sum ONLY under a
    * shared [min, max] frame — which is exactly how this computes (a
    * bounds pass, then the histogram pass bins every partition against
    * the same frame); merging sketches built on different frames needs a
    * lossy re-bin, the classic equi-width caveat.
    *
    * `qs` = (output column, numerator, denominator), e.g.
    * ("p50", 1, 2). */
  def histogramQuantiles(df: DataFrame, group: Column, value: Column, bins: Int,
      qs: Seq[(String, Int, Int)]): DataFrame = {
    require(bins >= 2, s"need bins >= 2, got $bins")
    require(qs.nonEmpty && qs.forall { case (_, n, d) => n > 0 && n <= d },
      "each quantile must satisfy 0 < num <= den")
    import org.apache.spark.sql.expressions.Window
    // Complete-case: a NULL value would land in a NULL bin whose position
    // in the cumulative window differs BY ENGINE (Spark sorts nulls first,
    // DuckDB last) — the one input shape that could silently de-sync the
    // oracle. Dropped explicitly so n, the bounds, and every rank agree.
    //
    // All divisions below are SQL `div` — EXACT int64 integral division,
    // matching DuckDB's `//`. Semantics.intDiv (floor of a double divide)
    // would misbin values once (v − min)·bins exceeds 2^53 — e.g. a
    // nanosecond-timestamp column spanning days. The remaining bound is
    // the multiplication itself: ranges beyond Long.MaxValue/bins
    // (≈ 1.4e17 at 64 bins) overflow and must be rescaled first.
    val base = df.select(group.as("g"), value.cast("long").as("v"))
      .filter(col("v").isNotNull)
    // NULL-SAFE group joins (<=>): groupBy keeps a NULL group as its own
    // row, but an equi-join on "g" would never match it back, silently
    // dropping that group from the output — the same silent-row-loss
    // class groupedShuffleRank fixed with <=>. A DuckDB oracle over a
    // nullable group must mirror this with IS NOT DISTINCT FROM.
    val stats = base.groupBy(col("g"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"), count(lit(1)).as("n"))
      .withColumnRenamed("g", "gs")
    val binned = base.join(broadcast(stats), col("g") <=> col("gs")).drop("gs")
      .withColumn("bin", expr(s"((v - mn) * CAST($bins AS BIGINT)) div (mx - mn + 1)"))
      .groupBy(col("g"), col("bin")).agg(count(lit(1)).as("cnt"))
    val cum = binned.withColumn("cum",
      sum(col("cnt")).over(Window.partitionBy(col("g")).orderBy(col("bin"))))
    val withEdge = cum.join(broadcast(stats), col("g") <=> col("gs")).drop("gs")
      .withColumn("upper", expr(
        s"mn + (((bin + 1) * (mx - mn + 1) + ${bins - 1}) div $bins) - 1"))
    val estAggs = qs.map { case (name, num, den) =>
      min(when(col("cum") >= expr(s"(n * $num + ${den - 1}) div $den"),
        col("upper"))).as(name)
    }
    withEdge
      .groupBy(col("g"), col("n"), col("mn"), col("mx"))
      .agg(estAggs.head, estAggs.tail: _*)
      .withColumn("err_bound", expr(s"(mx - mn + $bins) div $bins"))
      .drop("mn", "mx")
  }

  /** One-row raw-HLL estimate from [[hllRegisters]]: m, the count of
    * nonzero registers, the exact fixed-point harmonic numerator
    * Σ 2^(53−reg) (bigint), and the raw estimate α_m·m²·2^53/S rounded
    * 1e-6. Literal-arithmetic α and one exactly-rounded division keep the
    * float path bit-identical across engines. */
  def hllEstimate(registers: DataFrame, p: Int = 8): DataFrame = {
    val (aggs, estimate) = hllEstimateExprs(p)
    registers.agg(aggs.head, aggs.tail: _*).withColumn("hll_estimate", estimate)
  }

  /** The (aggregate columns, estimate expression) every HLL estimator
    * uses — ONE definition shared by the global and grouped forms so the
    * α/fixed-point arithmetic cannot drift between them.
    *
    * The literal-arithmetic α is the m ≥ 128 approximation
    * (0.7213/(1 + 1.079/m)); the HLL paper specifies different constants
    * for m = 16/32/64, so smaller sketches are rejected rather than
    * silently biased ~1% on top of the documented raw-estimator bias.
    * The UPPER bound is the fixed point's: with m = 2^p registers and an
    * empty bucket contributing 2^(53-0), the worst-case harmonic sum is
    * m·2^53 = 2^(p+53), which overflows int64 for p ≥ 10 — Spark's
    * non-ANSI sum would wrap to garbage silently and a DuckDB oracle
    * (hugeint sum) would diverge. p ≤ 9 keeps the sum provably < 2^63;
    * given hllRegisters' p % 4 == 0 rule the practical setting is p = 8.
    * (Per GROUP the sum is the global form's worst case, so the bound
    * transfers unchanged.) */
  private def hllEstimateExprs(p: Int): (Seq[Column], Column) = {
    require(p >= 7 && p <= 9,
      s"hllEstimate needs 7 <= p <= 9 (alpha approximation / int64 fixed-point sum), got p=$p")
    val m = (1L << p).toDouble
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m))
    (Seq(
      count(lit(1)).as("m"),
      sum(when(col("reg") > 0L, 1L).otherwise(0L)).as("nonzero_regs"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - reg AS INT))")).as("harmonic_fp")),
      graft.engine.Semantics.roundz(
        alpha * lit(m) * lit(m) * lit(9007199254740992.0)
          / col("harmonic_fp").cast("double"), 6))
  }

  /** [[hllEstimate]] per group over [[hllRegistersGrouped]] output — one
    * row per g with the same (m, nonzero_regs, harmonic_fp, estimate)
    * columns, same p ∈ [7, 9] bound ([[hllEstimateExprs]], shared). */
  def hllEstimateGrouped(registers: DataFrame, p: Int = 8): DataFrame = {
    val (aggs, estimate) = hllEstimateExprs(p)
    registers.groupBy(col("g")).agg(aggs.head, aggs.tail: _*)
      .withColumn("hll_estimate", estimate)
  }

  /** Pairwise set-operation estimates from GROUPED register tables — the
    * classic reason sketches exist: |A ∪ B| comes from bucket-wise MAX of
    * the two groups' registers (union of sketches IS the sketch of the
    * union — exact, not approximate, at the register level), and
    * |A ∩ B| ≈ |A| + |B| − |A ∪ B| by inclusion–exclusion, all WITHOUT
    * rescanning the corpus: at 100 TB the registers are |groups|·2^p rows
    * and every pairwise audience-overlap query runs on them alone.
    * One row per unordered group pair (g_a < g_b): both marginal
    * estimates, the union estimate, and `overlap_est` (can be slightly
    * negative when the raw-estimator errors collide — reported raw, the
    * honest sketch answer; clamp downstream if a measure is needed).
    * All arithmetic rides [[hllEstimateExprs]] plus exactly-rounded
    * add/subtract, so a DuckDB re-execution hash-matches. NULL groups
    * are excluded from pairing (NULL never orders under `<`). */
  def hllOverlapEstimates(registers: DataFrame, p: Int = 8): DataFrame = {
    val (aggs, estimate) = hllEstimateExprs(p)
    // Materialize the register table ONCE: it feeds three consumers (both
    // sides of the pair join + the marginal estimates), and an
    // unmaterialized lineage would re-run the caller's corpus scan per
    // consumer — defeating the operator's never-rescan-the-corpus point.
    // |groups|·2^p rows, so the checkpoint is always small; cleaned by
    // the session's Hygiene sweep like the other pinned materializations.
    val regs = graft.engine.Materialize.checkpoint(registers)
    val a = regs.select(col("g").as("ga"), col("bucket"), col("reg").as("ra"))
    val b = regs.select(col("g").as("gb"), col("bucket"), col("reg").as("rb"))
    val unionEst = a.join(b, Seq("bucket"))
      .filter(col("ga") < col("gb"))
      .select(col("ga"), col("gb"), greatest(col("ra"), col("rb")).as("reg"))
      .groupBy(col("ga"), col("gb")).agg(aggs.head, aggs.tail: _*)
      .withColumn("union_est", estimate)
      .select(col("ga"), col("gb"), col("union_est"))
    val marginals = hllEstimateGrouped(regs, p)
      .select(col("g"), col("hll_estimate"))
    unionEst
      .join(broadcast(marginals.select(col("g").as("ga"), col("hll_estimate").as("est_a"))), Seq("ga"))
      .join(broadcast(marginals.select(col("g").as("gb"), col("hll_estimate").as("est_b"))), Seq("gb"))
      .withColumn("overlap_est", graft.engine.Semantics.roundz(
        (col("est_a") + col("est_b")) - col("union_est"), 6))
      .select(col("ga"), col("gb"), col("est_a"), col("est_b"),
        col("union_est"), col("overlap_est"))
  }
}
