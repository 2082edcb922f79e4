package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for the training-data extension surface
  * (builder prompt; SURVEY §2.10): deterministic train/test splitting,
  * per-source quota sampling, and regex redaction. These are the steps that
  * sit between dedup (X1/X2) and tokenization in a large-scale LLM data
  * pipeline.
  *
  * Scale design: splitting and redaction are stateless narrow maps — zero
  * shuffle at any corpus size, and a document's split assignment never
  * changes as the corpus grows (hash membership, not row position — the
  * property that keeps eval sets leak-free across recrawls). Quota sampling
  * is one window over the group key. All hashing is md5 so the DuckDB
  * oracle reproduces assignments bit-for-bit.
  *
  * Reserved column names: each operator adds fixed output columns
  * ([[redact]]: `n_redactions`, `text_redacted`; [[packSequences]]:
  * `n_tokens`, `chunk_id`) and uses fixed scratch columns ([[quotaSample]]:
  * `__rk`; [[packSequences]]: `__tok`, `__cum`; [[mixtureSample]]:
  * `__mix_source`, `__mix_rate`). An input that already
  * carries one of these would silently be dropped or duplicated, so every
  * operator FAILS FAST with the colliding names instead.
  */
object CurationOps {

  /** Fail fast when `df` already contains a column this operator would
    * overwrite (fixed output name) or consume (scratch name). */
  private def requireFresh(df: DataFrame, op: String, names: String*): Unit = {
    val clash = names.filter(df.columns.contains)
    require(clash.isEmpty,
      s"CurationOps.$op reserves column name(s) ${clash.mkString(", ")} " +
        "already present in the input; rename them first")
  }

  /** Deterministic 0..99 bucket from an id: first 8 hex digits of
    * md5(id-as-string) mod 100. Uniform, engine-reproducible, and
    * independent of row order or partitioning. */
  def hashBucket100(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long") % 100

  /** Split label from cumulative percentage cuts, e.g.
    * Seq("train" -> 80, "valid" -> 90, "test" -> 100): bucket < 80 → train,
    * 80..89 → valid, 90..99 → test. */
  def hashSplit(id: Column, cuts: Seq[(String, Int)]): Column = {
    require(cuts.nonEmpty && cuts.last._2 == 100, "cuts must be cumulative and end at 100")
    val b = hashBucket100(id)
    cuts.init.foldRight(lit(cuts.last._1): Column) { case ((label, cut), rest) =>
      when(b < cut, label).otherwise(rest)
    }
  }

  /** Per-group quota sampling: keep at most `k` rows per group,
    * deterministically — ranked by (md5(id), id), so the kept subset is a
    * uniform pseudo-random draw that is stable across runs, partitionings,
    * and engines. One shuffle on the group key, and Spark plans the
    * row_number ≤ k filter as partial+final WindowGroupLimit: every map
    * partition ships at most k rows per group into the exchange, so a
    * pathologically hot group costs k·numMapPartitions shuffled rows, not
    * its full size (plan-visible in `graft.Diag plan <sfDir> q46_source_quota`). */
  def quotaSample(df: DataFrame, group: Column, id: Column, k: Int): DataFrame = {
    requireFresh(df, "quotaSample", "__rk")
    val w = Window.partitionBy(group).orderBy(md5(id.cast("string")), id)
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .drop("__rk")
  }

  /** Regex redaction: replace every match of each pattern with its
    * placeholder and count the matches removed. Patterns must stay within
    * the RE2-compatible subset (no lookarounds) so the oracle engine agrees
    * on match boundaries. Stateless narrow map — the redaction analogue of
    * a PII scrub pass over 100 TB of text. */
  def redact(df: DataFrame, text: Column, patterns: Seq[(String, String)]): DataFrame = {
    requireFresh(df, "redact", "n_redactions", "text_redacted")
    // Patterns apply SEQUENTIALLY, and each pattern's matches are counted on
    // the text as the PREVIOUS patterns left it — so n_redactions equals the
    // number of replacements actually performed. (Counting every pattern
    // against the original text would overcount when an earlier replacement
    // destroys a later pattern's match, e.g. "a@x.com" after "\ba\b"→<TOK>.)
    val (nRed, redacted) = patterns.foldLeft((lit(0L), text)) {
      case ((n, c), (pat, repl)) =>
        (n + regexp_count(c, lit(pat)).cast("long"), regexp_replace(c, pat, repl))
    }
    df.withColumn("n_redactions", nRed)
      .withColumn("text_redacted", redacted)
  }

  /** Greedy sequential context packing: assign each document to the
    * budget-sized chunk its STARTING token offset falls in, per group in a
    * deterministic order — the running-offset formulation of sequence
    * packing for fixed context windows. A document may straddle its chunk
    * boundary (the trainer's concat-and-split behavior); exact reset-on-
    * overflow packing is inherently sequential and buys <1 chunk per group.
    * One window per group — the same partitioning any downstream per-chunk
    * work reuses. */
  def packSequences(df: DataFrame, group: Column, order: Column,
      tokens: Column, budget: Int): DataFrame = {
    requireFresh(df, "packSequences", "__tok", "__cum", "n_tokens", "chunk_id")
    val w = Window.partitionBy(group).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__tok", tokens.cast("long"))
      .withColumn("__cum", sum(col("__tok")).over(w))
      .withColumn("chunk_id",
        floor((col("__cum") - col("__tok")) / lit(budget.toDouble)).cast("long"))
      .drop("__cum")
      .withColumnRenamed("__tok", "n_tokens")
  }

  /** Source-weighted mixture sampling — the data-mixing step that turns raw
    * corpus proportions into a target training mixture: each source keeps
    * `rate`% of its documents (0..100), decided per document by a salted
    * hash of its id. Deterministic (re-runs and engines agree document by
    * document), stateless (zero shuffle — the rates table is broadcast and
    * the keep decision is a narrow map), and stable under corpus growth
    * (a recrawl never flips an old document's keep bit). Sources absent
    * from `rates` are dropped: a mixture spec enumerates what trains.
    * `salt` decorrelates the keep decision from [[hashSplit]]'s bucket so
    * sampling never biases split membership. */
  def mixtureSample(df: DataFrame, source: Column, id: Column,
      rates: Seq[(String, Int)], salt: String = "#mix"): DataFrame = {
    requireFresh(df, "mixtureSample", "__mix_source", "__mix_rate")
    require(rates.forall { case (_, r) => r >= 0 && r <= 100 },
      "mixture rates are percentages in 0..100")
    require(rates.map(_._1).distinct.size == rates.size,
      s"duplicate source in mixture rates: ${rates.map(_._1).diff(rates.map(_._1).distinct).distinct.mkString(", ")} " +
        "— a repeated key would fan out the join and duplicate documents")
    val spark = df.sparkSession
    import spark.implicits._
    val w = broadcast(rates.toDF("__mix_source", "__mix_rate"))
    df.join(w, source === col("__mix_source"))
      .filter(hashBucket100(concat(id.cast("string"), lit(salt))) < col("__mix_rate"))
      .drop("__mix_source", "__mix_rate")
  }

  /** Token-budget mixture PLANNER — the step that turns target mixture
    * shares into the per-source rates [[mixtureSample]] executes: given
    * each source's available tokens and a target share (percent of the
    * final mixture, by tokens), the largest achievable mixture is bound by
    * the scarcest source (B = min over sources of avail/share), every
    * source plans share × B tokens, and the binding source keeps rate 1.0.
    * One grouped aggregate over target sources + a broadcast scalar min —
    * no shuffle beyond the aggregate at any corpus size. Sources absent
    * from `targets` are ignored; a target source absent from the corpus
    * simply contributes no row (the plan covers what exists — callers
    * should validate the spec against the returned row count). */
  def mixturePlan(df: DataFrame, source: Column, tokens: Column,
      targets: Seq[(String, Int)]): DataFrame = {
    require(targets.nonEmpty && targets.forall(_._2 > 0),
      "mixture target shares must be positive")
    require(targets.map(_._1).distinct.size == targets.size,
      "duplicate source in mixture targets")
    val spark = df.sparkSession
    import spark.implicits._
    val t = broadcast(targets.toDF("source", "target_pct"))
    val tok = df.select(source.as("source"), tokens.as("__tok"))
      .join(t, "source")
      .groupBy(col("source"), col("target_pct"))
      .agg(sum(col("__tok")).as("avail_tokens"))
      .withColumn("__ratio",
        col("avail_tokens").cast("double") / col("target_pct").cast("double"))
    tok.crossJoin(broadcast(tok.agg(min(col("__ratio")).as("__mr"))))
      .select(col("source"), col("avail_tokens"),
        col("target_pct").cast("long").as("target_pct"),
        floor(col("target_pct") * col("__mr")).cast("long").as("planned_tokens"),
        graft.engine.Semantics.roundz(
          col("target_pct") * col("__mr") / col("avail_tokens").cast("double"), 6)
          .as("keep_rate"))
  }

  /** EXACT-count stratified eval split: within each stratum, the `nEval`
    * documents ranked first by md5(id) become 'eval', the rest 'train' —
    * fixed-SIZE eval sets per stratum (benchmark suites want exactly N
    * docs per domain), where [[hashSplit]] gives fixed-RATE membership.
    * Ordering by a hash of the id (id itself as tiebreak) makes the choice
    * uniform and engine-reproducible, but — unlike [[hashSplit]] — an
    * assignment CAN change when the stratum grows (a new doc can hash into
    * the top-N): exact counts and grow-stable membership are mutually
    * exclusive, which is precisely the [[hashSplit]]/this split of duties.
    *
    * One `row_number` window per stratum = one shuffle; the per-stratum
    * sort is the price of exact ranks. At 100 TB with huge strata, rank
    * only a hash-prefix slice (WHERE md5(id) < threshold with a generous
    * margin) so the sort touches ~nEval × margin rows, then rank inside —
    * the standard top-k-by-random-key contraction. */
  def stratifiedEvalSplit(df: DataFrame, stratum: Column, id: Column,
      nEval: Int): DataFrame = {
    require(nEval >= 0, "nEval must be non-negative")
    requireFresh(df, "stratifiedEvalSplit", "split", "__sr")
    val w = Window.partitionBy(stratum).orderBy(md5(id.cast("string")), id)
    df.withColumn("__sr", row_number().over(w))
      .withColumn("split", when(col("__sr") <= nEval, "eval").otherwise("train"))
      .drop("__sr")
  }

  /** Robust per-group outlier profile over a numeric feature: median and
    * MAD (median absolute deviation) per group, plus how many rows fall
    * outside median ± `k`·MAD — the standard heavy-tail-safe outlier rule
    * for curation filters (doc-length, per-domain score drift), where
    * mean/stddev would let the outliers move their own threshold.
    *
    * Column-keyed adapter over the String-keyed `robustOutliers` below
    * (round-10: previously two EXACT `percentile` aggregates, whose
    * per-group array collect is the scale anti-pattern the prefix-sum
    * machinery replaces — one implementation now serves both
    * signatures). Output contract: (grp, median, mad, n_rows,
    * n_outliers) with median/mad displayed at 6 decimals and the gate
    * computed on unrounded values. One deliberate contract CHANGE from
    * the old percentile form: a group whose values are ALL NULL has no
    * median and is absent from the output (exact ranks are computed over
    * non-null values only), where the percentile form emitted it with
    * null median/mad — callers needing every group should left-join this
    * result back to their group list. */
  def robustOutliers(df: DataFrame, group: Column, value: Column,
      k: Double): DataFrame =
    robustOutliers(df.select(group.as("grp"), value.cast("double").as("__rv")),
        "grp", col("__rv"), k)
      .select(col("grp"),
        graft.engine.Semantics.roundz(col("med"), 6).as("median"),
        graft.engine.Semantics.roundz(col("mad"), 6).as("mad"),
        col("n_rows"), col("n_outliers"))

  /** Power-of-two length histogram — the doc/sequence-length distribution
    * report packing and truncation decisions read: rows bucketed by binary
    * magnitude (bucket = number of binary digits = ⌊log₂v⌋+1, so bucket 4
    * is 8..15), with per-bucket count, true min/max, and the cumulative
    * share of rows up to the bucket.
    *
    * The bucket is `length(bin(v))` — INTEGER-exact in any engine
    * (DuckDB: `length(to_base(v, 2))`), where a float `floor(log₂v)`
    * could disagree at exact powers of two. One hash aggregate over ≤ 64
    * buckets; the cumulative window runs over the aggregated rows (≤ 64 of
    * them at ANY corpus size — the single-partition window is on the
    * report, not the data). Non-positive values carry no binary magnitude
    * and are excluded (callers with zero-length docs count them first). */
  def log2Histogram(df: DataFrame, value: Column): DataFrame = {
    val v = df.select(value.cast("long").as("__v")).filter(col("__v") >= 1)
    val h = v.groupBy(length(bin(col("__v"))).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("__v")).as("lo"), max(col("__v")).as("hi"))
    val wCum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    h.withColumn("cum_frac", graft.engine.Semantics.roundz(
        sum(col("n_rows")).over(wCum).cast("double") /
          sum(col("n_rows")).over(wAll).cast("double"), 6))
      .select(col("bucket"), col("lo"), col("hi"), col("n_rows"), col("cum_frac"))
  }

  /** Cross-split near-dup leakage audit — the eval-integrity check run
    * AFTER splitting and near-dup detection: every candidate pair whose
    * members landed in DIFFERENT splits is an eval document with a train
    * near-twin (the leakage [[hashSplit]]'s doc-level determinism cannot
    * prevent, because near-duplicates are distinct doc_ids that hash
    * independently). Returns pair counts by unordered split combination —
    * the off-diagonal rows are the leak report; same-split rows are the
    * baseline dup density for comparison.
    *
    * `pairs` is any (a_id, b_id) candidate/verified pair set (MinHash
    * bands, containment, semantic); `splits` is (doc_id, split). Two
    * equi-joins on doc id (the split side is a projection of the corpus —
    * shuffles ids and split labels only, never text) and one tiny
    * aggregate. The unordered-combination key uses least/greatest so
    * (train,test) and (test,train) pairs collapse into one row.
    *
    * The split joins are LEFT joins with an explicit `unknown` label: a
    * pair whose doc id is missing from `splits` surfaces as an `unknown`
    * row instead of silently vanishing — in a leakage audit a silent
    * undercount is the worst failure mode (an inner join would hide
    * exactly the ids whose split assignment is broken). */
  def pairSplitAudit(pairs: DataFrame, splits: DataFrame): DataFrame = {
    val sa = splits.toDF("a_id", "__sa")
    val sb = splits.toDF("b_id", "__sb")
    pairs.select(col("a_id"), col("b_id"))
      .join(sa, Seq("a_id"), "left").join(sb, Seq("b_id"), "left")
      .select(coalesce(col("__sa"), lit("unknown")).as("__sa"),
        coalesce(col("__sb"), lit("unknown")).as("__sb"))
      .groupBy(least(col("__sa"), col("__sb")).as("split_lo"),
        greatest(col("__sa"), col("__sb")).as("split_hi"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** SEMANTIC decontamination — the shingle-containment audit
    * ([[contamination]]/q50) re-based onto embedding space: an eval
    * document whose EMBEDDING has a near neighbor in the train split is
    * contaminated even when no n-gram survives verbatim (paraphrase /
    * translation leakage, the case lexical decontamination cannot see).
    * For each eval vector, counts train vectors at cosine ≥ `threshold`
    * among (cell × OR-ed sign-LSH bucket) candidates — the same density-
    * bounded generator as the near-dup ops, split-crossing instead of
    * a<b. Every eval vector surfaces (LEFT join, 0 neighbors = clean);
    * candidates are ≤ T× the single-table volume and only scalar
    * (eval_id, train_id) pairs pass the dedup shuffle. */
  def semanticDecontamination(embs: DataFrame, id: String, emb: Column, cellCol: Column,
      split: Column, evalSplit: String, trainSplit: String,
      threshold: Double, tables: Seq[Seq[Seq[Double]]]): DataFrame = {
    import graft.operators.SimilarityOps
    val ev = SimilarityOps.lshCandidateRows(
      embs.filter(split === evalSplit), id, emb, cellCol, tables, "e_")
    val tr = SimilarityOps.lshCandidateRows(
      embs.filter(split === trainSplit), id, emb, cellCol, tables, "t_")
    val hits = ev.join(tr, Seq("cell", "tb"))
      .withColumn("cosine",
        SimilarityOps.pairCosine(col("e_v"), col("e_nrm"), col("t_v"), col("t_nrm")))
      .filter(col("cosine") >= threshold)
      .select(col("e_id"), col("t_id")).distinct() // OR across tables
      .groupBy(col("e_id")).agg(count(lit(1)).as("n_train_neighbors"))
    embs.select(col(id).as("e_id"), split.as("split"))
      .filter(col("split") === evalSplit)
      .join(hits, Seq("e_id"), "left")
      .select(col("e_id").as("vec_id"),
        coalesce(col("n_train_neighbors"), lit(0L)).as("n_train_neighbors"),
        (coalesce(col("n_train_neighbors"), lit(0L)) > 0).as("contaminated"))
  }

  /** Corpus snapshot diff — the recrawl reconciliation report: FULL OUTER
    * join of two snapshots on document id, each row classified added (only
    * in `after`), removed (only in `before`), changed (both, fingerprints
    * differ), or unchanged. The audit run between any two crawl versions
    * before shipping `after` to training; counts by class are the
    * headline, and the same join projected row-wise is the change feed.
    * One equi-join shuffling (id, fingerprint) pairs only — never text —
    * then a tiny aggregate.
    *
    * Presence is decided by explicit per-side markers, NOT fingerprint
    * nullness (a row present in both snapshots with a null fingerprint
    * must not masquerade as added/removed); a doc present on both sides
    * with a NULL fingerprint on either is classified `changed` — equality
    * of unknown content can't be asserted, and the conservative class for
    * a reconciliation report is the one that triggers a second look. */
  def snapshotDiff(before: DataFrame, after: DataFrame,
      id: Column, fingerprint: Column): DataFrame = {
    val a = before.select(id.as("id"), fingerprint.as("fp_before"),
      lit(true).as("__in_before"))
    val b = after.select(id.as("id"), fingerprint.as("fp_after"),
      lit(true).as("__in_after"))
    a.join(b, Seq("id"), "full_outer")
      .select(when(col("__in_before").isNull, "added")
        .when(col("__in_after").isNull, "removed")
        .when(col("fp_before").isNull || col("fp_after").isNull, "changed")
        .when(col("fp_before") =!= col("fp_after"), "changed")
        .otherwise("unchanged").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Per-group percentile-rank score calibration: rank each row's score
    * within its group as `percent_rank` (0 = lowest, 1 = highest) — the
    * step that makes a quality threshold mean the SAME thing across
    * sources whose raw score distributions differ (a fixed raw cutoff
    * keeps 90% of one source and 40% of another; a percentile cutoff
    * keeps the chosen share of each). One window per group — the same
    * shuffle any per-source filter pass needs; at huge groups swap exact
    * ranks for binning against per-group `approx_percentile` cuts, same
    * downstream rule. Ties share a rank in both engines (ANSI
    * percent_rank), so the output is engine-exact. */
  def percentileCalibrate(df: DataFrame, group: Column, score: Column): DataFrame = {
    requireFresh(df, "percentileCalibrate", "score_pctile")
    // ordering on the score ALONE: tied scores share a rank (ANSI
    // percent_rank), so the output value is a pure function of
    // (group, score) — deterministic and engine-exact with no tiebreak
    val w = Window.partitionBy(group).orderBy(score)
    df.withColumn("score_pctile",
      graft.engine.Semantics.roundz(percent_rank().over(w), 6))
  }

  /** Train/eval decontamination: for each eval document, the fraction of
    * its distinct shingles that also occur anywhere in the training corpus.
    * `evalShingles`/`trainShingles` are (doc_id, sh) rows (e.g.
    * [[TextOps.shingleRows]]). The train side is reduced to its DISTINCT
    * shingle vocabulary before the join, so the join's right side is
    * vocabulary-bounded, not corpus-bounded; [[contaminationBloom]] is the
    * 100 TB variant (broadcast Bloom bitmap prefilter, no shuffle on the
    * probe, this join demoted to the false-positive rescan). */
  def contamination(evalShingles: DataFrame, trainShingles: DataFrame): DataFrame = {
    val train = trainShingles.select(col("sh")).distinct().withColumn("__hit", lit(1L))
    evalShingles.select(col("doc_id"), col("sh"))
      .join(train, Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_contaminated"))
  }

  /** [[contamination]]'s 100 TB shape, made concrete: build a Bloom filter
    * over the train shingle vocabulary DISTRIBUTED (typed
    * [[graft.functions.BloomBuild]] Aggregator — fixed-size bitset buffer,
    * OR-merge), pull the KB-sized sketch to the driver (k-means-centroid
    * class of driver state), and probe it with the codegen'd
    * `graft_bloom_contains` expression so only bloom-POSITIVE eval shingles
    * reach the exact rescan join. Blooms have no false negatives, so the
    * rescan makes the result EXACTLY equal to [[contamination]] — the
    * filter only shrinks the join's probe side (at 100 TB: from the whole
    * eval corpus to its truly-overlapping sliver plus an ε of false
    * positives).
    *
    * Sizing: `mBits = 0` (the default) auto-sizes the filter from the
    * actual vocabulary cardinality via [[graft.functions.BloomUtil.sizeFor]]
    * (m = n·k/ln2 → fp ≈ 2^−k at design load, clamped to 2 KiB..16 MiB) —
    * a fixed mBits either wastes plan bytes on small vocabularies or
    * saturates on big ones, and the count is one cheap job over the already-
    * checkpointed distinct vocabulary. An explicit positive mBits pins the
    * size (a mis-sized filter still returns exact results; it only loses
    * prefilter selectivity — see the saturation spec in BloomFunctionsSpec). */
  def contaminationBloom(evalShingles: DataFrame, trainShingles: DataFrame,
      mBits: Int = 0, k: Int = 5): DataFrame = {
    import graft.functions.{BloomBuild, BloomUtil, GraftFunctions}
    // The vocabulary distinct is the operator's most expensive stage and is
    // needed TWICE — by the bloom-build action and by the rescan join —
    // across two separate jobs, where exchange reuse cannot fire. Checkpoint
    // it once (lineage-truncated, ContextCleaner-reclaimed) so the corpus
    // scan + distinct shuffle runs a single time.
    val train = graft.engine.Materialize.checkpoint(trainShingles.select(col("sh")).distinct())
    val m = if (mBits > 0) mBits else BloomUtil.sizeFor(train.count(), k)
    val bloomAgg = org.apache.spark.sql.functions.udaf(
      new BloomBuild(m, k), org.apache.spark.sql.Encoders.STRING)
    val bloom: Array[Byte] = train.agg(bloomAgg(col("sh"))).head.getAs[Array[Byte]](0)
    val totals = evalShingles.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"))
    val hits = evalShingles
      .filter(GraftFunctions.bloomContains(col("sh"), bloom, k))
      .join(train, Seq("sh"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
    totals.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
  }

  /** DSIR importance scoring (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"): rank raw documents by how much more
    * likely their hashed-n-gram features are under a TARGET distribution
    * (a small trusted/high-quality set) than under the RAW corpus
    * distribution. Features are unigram occurrences hashed into `numBuckets`
    * buckets (md5, engine-reproducible); both distributions are add-one-
    * smoothed bucket frequencies; a document's score is the MEAN per-token
    * log₂ likelihood ratio — the importance weight the DSIR sampler draws
    * against. Selecting top-k by score is the greedy (temperature→0) variant.
    *
    * Scale design: the bucket table is `numBuckets` rows regardless of
    * corpus size — a fixed-size broadcast dim (the whole point of hashing
    * features instead of carrying the vocabulary); the token stream is
    * touched twice (one counting aggregate, one scoring join) and both
    * passes are linear with partial aggregation. Output: one row per doc
    * with `dsir_score` (double). */
  def dsirScores(df: DataFrame, id: Column, text: Column, isTarget: Column,
      numBuckets: Int = 256): DataFrame = {
    require(numBuckets > 0, "numBuckets must be positive")
    val tok = df.select(id.as("doc_id"), isTarget.as("__tgt"),
      explode(split(text, " ")).as("__tok"))
      .withColumn("__bkt",
        conv(substring(md5(col("__tok")), 1, 8), 16, 10).cast("long") % numBuckets)
    val counts = tok.groupBy(col("__bkt"))
      .agg(sum(when(col("__tgt"), 1L).otherwise(0L)).as("__ct"),
        count(lit(1)).as("__cr"))
    val totals = counts.agg(sum(col("__ct")).cast("double").as("__t"),
      sum(col("__cr")).cast("double").as("__r"))
    val b = lit(numBuckets.toDouble)
    val ratios = counts.crossJoin(broadcast(totals))
      .select(col("__bkt"),
        (log2((col("__ct") + 1d) / (col("__t") + b))
          - log2((col("__cr") + 1d) / (col("__r") + b))).as("__lr"))
    tok.join(broadcast(ratios), "__bkt")
      .groupBy(col("doc_id"))
      .agg(avg(col("__lr")).as("dsir_score"))
  }

  /** Sliding-window chunker with overlap — the retrieval/training chunk
    * shape [[packSequences]] does not cover: each document is cut into
    * token windows of `window` tokens starting every `stride` tokens
    * (stride < window ⇒ overlapping context, the RAG-index default; stride
    * = window ⇒ disjoint). Emits one row per chunk with its position, token
    * count, and content fingerprint. Pure narrow map (split + bounded
    * `sequence` explode + slice) — zero shuffle at any corpus size, and a
    * document's chunking never depends on any other document. */
  def slidingChunks(df: DataFrame, id: Column, text: Column,
      window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    requireFresh(df, "slidingChunks", "chunk_id", "n_chunk_tokens", "chunk_fp", "__toks")
    val withToks = df.withColumn("__toks", split(text, " "))
    withToks
      .select(id.as("doc_id"), col("__toks"),
        explode(sequence(lit(0), greatest(size(col("__toks")) - 1, lit(0)),
          lit(stride))).as("__start"))
      .select(col("doc_id"),
        (col("__start") / stride).cast("long").as("chunk_id"),
        size(slice(col("__toks"), col("__start") + 1, lit(window))).cast("long")
          .as("n_chunk_tokens"),
        md5(array_join(slice(col("__toks"), col("__start") + 1, lit(window)), " "))
          .as("chunk_fp"))
  }

  /** CCNet-style perplexity bucketing: label every row head / middle /
    * tail by the corpus-wide TERTILES of its LM score (CCNet §4: Wikipedia-
    * LM perplexity tertiles are the canonical quality strata — "head" is
    * the best-scoring third a pipeline upsamples, "tail" the third it
    * drops or down-weights). Generic over the score column, so it
    * composes with [[graft.operators.TextOps.surprisalScores]] (q69),
    * the bigram model (q97), or a real LM's scores.
    *
    * The cuts are ONE exact-percentile aggregate (two doubles) broadcast
    * back over the stream — at 100 TB swap in `percentile_approx` (q108's
    * sketch) for the cut computation; the labeling pass is unchanged, pure
    * map work. Ties sit at the boundary deterministically (`<=` against
    * the same cut value in any engine). Adds `ppl_bucket`. */
  def perplexityBuckets(scored: DataFrame, score: Column): DataFrame = {
    requireFresh(scored, "perplexityBuckets", "ppl_bucket", "__c1", "__c2")
    // Cuts are rounded 1e-6 before the comparison: exact-percentile
    // interpolation differs across engines in the last ulp, and an
    // unrounded cut lying within an ulp of a (rounded) score would
    // classify that score differently per engine.
    val cuts = scored.agg(
        percentile(score, array(lit(1.0 / 3), lit(2.0 / 3))).as("cs"))
      .select(graft.engine.Semantics.roundz(col("cs").getItem(0), 6).as("__c1"),
        graft.engine.Semantics.roundz(col("cs").getItem(1), 6).as("__c2"))
    scored.crossJoin(broadcast(cuts))
      .withColumn("ppl_bucket",
        when(score <= col("__c1"), "head")
          .when(score <= col("__c2"), "middle")
          .otherwise("tail"))
      .drop("__c1", "__c2")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis priority
    * sampling): each row draws an exponential clock `-ln(u)/w` from a
    * deterministic md5-uniform `u ∈ (0,1)` and its weight `w`; the k
    * smallest clocks are exactly a weighted sample without replacement.
    * This is the distributed-sampling workhorse ([[mixtureSample]] keeps a
    * RATE per source; this keeps an exact COUNT with per-row weights):
    * stateless clock assignment (zero shuffle), then one TakeOrderedAndProject
    * — at 100 TB each partition ships only its local top-k into the take.
    * Weights must be strictly positive; the draw is stable under corpus
    * growth (a new row never changes an old row's clock, only the cutoff). */
  def prioritySample(df: DataFrame, id: Column, weight: Column, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    requireFresh(df, "prioritySample", "priority_key")
    // u = (h + 1) / (2^32 + 1) over the first 8 md5 hex digits: strictly
    // inside (0,1) so ln(u) is finite and nonzero.
    val u = (conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("double") + 1d) /
      lit((1L << 32).toDouble + 1d)
    // Runtime guard, not just doc: a NULL weight would yield a NULL clock
    // that sorts FIRST in Spark (always sampled) but LAST elsewhere, and a
    // non-positive weight a deterministically-winning clock — both silent
    // sample corruption. The guard must be the CASE branch driving the
    // whole expression: assert_true passes NULL conditions, and a guard
    // added as an Add operand never evaluates (Add short-circuits to NULL
    // on a NULL side).
    val w = weight.cast("double")
    val key = when(w.isNull || w <= 0d,
      raise_error(concat(
        lit("prioritySample: weight must be strictly positive and non-null, got "),
        coalesce(w.cast("string"), lit("NULL")))).cast("double"))
      .otherwise(-log(u) / w)
    df.withColumn("priority_key", key)
      .orderBy(col("priority_key"), id)
      .limit(k)
  }

  /** Temperature-scaled source sampling plan (the multilingual/UNIMAX
    * α-sampling knob: p_i ∝ n_i^α flattens a head-heavy source mix; α = 1
    * is proportional, α → 0 uniform). This entry point pins α = 1/2 — the
    * common T = 2 operating point, where n^0.5 is one sqrt, an
    * IEEE-exactly-rounded op; [[temperatureMixtureAlpha]] opens the knob
    * to any dyadic α while KEEPING the exact-oracle discipline. Per source:
    * available tokens, sampling probability p_i = w_i/Σw (w = √tokens;
    * the Σ is the one order-dependent float, rounded 1e-6 on both sides),
    * planned tokens against a budget, and the implied epochs over the
    * source (> 1 = upsampled, the value the knob exists to bound). Two
    * tiny aggregates — plan cost is independent of corpus size. */
  def temperatureMixture(df: DataFrame, source: Column, tokens: Column,
      budgetTokens: Long): DataFrame =
    temperatureMixtureAlpha(df, source, tokens, budgetTokens,
      alphaNum = 1, alphaLog2Den = 1)

  /** [[temperatureMixture]] with the α knob OPEN across the dyadic
    * rationals: α = alphaNum / 2^alphaLog2Den ∈ (0, 1] — the range real
    * UNIMAX configs sweep (α ∈ {0.25, 0.375, 0.5, 0.75, 1} all land on
    * dyadics; any other setting is approximated to 1/2^10 ≈ 0.001). The
    * trick that keeps the HARD oracle: n^(k/2^m) is computed as m repeated
    * sqrt's (each IEEE-exactly-rounded) followed by k−1 left-associated
    * multiplies (each exactly rounded) — a deterministic composition both
    * engines reproduce BIT-FOR-BIT, where one pow() call is libm-dependent
    * in its last ulp. α = 1 (k=1, m=0) degenerates to proportional
    * allocation; α → 0 flattens toward uniform (spec-asserted). Same
    * two-tiny-aggregate plan: cost independent of corpus size. */
  def temperatureMixtureAlpha(df: DataFrame, source: Column, tokens: Column,
      budgetTokens: Long, alphaNum: Int, alphaLog2Den: Int): DataFrame = {
    require(budgetTokens > 0, s"budget must be positive, got $budgetTokens")
    require(alphaLog2Den >= 0 && alphaLog2Den <= 10,
      s"alphaLog2Den must be in [0, 10], got $alphaLog2Den")
    require(alphaNum > 0 && alphaNum.toLong <= (1L << alphaLog2Den),
      s"alpha = $alphaNum/2^$alphaLog2Den must lie in (0, 1]")
    val avail = df.select(source.as("source"), tokens.as("__tok"))
      .groupBy(col("source")).agg(sum(col("__tok")).as("avail_tokens"))
    // n^(1/2^m): m exactly-rounded sqrt's, composed.
    val root = (1 to alphaLog2Den).foldLeft(col("avail_tokens").cast("double")) {
      (c, _) => sqrt(c)
    }
    // root^k: k-1 left-associated exactly-rounded multiplies — the same
    // association an oracle writes as s*s*...*s.
    val weight = (2 to alphaNum).foldLeft(root)((c, _) => c * root)
    val weighted = avail.withColumn("__w", weight)
    weighted
      .crossJoin(broadcast(weighted.agg(
        graft.engine.Semantics.roundz(sum(col("__w")), 6).as("__sw"))))
      .withColumn("sample_p",
        graft.engine.Semantics.roundz(col("__w") / col("__sw"), 6))
      .withColumn("planned_tokens",
        floor(lit(budgetTokens.toDouble) * col("sample_p")).cast("long"))
      .withColumn("epochs", graft.engine.Semantics.roundz(
        col("planned_tokens").cast("double") / col("avail_tokens").cast("double"), 6))
      .select(col("source"), col("avail_tokens"), col("sample_p"),
        col("planned_tokens"), col("epochs"))
  }

  /** [[temperatureMixture]] planned on DEDUP-ADJUSTED token mass — the
    * composition that closes the planning loop between the sampling
    * instrument and the mixture: raw per-source token counts overweight
    * exactly the sources whose mass is duplicated (the docs a dedup pass
    * will delete before training ever sees them), so the √-temperature
    * plan should weigh what SURVIVES dedup. Effective mass is
    * avail · (1 − r̂) where r̂ is the per-source dup rate estimated from a
    * fingerprint-space sample ([[DedupOps.sampledDupRateJackknife]]'s
    * estimator: the sample keys on a hash OF the fingerprint, so dup
    * groups land in or out together and r̂ is unbiased at |buckets|/16 of
    * the scan cost) — the plan prices 100 TB of dedup without running it.
    * Degenerate corner: if EVERY source's r̂ rounds to 1.0 (≥10⁶:1 dup
    * ratios in every source at once), the weight sum is 0 — a corpus that
    * is all duplicates has no meaningful mixture, and the normalizer
    * REFUSES with a named error rather than dividing 0/0 (round-11
    * advice: the previous "NaN on both engines" posture was
    * engine-version-dependent — DuckDB returns NULL for float division by
    * zero unless ieee_floating_point_ops is on, so the hash equivalence
    * could fork in exactly the corner meant to be loud; the oracle
    * carries the matching CASE/error()).
    * Sources absent from the sample fall back to r̂ = 0 (raw mass,
    * LEFT-join surfaced, never dropped). Arithmetic follows q134's
    * hard-oracle discipline: r̂ is round6'd before entering, 1−r̂ and
    * avail·(1−r̂) are single exactly-rounded ops, √ is IEEE-exact, and the
    * normalizer/shares round6 — every step bit-reproducible cross-engine.
    * Same two-tiny-aggregate plan as the mixture itself; the only scan is
    * the token count plus the 3/16-cost sampled branch. */
  def temperatureMixtureEffective(df: DataFrame, source: Column, tokens: Column,
      fp: Column, sampleBuckets: Seq[String], budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"budget must be positive, got $budgetTokens")
    require(sampleBuckets.nonEmpty && sampleBuckets.forall(_.length == 1),
      "sampleBuckets must be single md5-hex chars")
    // Null-fp refusal (the sampledDupRateJackknife discipline): a null
    // would inflate r̂ (countDistinct skips it, count(1) keeps it) and
    // silently vanish from the sampled branch via md5(null).
    val base = df.select(source.as("source"), tokens.as("__tok"),
        when(fp.isNotNull, fp).otherwise(raise_error(lit(
          "temperatureMixtureEffective: fp must be non-null"))).as("__fp"))
      .withColumn("__sb", substring(md5(col("__fp").cast("binary")), 1, 1))
    val avail = base.groupBy(col("source")).agg(sum(col("__tok")).as("avail_tokens"))
    val est = base.filter(col("__sb").isin(sampleBuckets: _*))
      .groupBy(col("source"))
      .agg(graft.engine.Semantics.roundz(
        lit(1.0) - countDistinct(col("__fp")).cast("double") / count(lit(1)), 6)
        .as("__est"))
    val weighted = avail.join(est, Seq("source"), "left")
      .withColumn("est_dup_rate", coalesce(col("__est"), lit(0.0)))
      .withColumn("__eff",
        col("avail_tokens").cast("double") * (lit(1.0) - col("est_dup_rate")))
      .withColumn("__w", sqrt(col("__eff")))
    weighted
      .crossJoin(broadcast(weighted.agg(
        graft.engine.Semantics.roundz(sum(col("__w")), 6).as("__sw"))))
      .withColumn("sample_p",
        when(col("__sw") > 0,
          graft.engine.Semantics.roundz(col("__w") / col("__sw"), 6))
          .otherwise(raise_error(lit("temperatureMixtureEffective: " +
            "effective token mass is zero in every source (all-duplicate " +
            "corpus) — no meaningful mixture exists"))))
      .withColumn("planned_tokens",
        floor(lit(budgetTokens.toDouble) * col("sample_p")).cast("long"))
      .withColumn("epochs", when(col("__eff") > 0, graft.engine.Semantics.roundz(
        col("planned_tokens").cast("double") / col("__eff"), 6)).otherwise(lit(0.0)))
      .select(col("source"), col("avail_tokens"), col("est_dup_rate"),
        graft.engine.Semantics.roundz(col("__eff"), 6).as("eff_tokens"),
        col("sample_p"), col("planned_tokens"), col("epochs"))
  }

  /** Global deterministic shuffle rank — the "shuffle the corpus" step a
    * training run needs before sharding: rank 1..n in (md5(id), id) order,
    * computed WITHOUT a single-partition global sort. The md5 hex prefix
    * (2 chars → 256 buckets) partitions the key space into contiguous
    * lexicographic ranges, so global rank = bucket offset + within-bucket
    * row_number: the per-bucket window sees ~n/256 rows and the offset
    * table is 256 rows broadcast back. At 100 TB widen the prefix (3 hex
    * chars → 4096 buckets) — the pattern is the standard distributed
    * rank (range-partition + per-partition enumerate + prefix-sum
    * offsets), every stage bounded. Adds `rank` (bigint, 1-based). */
  def shuffleRank(df: DataFrame, id: Column): DataFrame =
    groupedShuffleRank(df, lit(0L), id)

  /** [[shuffleRank]] per GROUP: rank 1..|group| in (md5(id), id) order
    * within each `group` value — same range-bucket + prefix-sum-offset
    * construction, with the offset table keyed (group, md5-prefix) so no
    * window ever sees more than ~|group|/256 rows even when there are only
    * a handful of groups (a plain PARTITION BY group window would funnel a
    * whole group through one partition — exactly the straggler this
    * operator exists to avoid at 100 TB). Adds `rank`. */
  def groupedShuffleRank(df: DataFrame, group: Column, id: Column): DataFrame =
    // rank IS the weight-1 running total: an inclusive sum of ones over the
    // (md5(id), id) order is row_number by another name, so the permutation
    // and the token prefix sum share one bucketed construction.
    bucketedRunningTotal(df, group, id, lit(1L), "rank", "shuffleRank")

  /** The ONE bucketed running-total construction behind
    * [[groupedShuffleRank]] (weight 1 → rank) and
    * [[groupedTokenPrefixSum]] (weight = tokens → cum_tokens): per group,
    * bucket the key space by md5 prefix (256 contiguous lexicographic
    * ranges), accumulate `weight` inside each bucket with a window that
    * sees ~|group|/256 rows, and add the broadcast prefix-sum of
    * whole-bucket masses. One implementation so a change (e.g. widening
    * the prefix to 4096 buckets at 100 TB) cannot drift between the two.
    *
    * A NULL id would hash to a NULL bucket and silently VANISH in the
    * offsets equi-join (null keys never match) — a dropped row in a
    * permutation/running total is corruption, not a convention. Fail
    * loudly, the prioritySample guard idiom: the raise must drive the
    * column expression itself, not ride as a dead operand. NULL groups
    * keep their own totals (null-safe offsets join): groupBy and the
    * window both treat a NULL group as its own group, but a plain
    * equi-join would drop its rows — the same silent-row-loss the id
    * guard refuses, surfacing whenever the caller's group expression is
    * nullable (a length bucket over a null token count).
    *
    * DUPLICATE ids: each physical row receives its own distinct rank /
    * inclusive prefix (ROWS frame — the 1..n bijection and total mass are
    * always exact), but the RELATIVE order among rows sharing one
    * (md5(id), id) key is whatever order Spark delivers them in — so when
    * duplicate-id rows differ in OTHER columns (e.g. different weights),
    * which variant gets the earlier rank is partitioning-dependent. Full
    * run-to-run determinism therefore requires ids unique per group,
    * which every permutation/selection consumer of this construction
    * semantically assumes anyway; callers with legitimate duplicates get
    * exact totals and must not read meaning into intra-duplicate order. */
  private def bucketedRunningTotal(df: DataFrame, group: Column, id: Column,
      weight: Column, outCol: String, opName: String): DataFrame = {
    requireFresh(df, opName,
      outCol, "__g", "__h", "__bucket", "__w", "__rn", "__off", "__n")
    val guardedId = when(id.isNull,
      raise_error(lit(s"$opName: id must be non-null — a null id row " +
        "would silently drop from the running total")).cast("string"))
      .otherwise(id.cast("string"))
    val withKey = df.withColumn("__g", group)
      .withColumn("__h", md5(guardedId))
      .withColumn("__bucket", conv(substring(col("__h"), 1, 2), 16, 10).cast("long"))
      .withColumn("__w", weight)
    val offsets = withKey.groupBy(col("__g"), col("__bucket"))
      .agg(sum(col("__w")).as("__n"))
      .withColumn("__off", sum(col("__n")).over(
        Window.partitionBy(col("__g")).orderBy(col("__bucket"))) - col("__n"))
      .select(col("__g").as("__og"), col("__bucket").as("__obucket"), col("__off"))
    withKey
      // ROWS frame, explicitly: an aggregate over an ORDER BY window
      // defaults to RANGE, whose frame includes ORDER-BY PEERS — rows
      // tying on (md5(id), id), i.e. duplicate ids, would share one
      // combined total and skip ranks, silently breaking the bijection
      // onto 1..|group| (row_number semantics) this construction promises.
      // ROWS gives each physical row its own inclusive prefix, duplicate
      // ids included.
      .withColumn("__rn", sum(col("__w")).over(
        Window.partitionBy(col("__g"), col("__bucket")).orderBy(col("__h"), id)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(offsets),
        col("__g") <=> col("__og") && col("__bucket") === col("__obucket"))
      .withColumn(outCol, col("__off") + col("__rn"))
      .drop("__g", "__og", "__h", "__bucket", "__obucket", "__w", "__rn", "__off")
  }

  /** Inclusive cumulative TOKEN mass per group in (md5(id), id) order —
    * [[groupedShuffleRank]]'s construction with the running sum carrying
    * token weight instead of row count: within each group, bucket the key
    * space by md5 prefix (256 contiguous lexicographic ranges), cumsum
    * tokens inside each bucket with a window that sees ~|group|/256 rows,
    * and add the broadcast prefix-sum of whole-bucket token masses. Adds
    * `cum_tokens` (inclusive: a row's own tokens count). No window ever
    * spans a whole group — the 100 TB posture a PARTITION BY group ORDER
    * BY md5 window gives up. NULL ids fail loudly (a dropped row in a
    * running total is silent corruption); NULL groups keep their own
    * running total (null-safe offsets join). */
  def groupedTokenPrefixSum(df: DataFrame, group: Column, id: Column,
      tokens: Column): DataFrame = {
    // A NULL token count would be SKIPPED by the window sum: the row rides
    // the running total at weight 0 yet is still admitted downstream at
    // zero budget cost; a NEGATIVE count deflates cum_tokens, which
    // over-admits mass past planned_tokens in materializeMixture — both
    // are the same silent-running-total corruption class as a null id,
    // refused the same way. Callers with legitimately absent counts
    // coalesce explicitly.
    val guardedTokens = when(tokens.isNull || tokens < lit(0),
      raise_error(concat(lit("groupedTokenPrefixSum: tokens must be non-null and " +
        "non-negative — got "), coalesce(tokens.cast("string"), lit("NULL")),
        lit("; a null/negative weight silently corrupts the running total")))
        .cast("long"))
      .otherwise(tokens.cast("long"))
    bucketedRunningTotal(df, group, id, guardedTokens, "cum_tokens",
      "groupedTokenPrefixSum")
  }

  /** MATERIALIZE a mixture plan — the step after
    * [[temperatureMixtureAlpha]] decides per-source token budgets: per
    * source, admit documents in the deterministic (md5(id), id) shuffle
    * order until the INCLUSIVE running token total reaches the source's
    * `planned_tokens` (the boundary doc that would cross the budget is
    * excluded, so selected mass never exceeds plan; a source whose budget
    * exceeds its corpus simply admits everything — the epochs > 1 case is
    * upsampling, which replays the same selection). Deterministic at any
    * partitioning: the order is content-derived, the running total is
    * [[groupedTokenPrefixSum]]'s bucketed construction. `plan` must carry
    * (source, planned_tokens). Adds `cum_tokens` to the admitted rows. */
  def materializeMixture(df: DataFrame, source: Column, id: Column, tokens: Column,
      plan: DataFrame): DataFrame = {
    require(plan.columns.contains("source") && plan.columns.contains("planned_tokens"),
      s"plan must carry (source, planned_tokens); got ${plan.columns.mkString(", ")}")
    // Null-safe plan join: a NULL source is a legitimate group in both the
    // plan (groupBy keeps it) and the prefix sum — an equi-join would
    // silently drop its documents (the histogramQuantiles lesson).
    val p = plan.select(col("source").as("__ps"), col("planned_tokens"))
    groupedTokenPrefixSum(df.withColumn("source", source), col("source"), id, tokens)
      .join(broadcast(p), col("source") <=> col("__ps"))
      .filter(col("cum_tokens") <= col("planned_tokens"))
      .drop("__ps", "planned_tokens")
  }

  /** [[materializeMixture]] with UPSAMPLING — the epochs > 1 half of the
    * UNIMAX knob ([[temperatureMixtureAlpha]]'s `epochs` column made
    * real): a source whose budget B exceeds its corpus mass A emits
    * ⌊B/A⌋ FULL copies of every document (epoch 0 .. ⌊B/A⌋−1) plus the
    * deterministic (md5(id), id)-order prefix of the remainder B mod A as
    * the final partial epoch — so emitted token mass is exactly
    * ⌊B/A⌋·A + prefix(B mod A) ≤ B, and a downsampled source (B < A)
    * degenerates to [[materializeMixture]]'s single partial epoch 0.
    * Adds (epoch, cum_tokens). The explode by epoch count IS the
    * upsampling (row volume ∝ the budget, which is the point); sources
    * with zero token mass are excluded (their budget is unspendable).
    * The plan join is null-safe; plan rows define the mixture (a source
    * absent from the plan emits nothing). */
  def materializeMixtureEpochs(df: DataFrame, source: Column, id: Column,
      tokens: Column, plan: DataFrame): DataFrame = {
    require(plan.columns.contains("source") && plan.columns.contains("planned_tokens"),
      s"plan must carry (source, planned_tokens); got ${plan.columns.mkString(", ")}")
    requireFresh(df, "materializeMixtureEpochs",
      "epoch", "cum_tokens", "__ps", "__avail", "__full", "__rem")
    val withSrc = df.withColumn("source", source)
    val avail = withSrc.groupBy(col("source"))
      .agg(sum(tokens.cast("long")).as("__avail"))
      .withColumnRenamed("source", "__as")
    val p = plan.select(col("source").as("__ps"), col("planned_tokens"))
      .join(avail, col("__ps") <=> col("__as"))
      .filter(col("__avail") > 0L)
      .withColumn("__full", expr("planned_tokens div __avail"))
      .withColumn("__rem", col("planned_tokens") % col("__avail"))
      .select(col("__ps"), col("__full"), col("__rem"))
    val ranked = groupedTokenPrefixSum(withSrc, col("source"), id, tokens)
      .join(broadcast(p), col("source") <=> col("__ps"))
    val fulls = ranked.filter(col("__full") > 0L)
      .withColumn("epoch", explode(sequence(lit(0L), col("__full") - 1L)))
    val partial = ranked.filter(col("cum_tokens") <= col("__rem"))
      .withColumn("epoch", col("__full"))
    fulls.unionByName(partial).drop("__ps", "__full", "__rem")
  }

  /** Padding-waste report for length-aware batch construction — the
    * dynamic-batching step of a training run: within each `group` (a
    * length bucket; pass a constant for the unbucketed baseline), docs are
    * taken in [[groupedShuffleRank]]'s deterministic shuffle order and cut
    * into `batchSize`-doc batches; a batch pads every member to its
    * longest member, so its physical cost is n·max(tokens). Returns one
    * row per group: batch count, doc count, real and padded token mass,
    * and `waste_ratio` = 1 − real/padded — the number that says what
    * length bucketing buys over batching the raw shuffle order. All
    * arithmetic is integer until the final rounded ratio. */
  def batchPadWaste(df: DataFrame, group: Column, id: Column, nTokens: Column,
      batchSize: Int): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    requireFresh(df, "batchPadWaste", "len_bucket", "__tok", "__batch")
    val ranked = groupedShuffleRank(
      df.withColumn("len_bucket", group).withColumn("__tok", nTokens.cast("long")),
      col("len_bucket"), id)
    ranked
      .withColumn("__batch",
        graft.engine.Semantics.intDiv(col("rank") - 1, lit(batchSize.toLong)))
      .groupBy(col("len_bucket"), col("__batch"))
      .agg(count(lit(1)).as("__n"), max(col("__tok")).as("__mx"),
        sum(col("__tok")).as("__sum"))
      .groupBy(col("len_bucket"))
      .agg(count(lit(1)).as("n_batches"), sum(col("__n")).as("n_docs"),
        sum(col("__sum")).as("total_tokens"),
        sum(col("__n") * col("__mx")).as("padded_tokens"))
      .withColumn("waste_ratio", graft.engine.Semantics.roundz(
        lit(1.0) - col("total_tokens").cast("double")
          / col("padded_tokens").cast("double"), 6))
  }

  /** Fixed-size shard assignment over [[shuffleRank]]'s global shuffle
    * order — the last stage of a training-data pipeline (shuffle globally,
    * cut into equal shards, write one file per shard). Adds `shard`
    * (0-based; every shard except the last holds exactly `rowsPerShard`
    * rows). Deterministic at any partitioning and any corpus size: a doc's
    * shard depends only on the corpus content, never on the cluster. */
  def shardAssign(df: DataFrame, id: Column, rowsPerShard: Int): DataFrame = {
    require(rowsPerShard > 0, s"rowsPerShard must be positive, got $rowsPerShard")
    shuffleRank(df, id)
      .withColumn("shard",
        graft.engine.Semantics.intDiv(col("rank") - 1, lit(rowsPerShard.toLong)))
  }

  /** STRATIFIED shard assignment — [[shardAssign]]'s fairness variant: a
    * global cut gives each shard the corpus-level source mix only in
    * expectation, but training-shard consumers (curriculum schedulers,
    * per-shard eval) often need every shard to carry each stratum
    * near-exactly proportionally. Per stratum, docs take their
    * deterministic ([[groupedShuffleRank]]) shuffle order and deal
    * ROUND-ROBIN across `nShards`: shard = (rank − 1) mod n, so shard
    * counts per stratum differ by at most 1 ALWAYS — not in expectation —
    * and the assignment stays content-derived (partitioning-invariant,
    * replayable). Adds (rank — within-stratum, shard). The shard is no
    * longer a contiguous global-rank range (that is the global form's
    * contract); within a (stratum, shard) cell the rank order is still
    * the deterministic shuffle order. */
  def stratifiedShardAssign(df: DataFrame, stratum: Column, id: Column,
      nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    groupedShuffleRank(df, stratum, id)
      .withColumn("shard", (col("rank") - 1L) % nShards)
  }

  /** Write path for [[shardAssign]]: one directory per shard, each written
    * by the task that owns the whole shard (`repartition` on the shard id
    * co-locates a shard's rows before the write — no shard straddles
    * writer tasks) with rows SORTED BY RANK inside each file, so a
    * downstream reader streaming shard files in order replays exactly the
    * global permutation [[shuffleRank]] computed — without the
    * within-file sort the write would land rows in hash-shuffle arrival
    * order and the permutation's reproducibility would be lost at the
    * last step. `sortWithinPartitions(shard, rank)` leads with the
    * partition column, so the dynamic-partition writer's required
    * child ordering is already satisfied and no second sort is inserted.
    * Parquet `partitionBy` keeps the layout queryable as a table. */
  def writeShards(sharded: DataFrame, path: String): Unit =
    sharded.repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("rank"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** EXACT per-group median without per-group collection — the order
    * statistic computed the way it survives 100 TB: aggregate to
    * (group, value) COUNTS first, then one prefix-sum window over each
    * group's DISTINCT values (bounded by the value domain, not the row
    * count — `exact percentile`'s per-group array materialization is
    * precisely the scale anti-pattern this replaces), and read the two
    * middle positions off the cumulative counts. Even-count groups average
    * the two middle values (quantile_cont(0.5) semantics — DuckDB's
    * `median`, so the oracle replays it exactly).
    *
    * Returns one row per group: (groupName, med). `value` may be any
    * numeric column; it is cast to double. */
  def groupedExactMedian(df: DataFrame, groupName: String, value: Column): DataFrame = {
    // NULL values are ignored (median/quantile_cont semantics); counting
    // them would rank them below every value and shift every position.
    // A group with no non-null values is absent from the output.
    val counts = df.select(col(groupName), value.cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy(col(groupName), col("__v")).agg(count(lit(1)).as("__cnt"))
    medianFromCounts(counts, groupName)
  }

  /** [[groupedExactMedian]] over PRE-AGGREGATED (value, weight) histogram
    * rows — bit-identical to expanding each row `weight` times and running
    * the row form (shared tail, same doubles, same (a+b)/2 arithmetic).
    * This is what lets a STANDING per-group value histogram (the
    * streaming-funnel state class: bounded by the value domain, not the
    * stream age) answer exact-median questions without ever replaying the
    * rows. Zero/negative-weight rows are rejected loudly — a silent skip
    * would make a histogram bug look like data. */
  def groupedExactMedianWeighted(df: DataFrame, groupName: String,
      value: Column, weight: Column): DataFrame = {
    val base = df.select(col(groupName), value.cast("double").as("__v"),
        coalesce(weight.cast("long"),
          raise_error(lit("groupedExactMedianWeighted: weight must be " +
            "non-null")).cast("long")).as("__w"))
      .filter(col("__v").isNotNull)
      .withColumn("__w", when(col("__w") >= 1L, col("__w"))
        .otherwise(raise_error(lit("groupedExactMedianWeighted: weight " +
          "must be >= 1")).cast("long")))
    val counts = base.groupBy(col(groupName), col("__v"))
      .agg(sum(col("__w")).as("__cnt"))
    medianFromCounts(counts, groupName)
  }

  /** Shared tail of the exact-median pair: prefix-sum window over each
    * group's distinct values, two middle positions off the cumulative
    * counts (quantile_cont(0.5): even totals average the middles). Input
    * contract: (groupName, __v: double, __cnt: long ≥ 1). */
  private def medianFromCounts(counts: DataFrame, groupName: String): DataFrame = {
    val w = Window.partitionBy(col(groupName)).orderBy(col("__v"))
    counts.withColumn("__cum", sum(col("__cnt")).over(w))
      .withColumn("__n", sum(col("__cnt")).over(Window.partitionBy(col(groupName))))
      .groupBy(col(groupName))
      .agg(((min(when(col("__cum") >= floor((col("__n") + 1) / 2), col("__v"))) +
        min(when(col("__cum") >= floor((col("__n") + 2) / 2), col("__v")))) / 2d).as("med"))
  }

  /** Per-group (med, mad) from a PRE-AGGREGATED (value, weight) histogram
    * — [[robustOutliers]]' fence statistics computed from standing state
    * instead of rows, bit-identical to the row form by construction (both
    * medians ride [[medianFromCounts]]; |x − med| over distinct values
    * with summed weights is the same multiset). The streaming admission
    * funnel re-derives its length fence from this after every merged
    * micro-batch: the histogram is bounded by the value DOMAIN, so the
    * recompute never scales with stream age. */
  def robustStatsWeighted(hist: DataFrame, groupName: String,
      value: Column, weight: Column): DataFrame = {
    val base = hist.select(col(groupName), value.cast("double").as("__x"),
      weight.cast("long").as("__w"))
    val med = groupedExactMedianWeighted(base, groupName, col("__x"), col("__w"))
    val mad = groupedExactMedianWeighted(
      base.join(broadcast(med), Seq(groupName))
        .select(col(groupName), abs(col("__x") - col("med")).as("__d"), col("__w")),
      groupName, col("__d"), col("__w"))
      .withColumnRenamed("med", "mad")
    med.join(mad, Seq(groupName))
  }

  /** EXACT per-group quantile_cont(p) for several p at once, by the same
    * value-count prefix-sum machinery as [[groupedExactMedian]] (whose 0.5
    * case this generalizes): per group, position pos = p·(n−1) over the
    * sorted multiset, linearly interpolated between the order statistics at
    * ranks ⌊pos⌋+1 and ⌈pos⌉+1 — DuckDB `quantile_cont` semantics, so the
    * oracle replays it natively. One counts aggregate + one
    * distinct-value-bounded window + one final aggregate computes EVERY
    * requested p — adding quantiles is free.
    *
    * Returns one row per group: (groupName, <name> per requested (name, p)). */
  def groupedExactQuantiles(df: DataFrame, groupName: String, value: Column,
      ps: Seq[(String, Double)]): DataFrame = {
    require(ps.nonEmpty, "at least one quantile required")
    ps.foreach { case (n, p) =>
      require(p >= 0 && p <= 1, s"quantile $n=$p outside [0, 1]") }
    // NULL values are ignored, as in groupedExactMedian.
    val counts = df.select(col(groupName), value.cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy(col(groupName), col("__v")).agg(count(lit(1)).as("__cnt"))
    val w = Window.partitionBy(col(groupName)).orderBy(col("__v"))
    val cum = counts.withColumn("__cum", sum(col("__cnt")).over(w))
      .withColumn("__n", sum(col("__cnt")).over(Window.partitionBy(col(groupName))))
    val aggs = ps.map { case (name, p) =>
      val pos = lit(p) * (col("__n") - 1).cast("double")
      val v1 = min(when(col("__cum") >= floor(pos) + 1, col("__v")))
      val v2 = min(when(col("__cum") >= ceil(pos) + 1, col("__v")))
      // min() ignores rows where the when() is null, so v1/v2 are the order
      // statistics at ranks ⌊pos⌋+1 / ⌈pos⌉+1; frac is constant per group.
      (v1 + (min(pos) - floor(min(pos))) * (v2 - v1)).as(name)
    }
    cum.groupBy(col(groupName)).agg(aggs.head, aggs.tail: _*)
  }

  /** PSI (population stability index) drift monitor between two corpus
    * snapshots — the standard feature-drift gate a pipeline runs per
    * refresh: PSI = Σ_bins (p_ref − p_cur)·ln(p_ref/p_cur) over a BOUNDED
    * bin domain (callers bin by integer-exact power-of-two magnitude,
    * `length(bin(v))`, so binning never disagrees across engines), with
    * Laplace-0.5 smoothing over the union bin grid so a bin empty on one
    * side contributes finite mass instead of ±∞. Industry reading: < 0.1
    * stable, > `threshold` (default 0.2) drifted — the flag compares the
    * ROUNDED psi so the gate is FP-order-robust cross-engine.
    *
    * The smoothing grid is PER GROUP — the union of the group's OWN
    * ref+cur bins. A global bin union would make a group's psi depend on
    * bins that exist only in other groups: with unequal snapshot sizes
    * every foreign empty-empty bin contributes a strictly positive
    * smoothed term, so adding an unrelated group's data could flip a
    * stable group past the threshold.
    *
    * Scale shape: ONE corpus-scale hash aggregate (group, snap, bin);
    * the grid, shares, and psi all derive from that tiny aggregated
    * result (|groups|·2·|bins| rows, bins ≤ 64 by construction).
    * `df` must carry `snapCol` ∈ {'ref', 'cur'}. Returns
    * (groupName, psi, drifted); groups missing a snapshot are absent
    * (no pairing exists to compare). */
  def psiDrift(df: DataFrame, groupName: String, snapCol: Column, bin: Column,
      threshold: Double = 0.2): DataFrame = {
    require(threshold > 0, s"threshold must be positive, got $threshold")
    // The single corpus-scale pass; everything below runs on its output.
    val counts = df.select(col(groupName), snapCol.as("__snap"), bin.as("__bin"))
      .groupBy(col(groupName), col("__snap"), col("__bin"))
      .agg(count(lit(1)).as("__n"))
    val grid = counts.select(col(groupName), col("__bin")).distinct()
      .join(counts.select(col(groupName), col("__snap")).distinct(), groupName)
    val cnt = grid.join(counts, Seq(groupName, "__snap", "__bin"), "left")
      .withColumn("__n", coalesce(col("__n"), lit(0L)))
    val wp = Window.partitionBy(col(groupName), col("__snap"))
    val sh = cnt.withColumn("__p",
      (col("__n").cast("double") + 0.5) /
        (sum(col("__n")).over(wp).cast("double") +
          lit(0.5) * count(lit(1)).over(wp).cast("double")))
    val ref = sh.filter(col("__snap") === "ref")
      .select(col(groupName), col("__bin"), col("__p").as("__pr"))
    val cur = sh.filter(col("__snap") === "cur")
      .select(col(groupName), col("__bin"), col("__p").as("__pc"))
    ref.join(cur, Seq(groupName, "__bin"))
      .groupBy(col(groupName))
      .agg(round(sum((col("__pr") - col("__pc")) * log(col("__pr") / col("__pc"))), 6)
        .as("psi"))
      .withColumn("drifted",
        when(col("psi") > threshold, 1L).otherwise(0L))
  }

  /** Robust per-group outlier QA — the metadata sanity gate a pipeline runs
    * over doc-level scalars (lengths, token counts, quality scores) before
    * they feed quotas and mixtures: median/MAD instead of mean/stddev, so
    * the screen itself is not dragged by the outliers it hunts. Two
    * [[groupedExactMedian]] passes (values, then absolute deviations from
    * the group median — the MAD) and one broadcast join of the ≤|groups|-row
    * stats back onto the scan; a row is flagged when
    * |x − med| > z·MAD (z·1.4826·MAD is the σ-consistent form; `z` here
    * multiplies raw MAD to stay integer-exact for the oracle). MAD = 0
    * (over half the group identical) degrades to flagging any x ≠ med,
    * explicitly — same CASE in the oracle.
    *
    * Returns one row per group: (groupName, n_rows, med, mad, n_outliers). */
  def robustOutliers(df: DataFrame, groupName: String, value: Column,
      z: Double = 3.5): DataFrame = {
    require(z > 0, s"z must be positive, got $z")
    val base = df.select(col(groupName), value.cast("double").as("__x"))
    val med = groupedExactMedian(base, groupName, col("__x"))
    val withMed = base.join(broadcast(med), Seq(groupName))
    val mad = groupedExactMedian(
      withMed.select(col(groupName), abs(col("__x") - col("med")).as("__d")),
      groupName, col("__d"))
      .withColumnRenamed("med", "mad")
    withMed.join(broadcast(mad), Seq(groupName))
      .groupBy(col(groupName))
      .agg(count(lit(1)).as("n_rows"),
        first(col("med")).as("med"),
        first(col("mad")).as("mad"),
        sum(when(abs(col("__x") - col("med")) > lit(z) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
  }

  /** Rule-gate funnel with per-rule rejection ATTRIBUTION — the
    * observability layer of a filtering pipeline. At 100 TB nobody debugs
    * a quality gate doc-by-doc; the question is always "which rule is
    * killing how much of which source, and what would relaxing it buy".
    * Gross fail counts alone can't answer that: rules overlap, so a doc
    * failing three rules inflates three counters and relaxing any one
    * rule recovers nothing. This emits BOTH measures per (group, rule):
    *
    *   - `n_fail`      — docs failing the rule at all (gross mass)
    *   - `n_sole_fail` — docs for which this is the ONLY failing rule,
    *                     i.e. exactly the docs relaxing JUST this rule
    *                     would admit (marginal mass)
    *
    * alongside the shared funnel frame (`n_docs`, `n_admitted` — repeated
    * on each of the group's rule rows so every row reads standalone).
    * `rules` are PASS predicates; a rule evaluating to NULL (e.g. a
    * predicate over a NULL text) counts as FAILED — a doc the gate cannot
    * evaluate must not be admitted silently.
    *
    * Plan shape: one scan computes all rule flags (narrow map), each row
    * explodes into |rules| (rule, failed) pairs carrying the row's
    * admitted/sole-fail context, then ONE hash aggregate to
    * |groups|·|rules| rows. The fan-out is the fixed rule-set arity, not
    * data-dependent; partial aggregation absorbs it map-side. No window,
    * no second scan, no driver state. */
  def ruleFunnel(df: DataFrame, group: Column,
      rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "ruleFunnel needs at least one rule")
    require(rules.map(_._1).distinct.size == rules.size,
      s"duplicate rule names: ${rules.map(_._1).mkString(", ")}")
    val flagCols = rules.map { case (n, c) =>
      coalesce(c.cast("boolean"), lit(false)).as(s"__rule_$n")
    }
    val flagged = df.select(group.as("grp") +: flagCols: _*)
    val nFail = rules.map { case (n, _) =>
      when(col(s"__rule_$n"), 0).otherwise(1)
    }.reduce(_ + _)
    val pairs = array(rules.map { case (n, _) =>
      struct(lit(n).as("rule"), (!col(s"__rule_$n")).as("failed"))
    }: _*)
    flagged
      .withColumn("__nf", nFail)
      .select(col("grp"), col("__nf"), explode(pairs).as("p"))
      .groupBy(col("grp"), col("p.rule").as("rule"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__nf") === 0, 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("p.failed"), 1L).otherwise(0L)).as("n_fail"),
        sum(when(col("p.failed") && col("__nf") === 1, 1L).otherwise(0L))
          .as("n_sole_fail"))
  }

  /** Two-level (doc × domain) admission gate — the RefinedWeb/UT1-style
    * stage where an aggregate verdict on a DOMAIN overrides per-document
    * verdicts: a domain whose pass rate is below `minRatePct`% (or with
    * fewer than `minDocs` docs — too thin to judge, and thin long-tail
    * domains are where spam farms live) is dropped WHOLE, including its
    * individually-passing docs. Emits every input row with its verdict
    * trail (`doc_pass`, `domain_admitted`, `admitted` = both), so the
    * rejected mass stays auditable rather than vanishing.
    *
    * The rate comparison is integer-exact (`n_pass·100 ≥ minRatePct·n`),
    * never a float division — a domain sitting exactly ON the threshold
    * must get the same verdict from every engine.
    *
    * Plan shape: one hash aggregate to ≤|domains| rows, broadcast back
    * onto the scan (domain cardinality is web-scale-small relative to
    * docs — millions vs billions), zero additional shuffle on the doc
    * side. Driver state: none. */
  def domainGate(df: DataFrame, domain: Column, docPass: Column,
      minRatePct: Int, minDocs: Long = 1L): DataFrame = {
    require(minRatePct >= 0 && minRatePct <= 100,
      s"minRatePct must be in [0,100], got $minRatePct")
    require(minDocs >= 1, s"minDocs must be >= 1, got $minDocs")
    requireFresh(df, "domainGate",
      "__domain", "doc_pass", "domain_admitted", "admitted")
    val flagged = df
      .withColumn("__domain", domain)
      .withColumn("doc_pass",
        when(coalesce(docPass.cast("boolean"), lit(false)), 1L).otherwise(0L))
    val stats = flagged.groupBy(col("__domain"))
      .agg(count(lit(1)).as("__n"), sum(col("doc_pass")).as("__np"))
      .withColumn("domain_admitted",
        when(col("__np") * 100L >= lit(minRatePct.toLong) * col("__n") &&
          col("__n") >= minDocs, 1L).otherwise(0L))
      .select(col("__domain"), col("domain_admitted"))
    flagged.join(broadcast(stats), Seq("__domain"))
      .withColumn("admitted", col("doc_pass") * col("domain_admitted"))
      .drop("__domain")
  }
}
