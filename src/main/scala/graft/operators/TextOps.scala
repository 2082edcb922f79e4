package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the LLM-training-data pipeline extension
  * surface (builder prompt; SURVEY §2.10 X4): tokenization, quality scoring,
  * language-ID heuristics, fingerprinting, TF-IDF.
  *
  * Everything is built from codegen'd built-ins and higher-order array
  * functions — no UDFs in the hot path, so WholeStageCodegen spans stay wide
  * and the operators scale to 100 TB as pure map-side work (+ one shuffle
  * for the corpus-level aggregates).
  */
object TextOps {

  /** Whitespace tokenizer (the engine-neutral baseline; a BPE-ish regex
    * variant is [[tokenizeRegex]]). */
  def tokenize(text: Column): Column = split(text, " ")

  /** BPE-ish regex tokenizer: runs of letters/digits, or single punctuation
    * marks. regexp_extract_all (codegen'd, and RE2-safe so the DuckDB oracle
    * evaluates the identical pattern) — not split-on-lookarounds, which RE2
    * rejects and whose lambda filter falls out of codegen. */
  val tokenPattern = """[\p{L}\p{N}]+|[^\p{L}\p{N}\s]"""
  def tokenizeRegex(text: Column): Column =
    regexp_extract_all(text, lit(tokenPattern), lit(0))

  val defaultStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "on", "for")

  /** Literal subword vocabulary for [[subwordTokenize]] — a BPE-style merge
    * table folded to its final vocab (full words kept whole, common stems/
    * suffixes as pieces, anything uncovered falls back per character).
    * LITERAL for the same reason as the LSH planes: the q91/q92/q93 oracles
    * inline the identical entries, so tokenization is hash-checkable
    * cross-engine; production swaps in a trained vocab file without
    * touching the operator. */
  val defaultSubwordVocab: Seq[String] = Seq(
    "the", "a", "spark", "win", "dow", "mer", "ge", "tab", "le", "col",
    "umn", "vec", "tor", "str", "eam", "val", "value", "da", "ta", "small",
    "jo", "in", "fil", "ter", "big", "gro", "up", "hash", "sort", "or",
    "der", "slow", "li", "ne", "part", "fast", "row", "agg", "key", "que",
    "ry", "scan", "ba", "tch", "du", "p", "om", "er")

  /** Real subword tokenization (greedy longest-match over a literal vocab
    * with char fallback — the codegen'd [[graft.functions.SubwordEncode]]
    * trie, one walk per character, vocabulary-size-independent). The token
    * counts driving packing/fertility should come from THIS, not
    * whitespace: model context windows are measured in subword tokens. */
  def subwordTokenize(text: Column, vocab: Seq[String] = defaultSubwordVocab): Column =
    graft.functions.GraftFunctions.subwordEncode(text, vocab)

  /** Count of stopword tokens (quality-scoring feature). */
  def stopwordCount(tokens: Column, stops: Seq[String] = defaultStopwords): Column =
    size(filter(tokens, t => t.isin(stops: _*))).cast("long")

  /** Exploded distinct word-3-gram shingles as ROWS: (doc_id, bucket, sh).
    *
    * Lambda-free on purpose: higher-order array functions (`transform`,
    * lambda `filter`) are CodegenFallback expressions, and feeding one into
    * `explode` drops the whole stage out of codegen into row-at-a-time
    * interpretation — profiled at ~40µs/row (11 s for 260 k shingles at
    * sf0.1). This formulation is posexplode(split) + window `lead`, fully
    * codegen'd: ~20× faster, and the per-doc window shuffle is the same
    * doc_id partitioning the downstream groupBy needs anyway. */
  def shingleRows(df: DataFrame, id: Column, bucket: Column, text: Column,
      n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1, s"shingle width must be >= 1, got $n")
    // Partition by (doc_id, bucket), not doc_id alone: nothing forbids a
    // doc appearing under several buckets, and a doc_id-only window would
    // interleave the two row sets' positions (ties on pos), producing
    // cross-bucket garbage shingles.
    // `n` is the REPRESENTATION knob the round-8 saturation audit turns:
    // when a corpus's n-gram universe saturates (df high everywhere),
    // volume knobs (df caps, banding) manage join cost but cannot restore
    // selectivity — widening the shingle grows the universe geometrically
    // and drops per-shingle df back to discriminative levels.
    shinglePosRows(df, id, bucket, text, n)
      .select(col("doc_id"), col("bucket"), col("sh"))
      .distinct()
  }

  /** POSITIONAL shingle rows — [[shingleRows]] without the set collapse:
    * one row per n-gram OCCURRENCE, (doc_id, bucket, pos, sh). The
    * multiset view the weighted-Jaccard family counts frequencies over
    * ([[graft.operators.DedupOps.featureTfRows]]), where the set family
    * takes the `distinct` form. Same codegen-safe posexplode +
    * window-`lead` construction. */
  def shinglePosRows(df: DataFrame, id: Column, bucket: Column, text: Column,
      n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1, s"shingle width must be >= 1, got $n")
    val w = Window.partitionBy("doc_id", "bucket").orderBy("pos")
    val toks = col("tok") +: (1 until n).map(i => lead("tok", i).over(w))
    df.select(id.as("doc_id"), bucket.as("bucket"),
        posexplode(split(text, " ")).as(Seq("pos", "tok")))
      .withColumn("sh",
        when(if (n == 1) lit(true) else lead("tok", n - 1).over(w).isNotNull,
          concat_ws(" ", toks: _*)))
      .filter(col("sh").isNotNull)
      .select(col("doc_id"), col("bucket"), col("pos"), col("sh"))
  }

  /** Pointwise mutual information of adjacent word pairs (collocations) —
    * the association-mining side of text analysis: PMI(w1,w2) =
    * ln(p(w1,w2) / (p(w1)·p(w2))) over positional bigrams, keeping pairs
    * with count ≥ `minCount`. Returns (w1, w2, c12, pmi), pmi unrounded —
    * callers round for cross-engine comparison.
    *
    * Plan shape: bigrams come from the same codegen-safe posexplode +
    * window-`lead` formulation as [[shingleRows]] (HOF transform would
    * drop the stage out of codegen); pair and unigram counts are two hash
    * aggregates; the corpus totals are 1-row aggregates broadcast into the
    * result (scalar cross join, q27's idiom). Both PMI factors evaluate
    * left-to-right in doubles so engines agree to the last ulp. */
  def collocationPmi(df: DataFrame, id: Column, text: Column,
      minCount: Long = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(id.as("doc_id"), posexplode(split(text, " ")).as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val bi = toks.withColumn("w2", lead("tok", 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col("tok").as("w1"), col("w2"))
    val cuni = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val nBig = bi.agg(count(lit(1)).as("n_big"))
    val nUni = toks.agg(count(lit(1)).as("n_uni"))
    bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
      .join(cuni.select(col("tok").as("w1"), col("c").as("c1")), "w1")
      .join(cuni.select(col("tok").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(nBig)).crossJoin(broadcast(nUni))
      .withColumn("pmi",
        log(col("c12").cast("double") * col("n_uni") * col("n_uni")
          / (col("n_big").cast("double") * col("c1") * col("c2"))))
      .select(col("w1"), col("w2"), col("c12"), col("pmi"))
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercased text,
    * truncated to 16 hex chars. Deterministic, collision-safe enough for
    * near-exact dedup keys at corpus scale. */
  def fingerprint(text: Column): Column =
    substring(md5(lower(regexp_replace(text, "\\s+", " "))), 1, 16)

  /** Rolling-hash fingerprint (Rabin–Karp polynomial over code points) via
    * the native codegen'd [[graft.functions.StringPolyHash]]. Applied to a
    * whole document it is a cheap integer dedup key; applied to
    * [[shingleRows]]' `sh` column it yields the per-window rolling
    * fingerprints used for content-defined chunking. */
  def rollingHash(text: Column): Column = graft.functions.GraftFunctions.polyHash(text)

  /** Heuristic language-ID via stopword-marker hits, CASE-argmax with a
    * fixed precedence for ties and 'und' when no marker fires. Mirrors the
    * n-gram-heuristic class of language identifiers; deterministic and
    * SQL-expressible so it stays oracle-checkable. */
  def langIdScores(tokens: Column): Seq[(String, Column)] = Seq(
    "en" -> Seq("the", "and", "of", "is"), "de" -> Seq("der", "die", "und", "das"),
    "es" -> Seq("el", "la", "de", "que"), "fr" -> Seq("le", "les", "des", "est"))
    .map { case (lang, markers) =>
      lang -> size(filter(tokens, t => t.isin(markers: _*))).cast("long")
    }

  def langIdPredict(en: Column, de: Column, es: Column, fr: Column): Column =
    when(en + de + es + fr === 0, "und")
      .when(en >= de && en >= es && en >= fr, "en")
      .when(de >= es && de >= fr, "de")
      .when(es >= fr, "es")
      .otherwise("fr")

  /** Exact heavy hitters via a Misra-Gries prefilter: tokens occurring in
    * at least 1/`shareDen` of all token occurrences (integer-exact
    * threshold: count × shareDen ≥ n — no float boundary to disagree on
    * across engines).
    *
    * Plan: (1) one bounded-state sketch pass ([[graft.functions.MisraGries]]
    * with capacity `k`; requires k + 1 > shareDen so the sketch provably
    * contains every qualifying token — checked) collects ≤ k CANDIDATE
    * tokens to the driver; (2) one exact count over candidate rows only.
    * The full-vocabulary groupBy this replaces shuffles every distinct
    * token; here the shuffle carries k entries per partition, the rescan
    * aggregates only rows matching ≤ k tokens (an InSet probe, no join),
    * and the result is EXACT at any corpus size — the same prefilter +
    * exact-rescan discipline as [[CurationOps.contaminationBloom]]. */
  def heavyHitters(df: DataFrame, tok: Column, k: Int, shareDen: Long): DataFrame = {
    require(k + 1 > shareDen,
      s"capacity k=$k cannot guarantee hitters at share 1/$shareDen: " +
        "Misra-Gries retains items with count > n/(k+1), so k+1 must exceed shareDen")
    val toks = df.select(tok.as("tok"))
    val n = toks.count()
    val mg = org.apache.spark.sql.functions.udaf(
      new graft.functions.MisraGries(k), org.apache.spark.sql.Encoders.STRING)
    val sketch = toks.agg(mg(col("tok"))).head.getMap[String, Long](0)
    val cands = sketch.keys.toSeq.sorted
    toks.filter(col("tok").isin(cands: _*))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") * lit(shareDen) >= lit(n))
  }

  /** Within-document repetition profile (Gopher-style repetition quality
    * signals): per document, the fraction of token / bigram / trigram
    * occurrences that are repeats of an earlier occurrence in the SAME
    * document — the "natural-repetition vs boilerplate-loop" axis that
    * length and stopword features miss.
    *
    * Plan shape: the codegen-resident posexplode + window-`lead` n-gram
    * formulation ([[shingleRows]]' idiom — HOF `transform` would drop the
    * stage out of codegen), then ONE hash aggregate per document carrying
    * three `count(distinct)` measures (Catalyst plans them as a single
    * Expand ×3 — row volume stays linear in token count). Zero driver
    * state; the only shuffle is the per-doc aggregate any per-doc feature
    * needs. Docs shorter than n emit no n-grams and score 0 by the
    * `when(total > 0)` guard on the fraction. */
  def repetitionStats(df: DataFrame, id: Column, text: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val grams = df.select(id.as("doc_id"), posexplode(split(text, " ")).as(Seq("pos", "tok")))
      .withColumn("w2", lead("tok", 1).over(w))
      .withColumn("w3", lead("tok", 2).over(w))
      .withColumn("bi", when(col("w2").isNotNull, concat_ws(" ", col("tok"), col("w2"))))
      .withColumn("tri", when(col("w3").isNotNull,
        concat_ws(" ", col("tok"), col("w2"), col("w3"))))
    def dupFrac(total: Column, distinct: Column): Column =
      when(total > 0, graft.engine.Semantics.roundz(
        (total - distinct).cast("double") / total.cast("double"), 6))
        .otherwise(lit(0d))
    grams.groupBy(col("doc_id"))
      .agg(count(col("tok")).as("n_tokens"),
        countDistinct(col("tok")).as("d_tok"),
        count(col("bi")).as("n_bi"), countDistinct(col("bi")).as("d_bi"),
        count(col("tri")).as("n_tri"), countDistinct(col("tri")).as("d_tri"))
      .select(col("doc_id"), col("n_tokens"),
        dupFrac(col("n_tokens"), col("d_tok")).as("dup_token_frac"),
        dupFrac(col("n_bi"), col("d_bi")).as("dup_bigram_frac"),
        dupFrac(col("n_tri"), col("d_tri")).as("dup_trigram_frac"))
  }

  /** Unigram-LM surprisal scoring (the CCNet/KenLM-filter shape reduced to
    * an engine-neutral unigram model): each document's mean −log₂ p(token)
    * under the corpus's own unigram distribution. Low = stereotypical text,
    * high = rare-token soup; both tails are curation-filter targets.
    *
    * Plan shape: one hash aggregate builds the (token, tf) vocabulary, a
    * 1-row broadcast carries the corpus total, and the scoring join is
    * token-equi — shuffle volume is the token stream, state is the
    * vocabulary (measured sublinear in corpus size: BASELINE.md's q50
    * vocabulary row). At 100 TB the same plan broadcasts a top-V
    * vocabulary with an OOV floor probability instead of equi-joining the
    * full tail — the join form here IS the general case, the broadcast
    * form is the optimization the vocabulary's saturation licenses. */
  def surprisalScores(df: DataFrame, id: Column, tokens: Column): DataFrame = {
    val tok = df.select(id.as("doc_id"), explode(tokens).as("tok"))
    val vocab = tok.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
    val total = vocab.agg(sum(col("tf")).cast("double").as("n"))
    tok.join(vocab, "tok")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        graft.engine.Semantics.roundz(
          avg(-log2(col("tf").cast("double") / col("n"))), 6).as("avg_surprisal"))
  }

  /** Bigram-LM surprisal with add-one smoothing — [[surprisalScores]]'
    * unigram signal upgraded to a conditional model (the CCNet/Gopher
    * filtering family's next step up): per doc, the mean over bigram
    * positions of −log₂ p̂(wᵢ | wᵢ₋₁), with p̂(b | a) = (c(a,b) + 1) /
    * (c₁(a) + V) — c(a,b) the corpus bigram count, c₁(a) the count of
    * bigrams with left context a, V the distinct-token vocabulary.
    * Low-probability transitions (gibberish, shuffled text, boilerplate
    * splices) score high; smoothing keeps unseen-context docs finite.
    *
    * Plan shape: bigrams via the codegen posexplode + window-`lead`
    * idiom (shared with [[collocationPmi]]); two vocabulary-bounded hash
    * aggregates for the counts; the scoring join is token-equi (never
    * doc×doc); V rides in as a broadcast scalar. Docs with < 2 tokens
    * have no bigram positions and drop out, same contract as the unigram
    * scorer. */
  def bigramSurprisal(df: DataFrame, id: Column, text: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val toks = df.select(id.as("doc_id"), posexplode(split(text, " ")).as(Seq("pos", "tok")))
    val bi = toks.withColumn("nxt", lead("tok", 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), col("tok").as("w1"), col("nxt").as("w2"))
    val cBi = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val cLeft = bi.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vSize = toks.agg(countDistinct(col("tok")).as("v"))
    bi.join(cBi, Seq("w1", "w2")).join(cLeft, Seq("w1"))
      .crossJoin(broadcast(vSize))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        graft.engine.Semantics.roundz(
          avg(-log2((col("c12").cast("double") + lit(1d))
            / (col("c1").cast("double") + col("v")))), 6).as("avg_bigram_surprisal"))
  }

  /** Per-group category-mix profile with Shannon entropy — the corpus-
    * composition report a mixture owner reads before setting [[CurationOps
    * .mixturePlan]] targets: for each group (source), the number of rows,
    * the number of distinct categories (languages), and the entropy
    * −Σ p·log₂p of the category mix in bits (0 = monolingual source,
    * log₂k = uniform over k).
    *
    * Plan shape: one (group, category) hash aggregate, then the group
    * total rides a window over the group key — the SAME hash partitioning
    * the aggregate just produced, so the window adds no exchange — and a
    * second aggregate folds the entropy. State is group×category
    * cardinality only; nothing driver-side. log₂(1) = 0 exactly, so
    * single-category groups score 0.0 in every engine; mixed ratios agree
    * through `roundz` at 1e-6. */
  def categoryEntropy(df: DataFrame, group: Column, category: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = df.groupBy(group.as("grp"), category.as("cat"))
      .agg(count(lit(1)).as("n"))
    val p = col("n").cast("double") / col("tot").cast("double")
    c.withColumn("tot", sum(col("n")).over(Window.partitionBy(col("grp"))))
      .groupBy(col("grp"))
      .agg(max(col("tot")).as("n_rows"),
        count(lit(1)).as("n_categories"),
        graft.engine.Semantics.roundz(-sum(p * log2(p)), 6).as("entropy"))
  }

  /** Per-group distribution drift: KL divergence (bits) of each group's
    * unigram token distribution from the corpus-wide distribution —
    * KL(p_group ‖ p_corpus) = Σ p_g·log₂(p_g/p_c). The drift report that
    * catches a source whose token mix silently diverges between crawls
    * (spam injection, template shift, encoding rot) before it trains.
    * Always finite: every group token occurs in the corpus by construction,
    * and KL ≥ 0 with 0 = the group mirrors the corpus exactly.
    *
    * Plan shape: one (group, token) aggregate and one (token) aggregate
    * over the same exploded stream (state = vocabulary-bounded, the q50
    * saturation argument); the group totals ride a window over the first
    * aggregate's key prefix, the corpus total is a 1-row broadcast; the
    * scoring join is token-equi. Identical float-op ORDER in both engines
    * (p·log₂(p/q) summed per group, `roundz` at 1e-6 absorbing
    * reassociation noise). */
  def distributionDrift(df: DataFrame, group: Column, tokens: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = df.select(group.as("grp"), explode(tokens).as("tok"))
    val g = tok.groupBy(col("grp"), col("tok")).agg(count(lit(1)).as("ns"))
      .withColumn("tot_g", sum(col("ns")).over(Window.partitionBy(col("grp"))))
    val c = tok.groupBy(col("tok")).agg(count(lit(1)).as("nc"))
    val totC = c.agg(sum(col("nc")).cast("double").as("tot_c"))
    val pg = col("ns").cast("double") / col("tot_g").cast("double")
    val pc = col("nc").cast("double") / col("tot_c")
    g.join(c, "tok").crossJoin(broadcast(totC))
      .groupBy(col("grp"))
      .agg(max(col("tot_g")).as("n_tokens"),
        graft.engine.Semantics.roundz(sum(pg * log2(pg / pc)), 6).as("kl_bits"))
  }

  /** Per-group lexical-diversity report: type-token ratio (distinct
    * unigrams / total unigrams) and distinct-bigram ratio — the distinct-n
    * diversity metrics curation uses to catch template-generated or
    * self-repeating sources before they train ([[repetitionStats]] is the
    * per-DOCUMENT view; this is the per-SOURCE roll-up). Bigrams stay
    * within document boundaries (the codegen posexplode + window-`lead`
    * idiom — no cross-doc phantom bigrams).
    *
    * Plan shape: one Expand-backed aggregate per group carrying the two
    * count(distinct) measures; state is the group's vocabulary (sublinear —
    * the q50 saturation argument), the stream is linear in token count. */
  def diversityStats(df: DataFrame, group: Column, id: Column, text: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val grams = df.select(group.as("grp"), id.as("doc_id"),
        posexplode(split(text, " ")).as(Seq("pos", "tok")))
      .withColumn("bi", when(lead("tok", 1).over(w).isNotNull,
        concat_ws(" ", col("tok"), lead("tok", 1).over(w))))
    def ratio(distinct: Column, total: Column): Column =
      when(total > 0, graft.engine.Semantics.roundz(
        distinct.cast("double") / total.cast("double"), 6)).otherwise(lit(0d))
    grams.groupBy(col("grp"))
      .agg(count(col("tok")).as("n_tokens"),
        countDistinct(col("tok")).as("d_tok"),
        count(col("bi")).as("n_bi"), countDistinct(col("bi")).as("d_bi"))
      .select(col("grp"), col("n_tokens"),
        ratio(col("d_tok"), col("n_tokens")).as("type_token_ratio"),
        ratio(col("d_bi"), col("n_bi")).as("distinct_bigram_ratio"))
  }

  /** Composite quality score in [0,1]: stopword-ratio band + length prior.
    * The exact formula is arbitrary (reference has none); what matters is
    * that it is deterministic, engine-neutral, and built from the classic
    * quality features (length / stopword ratio / mean word length). */
  def qualityScore(nTokens: Column, stopRatio: Column, meanWordLen: Column): Column =
    round(
      lit(0.4) * when(stopRatio.between(0.05, 0.5), 1.0).otherwise(0.0) +
      lit(0.3) * when(meanWordLen.between(3.0, 10.0), 1.0).otherwise(0.0) +
      lit(0.3) * least(nTokens.cast("double") / lit(100.0), lit(1.0)), 4)

  /** In-engine BPE merge TRAINING — the learning half of the subword
    * tokenizer ([[subwordTokenize]] is the inference half; its vocab is a
    * trained merge table folded to final tokens). Classic BPE on the
    * DISTINCT-WORD frequency table: start from characters, then repeat
    * `numMerges` times — count adjacent symbol pairs weighted by word
    * frequency (one explode + hash aggregate), take the most frequent pair
    * (deterministic tie-break: lexicographic on (left, right)), and apply
    * it greedily left-to-right non-overlapping to every word's symbols.
    *
    * Scale posture: corpus size enters ONLY through the word-frequency
    * aggregate (one shuffle, once); the training loop then runs on the
    * distinct-word table, which is vocabulary-bounded (Heaps' law — a
    * 100 TB corpus has millions of distinct words, not trillions). Per
    * iteration: one pair-count aggregate + a 1-row argmax collect + one
    * map pass reapplying the merge via an array fold (interpreted HOF, but
    * over vocabulary rows — deliberately NOT a per-document pass). Driver
    * state = the merge list itself.
    *
    * Returns (left, right, pair_count) per merge, in training order.
    * Merged tokens (left+right concatenations) feed [[subwordTokenize]]
    * as vocabulary entries — note greedy longest-match inference is the
    * WordPiece-style application of a BPE-trained vocab (it can differ
    * from replaying merges in order on adversarial inputs; standard
    * practice, and the deterministic-vocab contract is unchanged). */
  def bpeTrain(docs: DataFrame, text: Column, numMerges: Int): Seq[(String, String, Long)] = {
    require(numMerges >= 1, "need numMerges >= 1")
    // Each generation is cut (eager): one materialization job per merge,
    // flat lineage — without it iteration i would re-run i chained fold
    // passes from the source (and Catalyst would re-plan a growing tree),
    // the same discipline as GraphOps' CC rounds.
    graft.engine.Materialize.rounds() { rounds =>
      var words = rounds.cut(docs.select(explode(split(text, " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        .select(col("freq"),
          expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("syms")))
      val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      var exhausted = false
      while (merges.size < numMerges && !exhausted) {
        rounds.advance(keep = 1) // only the current generation is read
        val top = words.filter(size(col("syms")) >= 2)
          .select(col("freq"), explode(expr(
            "transform(sequence(0, size(syms) - 2), " +
              "i -> struct(element_at(syms, i + 1) AS a, element_at(syms, i + 2) AS b))")).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("freq")).as("n"))
          .orderBy(desc("n"), col("a"), col("b"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true // every word is a single symbol
        else {
          val (a, b, n) = (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
          merges += ((a, b, n))
          // Greedy left-to-right non-overlapping replacement of (a, b) with
          // the merged token, as an array fold: a freshly merged token can't
          // re-match as the LEFT of the same pair (it is strictly longer
          // than `a`), which is exactly BPE's non-overlap rule.
          val merged = aggregate(col("syms"),
            typedlit(Seq.empty[String]),
            (acc, s) => when(
              size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
              .otherwise(concat(acc, array(s))))
          words = rounds.cut(words.select(col("freq"), merged.as("syms")))
        }
      }
      merges.toSeq
    }
  }

  /** Persist a trained BPE merge table ([[bpeTrain]]'s output) as a
    * rank-ordered parquet artifact — the tokenizer-side member of the
    * artifact family (Bloom: membership, ANN: vectors, TextIndex:
    * postings, this: merges). Merges are driver-small (one row per merge)
    * but they are the single most reproduction-critical state a data
    * pipeline owns: every token count, packing boundary, and context
    * budget downstream depends on re-encoding with EXACTLY the training
    * merges, in rank order. */
  def writeBpeVocab(spark: org.apache.spark.sql.SparkSession, path: String,
      merges: Seq[(String, String, Long)]): Unit = {
    require(merges.nonEmpty, "refusing to persist an empty merge table")
    import spark.implicits._
    merges.zipWithIndex.map { case ((a, b, n), r) => (r, a, b, n) }
      .toDF("rank", "a", "b", "freq")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Reload a persisted BPE merge table in training order; refuses loudly
    * on malformed artifacts (gapped/duplicated ranks, empty halves)
    * rather than silently re-tokenizing the corpus with a different
    * vocabulary — the failure mode that quietly shifts every downstream
    * token count. */
  def readBpeVocab(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(String, String, Long)] = {
    val rows = spark.read.parquet(path)
      .select(col("rank"), col("a"), col("b"), col("freq")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    require(rows.nonEmpty, s"bpe vocab at $path is empty")
    require(rows.map(_._1).toSeq == rows.indices.toSeq,
      s"bpe vocab at $path must carry dense ranks 0..${rows.length - 1}")
    require(rows.forall(r => r._2.nonEmpty && r._3.nonEmpty),
      s"bpe vocab at $path carries an empty merge half")
    rows.map(r => (r._2, r._3, r._4)).toSeq
  }

  /** BM25 keyword retrieval scoring (Robertson/Spärck Jones; the Lucene
    * `k1`/`b` parameterization with the +1 idf floor): rank documents
    * against a literal bag of query terms by
    * Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)), with
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)). This is the lexical
    * retrieval ranker a training-data pipeline runs next to the embedding
    * k-NN (q25/q31): targeted corpus probes ("find documents about X"),
    * quality-by-query audits, and BM25-negative mining for retrievers.
    *
    * Plan shape at 100 TB: the term scan filters to the query terms with an
    * `isin` BEFORE any shuffle (the match stream is |queryTerms|-bounded per
    * doc, a vanishing fraction of the corpus); doc length is a narrow
    * `size(split)` map — the full token stream is never exploded. Corpus
    * stats (N, avgdl) are a 1-row broadcast; per-term df is a ≤|query|-row
    * broadcast dim. One (doc, term) hash aggregate + one scalar sum per doc
    * — two shuffles total, both on bounded streams. Score is rounded by the
    * caller; ordering/tie-breaks belong to the query. Output: one row per
    * (doc that matches ≥1 term) with `dl` and unrounded `bm25`. */
  def bm25Scores(df: DataFrame, id: Column, text: Column, queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val docs = df.select(id.as("doc_id"), tokenize(text).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast("double").as("dl"), col("__toks"))
    val stats = docs.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val matches = docs
      .select(col("doc_id"), col("dl"), explode(col("__toks")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
    val tf = matches.groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val idf = broadcast(dfreq.crossJoin(broadcast(stats))
      .select(col("term"),
        log(lit(1d) + (col("n_docs") - col("df") + 0.5d) / (col("df") + 0.5d)).as("idf"),
        col("avgdl")))
    tf.join(idf, "term")
      .withColumn("__s", col("idf") * col("tf") * (lit(k1) + 1d) /
        (col("tf") + lit(k1) * (lit(1d - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"), col("dl"))
      .agg(sum(col("__s")).as("bm25"), count(lit(1)).as("n_terms_matched"))
  }

  /** URL canonicalization — the normalization pass crawl dedup runs on the
    * url key BEFORE grouping, so the same resource fetched as
    * `HTTPS://Host:443/p/?utm_source=x` and `https://host/p` counts once.
    * Transform (each step a pure built-in regex/array function, mirrored
    * verbatim by the DuckDB oracle — no parse_url, which DuckDB lacks):
    * drop the fragment; lowercase scheme and host; strip the scheme's
    * default port (:443 for https, :80 for http); strip trailing slashes
    * from the path; drop tracking params (utm_*, fbclid, gclid) and empty
    * params, then SORT the rest so param order is canonical. Stateless
    * narrow map — a 100 TB URL pass shuffles nothing, and every downstream
    * dedup/rollup groups on the canonical key. */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val path = regexp_replace(
      regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*([^?]*)", 1),
      "/+$", "")
    val qs = regexp_extract(noFrag, "\\?(.*)$", 1)
    val sortedQ = array_join(array_sort(filter(split(qs, "&"),
      x => x =!= "" && !x.rlike("^(utm_[^=]*|fbclid|gclid)(=|$)"))), "&")
    concat(scheme, lit("://"), urlHost(url), path,
      when(sortedQ === "", lit("")).otherwise(concat(lit("?"), sortedQ)))
  }

  /** Canonical host of a URL: lowercased, with the scheme's default port
    * stripped. The per-site partition key of crawl-corpus rollups. */
  def urlHost(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?]+)", 1))
    when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .otherwise(hostport)
  }

  /** Mojibake (UTF-8-read-as-Latin-1) sequences this engine detects and
    * repairs: 'Ã' followed by a char in U+00A0–U+00BF is the Latin-1
    * rendering of the 2-byte UTF-8 encoding of an accented Latin letter
    * (é → C3 A9 → "Ã©"). Deliberately restricted to the ISO-8859-1 range —
    * Windows-1252-only artifacts ("â€™") involve C1 control bytes whose
    * Latin-1 text form is unprintable and whose round-trip is
    * charset-ambiguous; an engine should refuse to guess there. The
    * class is spelled \x{..} — the one codepoint-escape syntax Java
    * regex and RE2 (the oracle's engine) share. */
  val mojibakePattern: String = "Ã[\\x{00a0}-\\x{00bf}]"

  /** Count of detected mojibake sequences — the encoding-damage signal a
    * crawl-ingest gate scores on (damage concentrates by source/crawl, so
    * the per-source rollup localizes a bad fetcher or a mislabeled
    * charset). Stateless narrow map over a codegen'd regex. */
  def mojibakeCount(text: Column): Column =
    size(regexp_extract_all(text, lit(mojibakePattern), lit(0))).cast("long")

  /** Every codepoint is ASCII or part of a well-formed damaged pair —
    * the precondition that makes [[fixMojibake]]'s re-decode PROVABLY
    * lossless: re-encoding such a string as Latin-1 yields valid UTF-8
    * by construction, so the repair can never hit a malformed-input
    * path or a replacement char. A MIXED row (clean "é" beside damaged
    * "Ã©" — a stray E9 byte is not valid UTF-8) fails this and is left
    * untouched: un-invertible damage is surfaced by [[mojibakeCount]],
    * not guessed at. */
  val mojibakeInvertiblePattern: String =
    "^(?:[\\x{0000}-\\x{007f}]|Ã[\\x{00a0}-\\x{00bf}])*$"

  /** Repair detected double-encoding damage by INVERTING the real
    * transform — re-encode the text's codepoints as Latin-1 bytes and
    * re-decode them as UTF-8 — rather than a lookup table of damaged
    * pairs, so every 2-byte sequence the detector matches is repaired in
    * one pass. Guarded on detection AND [[mojibakeInvertiblePattern]]:
    * only rows whose repair is provably exact are touched; everything
    * else passes through byte-identical. A clean-but-accented text
    * ("café") never matches the damage half, so repair is idempotent:
    * applying it to already-repaired output is the identity. */
  def fixMojibake(text: Column): Column =
    when(text.rlike(mojibakePattern) && text.rlike(mojibakeInvertiblePattern),
      decode(encode(text, "ISO-8859-1"), "UTF-8")).otherwise(text)

  /** Per-document Shannon entropy of the character distribution — the
    * gibberish/boilerplate detector (random bytes score high, repeated
    * filler low). One implementation serves both the profiling rollup
    * (q147) and the ingest admission gate (q150). Word-count-shaped plan:
    * explode to (doc, char), hash-aggregate counts (partial aggregation
    * absorbs the fan-out map-side), one doc-partitioned window for the
    * totals. `carry` columns (functionally dependent on `id`) ride through
    * both aggregates. Returns (doc_id, carry..., h) with h rounded to 6. */
  def docCharEntropy(df: DataFrame, id: Column, text: Column,
      carry: Seq[(String, Column)] = Nil): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val carryNames = carry.map(_._1)
    val base = df.select(
      (id.as("doc_id") +: carry.map { case (n, c) => c.as(n) }) :+
        explode(split(text, "")).as("c"): _*)
    val cnt = base.filter(col("c") =!= "")
      .groupBy((col("doc_id") +: carryNames.map(col)) :+ col("c"): _*)
      .agg(count(lit(1)).as("n"))
    cnt.withColumn("tot", sum(col("n")).over(w.partitionBy(col("doc_id"))).cast("double"))
      .groupBy(col("doc_id") +: carryNames.map(col): _*)
      .agg(round(-sum((col("n").cast("double") / col("tot")) *
        log2(col("n").cast("double") / col("tot"))), 6).as("h"))
  }

  /** Per-script character counts — the script-mix signal beside [[langIdScores]]'
    * stopword vote: language-ID by stopwords is blind to text whose words
    * it has no markers for, while script ranges classify every CJK/Cyrillic/
    * Greek character unconditionally (the CommonCrawl-style first-pass
    * router). Codepoint-RANGE classes (`[\x{4e00}-\x{9fff}]`), not named
    * `\p{Script=...}` classes — Java regex and RE2 spell script names
    * differently, ranges behave identically in both, which keeps the DuckDB
    * oracle bit-exact. Stateless narrow map. */
  def scriptCharCounts(text: Column): Seq[(String, Column)] = Seq(
    "latin" -> regexp_count(text, lit("[A-Za-z]")),
    "cjk" -> regexp_count(text, lit("[\\x{4e00}-\\x{9fff}]")),
    "cyrillic" -> regexp_count(text, lit("[\\x{0400}-\\x{04ff}]")),
    "greek" -> regexp_count(text, lit("[\\x{0370}-\\x{03ff}]")))

  /** Registered domain approximation: the last two dot-labels of a host
    * (`a.b.example.com` → `example.com`), with any `:port` suffix stripped
    * first — [[urlHost]] deliberately preserves non-default ports, and a
    * port inside the domain key would fragment the blocklist/quota rollup
    * (`example.com` vs `example.com:8080`). Single-label hosts
    * (`localhost`) yield `''`. (A public-suffix-list lookup is the
    * production refinement; the two-label rule is the deterministic,
    * oracle-mirrored core.) */
  def registeredDomain(host: Column): Column =
    regexp_extract(regexp_replace(host, ":[0-9]+$", ""), "([^.]+\\.[^.]+)$", 1)

  /** Persisted inverted-index artifact for BM25 retrieval serving — the
    * text-side completion of the artifact family ([[graft.operators
    * .DedupOps.BloomIndex]]: membership; [[graft.operators.SimilarityOps
    * .AnnIndex]]: vectors). Unlike those, the index body is CORPUS-sized,
    * so it stays a distributed table — `postings` (term, doc_id, tf, dl)
    * — and only two longs ever live on the driver: (n_docs, sum_dl).
    * `sum_dl`, not avgdl, is stored because the SUM is what merges
    * exactly under [[appendTextIndex]]; avgdl is derived. Doc lengths are
    * integers, so sum-of-longs ≡ Spark's avg() over doubles bit-for-bit
    * — [[bm25Serve]] and the scan-everything [[bm25Scores]] agree to the
    * last ulp (spec-checked). */
  final case class TextIndex(nDocs: Long, sumDl: Long, postings: DataFrame) {
    require(nDocs > 0, s"index must cover at least one doc, got $nDocs")
    require(sumDl >= 0, s"sum of doc lengths cannot be negative, got $sumDl")
    def avgdl: Double = sumDl.toDouble / nDocs.toDouble
  }

  /** Build a [[TextIndex]] over (id, text): one tokenize scan feeds a
    * single (term, doc) hash aggregate — the one full-corpus shuffle an
    * index pays ONCE so that every query after it touches only its own
    * terms' postings. Driver state: two longs from a 1-row aggregate. */
  def buildTextIndex(df: DataFrame, id: Column, text: Column): TextIndex = {
    val toks = df.select(id.as("doc_id"), tokenize(text).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast("long").as("dl"),
        col("__toks"))
    val m = toks.agg(count(lit(1)).as("n"),
      coalesce(sum(col("dl")), lit(0L)).as("s")).collect()(0)
    val postings = toks
      .select(col("doc_id"), col("dl"), explode(col("__toks")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
    TextIndex(m.getLong(0), m.getLong(1), postings)
  }

  /** Persist a [[TextIndex]]: 1-row meta parquet + postings parquet,
    * postings repartitioned BY TERM and sorted within partitions — each
    * parquet row group then covers a narrow term range, so a serving
    * query's `term IN (...)` prunes to the row groups its terms live in
    * (min/max stats) instead of scanning the corpus-sized index. */
  def writeTextIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      idx: TextIndex): Unit = {
    import spark.implicits._
    Seq((idx.nDocs, idx.sumDl)).toDF("n_docs", "sum_dl")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    idx.postings.repartition(col("term"))
      .sortWithinPartitions(col("term"), col("doc_id"))
      .write.mode("overwrite").parquet(s"$path/postings")
  }

  /** Reload a persisted [[TextIndex]]; refuses loudly on malformed
    * artifacts (meta row count, missing columns, inconsistent counts)
    * rather than serving retrieval scores from a corrupt index. */
  def readTextIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): TextIndex = {
    val m = spark.read.parquet(s"$path/meta")
      .select(col("n_docs"), col("sum_dl")).collect()
    require(m.length == 1,
      s"text index meta at $path must hold exactly 1 row, found ${m.length}")
    val p = spark.read.parquet(s"$path/postings")
    val need = Set("term", "doc_id", "tf", "dl")
    require(need.subsetOf(p.columns.toSet),
      s"text index postings at $path missing ${(need -- p.columns.toSet).mkString(", ")}")
    TextIndex(m(0).getLong(0), m(0).getLong(1),
      p.select(col("term"), col("doc_id"), col("tf"), col("dl")))
  }

  /** Merge a fresh batch into an index WITHOUT rescanning the standing
    * corpus — the no-rescan maintenance path ([[graft.operators.DedupOps
    * .mergeBloomIndexes]]'s discipline for postings): the fresh docs are
    * indexed alone, postings union, and the meta longs ADD. Spec-checked
    * ≡ rebuilding over the union. Contract: fresh doc ids must be
    * disjoint from the indexed corpus (run the dedup/anti-join stage
    * first — this is the same append-only id discipline the standing
    * stores document); a re-appended doc would double-count its tf. */
  def appendTextIndex(idx: TextIndex, fresh: DataFrame, id: Column,
      text: Column): TextIndex = {
    // An empty micro-batch is a NO-OP, not a crash: TextIndex's
    // nDocs > 0 contract is for a standalone index, and an ingest loop
    // legitimately delivers empty batches between arrivals.
    if (fresh.isEmpty) idx
    else {
      val f = buildTextIndex(fresh, id, text)
      TextIndex(idx.nDocs + f.nDocs, idx.sumDl + f.sumDl,
        idx.postings.unionByName(f.postings))
    }
  }

  /** BM25 top-docs for `queryTerms` served FROM the index — per-query
    * cost rides |postings of the query's terms| (pruned at the parquet
    * scan for a persisted index), never the corpus. Identical scoring
    * pipeline to [[bm25Scores]] (df of a term = its posting count among
    * query terms; idf = ln(1 + (N − df + ½)/(df + ½)); same
    * double-precision evaluation order), so serving from the artifact
    * and scanning the corpus give bit-identical scores — the parity a
    * retrieval fleet must be able to certify after every index rebuild. */
  def bm25Serve(idx: TextIndex, queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val tf = idx.postings.filter(col("term").isin(queryTerms: _*))
      .select(col("term"), col("doc_id"), col("tf").cast("double").as("tf"),
        col("dl").cast("double").as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val idf = broadcast(dfreq.select(col("term"),
      log(lit(1d) + (lit(idx.nDocs.toDouble) - col("df") + 0.5d)
        / (col("df") + 0.5d)).as("idf")))
    tf.join(idf, "term")
      .withColumn("__s", col("idf") * col("tf") * (lit(k1) + 1d) /
        (col("tf") + lit(k1) * (lit(1d - b) + lit(b) * col("dl") / lit(idx.avgdl))))
      .groupBy(col("doc_id"), col("dl"))
      .agg(sum(col("__s")).as("bm25"), count(lit(1)).as("n_terms_matched"))
  }
}
