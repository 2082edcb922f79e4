package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Semantics of the extension operators (dedup, similarity, sessions,
  * multimodal plumbing). */
class ExtensionOpsSpec extends SparkSpec {
  import spark.implicits._

  test("X1: exact dedup groups identical content under one keeper; idempotent") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val groups = DedupOps.exactDedupGroups(df, col("doc_id"), col("text"))
    val m = groups.collect().map(r => r.getAs[Long]("keeper_id") -> r.getAs[Long]("n_copies")).toMap
    assert(m === Map(1L -> 2L, 3L -> 1L))
    // dedup applied twice == once (keepers only, re-grouped)
    val keepers = df.join(groups.select(col("keeper_id").as("doc_id")), "doc_id")
    assert(DedupOps.exactDedupGroups(keepers, col("doc_id"), col("text"))
      .agg(max("n_copies")).as[Long].head() === 1L)
  }

  test("X2: identical docs agree on all minhashes; jaccard of identical shingle sets is 1") {
    val docs = Seq((1L, "a b c d e", "s"), (2L, "a b c d e", "s"), (3L, "x y z w v", "s"))
      .toDF("doc_id", "text", "source")
    val rows = TextOps.shingleRows(docs, col("doc_id"), col("source"), col("text"))
    val cand = DedupOps.minhashLshCandidatesBanded(rows, 8, rowsPerBand = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("n_shared_bands")).toMap
    assert(cand((1L, 2L)) === 8L) // identical sets agree on every hash
    assert(!cand.contains((1L, 3L))) // disjoint sets share no minhash (w.h.p.)
    val jac = DedupOps.jaccardPairsFromRows(rows)
      .filter(col("a_id") === 1 && col("b_id") === 2)
      .select("jaccard").as[Double].head()
    assert(jac === 1.0)
  }

  test("X2 row form: shingleRows + row jaccard + KM minhash match array-form semantics") {
    // The array-signature form is gone; its semantics are the assertions
    // it made on these docs (3-shingles, jaccard 1, 8 agreeing hashes, no
    // disjoint candidate), which the row form must still make.
    val docs = Seq((1L, "a b c d e", "s"), (2L, "a b c d e", "s"), (3L, "x y z w v", "s"))
      .toDF("doc_id", "text", "source")
    val rows = TextOps.shingleRows(docs, col("doc_id"), col("source"), col("text"))
    // "a b c d e" → shingles {a b c, b c d, c d e}
    assert(rows.filter(col("doc_id") === 1).select("sh").as[String].collect().toSet ===
      Set("a b c", "b c d", "c d e"))
    val jac = DedupOps.jaccardPairsFromRows(rows)
      .filter(col("a_id") === 1 && col("b_id") === 2)
      .select("jaccard").as[Double].head()
    assert(jac === 1.0)
    // width knob: n=5 emits only full 5-grams, n=1 the distinct tokens
    val r5 = TextOps.shingleRows(docs, col("doc_id"), col("source"), col("text"), n = 5)
    assert(r5.filter(col("doc_id") === 1).select("sh").as[String].collect().toSet ===
      Set("a b c d e"))
    val r1 = TextOps.shingleRows(docs, col("doc_id"), col("source"), col("text"), n = 1)
    assert(r1.filter(col("doc_id") === 1).select("sh").as[String].collect().toSet ===
      Set("a", "b", "c", "d", "e"))
    val cand = DedupOps.minhashLshCandidatesBanded(rows, 8, rowsPerBand = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("n_shared_bands")).toMap
    assert(cand((1L, 2L)) === 8L) // identical sets agree on every hash
    assert(!cand.contains((1L, 3L))) // disjoint sets share no minhash (w.h.p.)
  }

  test("X2: r=2 banded minhash — identical docs hit all bands; candidates are an S-curve subset of r=1") {
    // Hot-shingle skew corpus (the df-cap test's shape, UNCAPPED here):
    // every doc shares "hot hot hot", docs 0/1 are true near-dups. Under
    // r=1 the hot shingle's minhash pairs many unrelated docs; r=2 demands
    // two simultaneous agreements, which unrelated single-shingle overlap
    // rarely produces. All hashing is md5 → fully deterministic assertions.
    val docs = (0 until 40).map { i =>
      val body = if (i <= 1) "dup dup dup dup dup" else s"u${i}a u${i}b u${i}c u${i}d u${i}e"
      (i.toLong, s"hot hot hot $body", "s")
    }.toDF("doc_id", "text", "source")
    val rows = TextOps.shingleRows(docs, col("doc_id"), col("source"), col("text"))
    val r1 = DedupOps.minhashLshCandidatesBanded(rows, 8, rowsPerBand = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("n_shared_bands")).toMap
    val banded = DedupOps.minhashLshCandidatesBanded(rows, 8, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("n_shared_bands")).toMap
    // identical shingle sets agree on every minhash → all 4 two-row bands
    assert(banded((0L, 1L)) === 4L)
    // a banded collision IS two adjacent minhash agreements, so every
    // banded pair must appear under r=1 with ≥ 2·n_shared_bands hash hits
    banded.foreach { case (pair, nb) =>
      assert(r1.contains(pair) && r1(pair) >= 2 * nb,
        s"$pair: r1=${r1.get(pair)} banded=$nb")
    }
    // the S-curve payoff: strictly fewer candidates than r=1 on skew
    assert(banded.size < r1.size, s"banded=${banded.size} r1=${r1.size}")
    // r = 1 (string band key) is pair-for-pair what the long-keyed r = 1
    // generator produced on this corpus, n_shared_bands included: the dup
    // pair agrees on all 8 hashes, and every other pair of these 10 docs
    // (each one's minimum on a single hash is the shared hot shingle) on 1
    val hotMin = Seq(0L, 1L, 9L, 10L, 15L, 27L, 28L, 29L, 33L, 37L)
    val expected = hotMin.combinations(2).map { case Seq(a, b) =>
      (a, b) -> (if (a == 0L && b == 1L) 8L else 1L)
    }.toMap
    assert(expected.size === 45)
    assert(r1 === expected)
  }

  test("X2: pairMass is the sum of C(n, 2) over groups, 0 on an empty input") {
    val rows = Seq("a", "a", "a", "b", "b", "c").toDF("g")
    assert(DedupOps.pairMass(rows, Seq("g")).head.getLong(0) === 4L) // 3 + 1 + 0
    assert(DedupOps.pairMass(rows.filter(lit(false)), Seq("g")).head.getLong(0) === 0L)
  }

  test("X2: hot-shingle df cap bounds the shared-shingle join on a skewed corpus") {
    // 40 docs all sharing one ubiquitous trigram ("hot hot hot"); docs 0 and
    // 1 are true near-dups, the rest pairwise disjoint apart from the hot
    // shingle — the real-world skew that makes an uncapped join quadratic.
    val docs = (0 until 40).map { i =>
      val body = if (i <= 1) "dup dup dup dup dup" else s"u${i}a u${i}b u${i}c u${i}d u${i}e"
      (i.toLong, s"hot hot hot $body", "s")
    }.toDF("doc_id", "text", "source")
    val rows = TextOps.shingleRows(docs, col("doc_id"), col("source"), col("text"))
    // uncapped: the hot shingle pairs every doc with every other → all-pairs
    assert(DedupOps.jaccardPairsFromRows(rows).count() === 40L * 39 / 2)
    // capped: hot shingle dies before the join; only the true overlap survives
    val capped = DedupOps.jaccardPairsFromRows(rows, maxDf = 10)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(capped === Set((0L, 1L)))
    val mh = DedupOps.minhashLshCandidatesBanded(DedupOps.capShingleDf(rows, 10), 8, 1)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(mh === Set((0L, 1L)))
  }

  test("X2: nearDupCandidates default policy == hand-composed calibrated pipeline " +
    "bit-for-bit; FixedCap reproduces the legacy fixed-cap pairs; verify composes") {
    val docs = (0 until 40).map { i =>
      val body = if (i <= 1) "dup dup dup dup dup dup" else s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f"
      (i.toLong, s"hot hot hot hot $body", "s")
    }.toDF("doc_id", "text", "source")
    val rows = TextOps.shingleRows(docs, col("doc_id"), lit("all"), col("text"), n = 5)
    def tuples(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id", "n_shared_bands")
        .as[(Long, Long, Long)].collect().toSet
    // Default policy (no choice made) IS the calibrated q124 construction.
    val viaDefault = tuples(DedupOps.nearDupCandidates(rows))
    val byHand = tuples(DedupOps.minhashLshCandidatesBanded(
      DedupOps.capShingleDfQuantile(rows, q = 0.95, floor = 2),
      numHashes = 8, rowsPerBand = 2))
    assert(viaDefault === byHand)
    assert(viaDefault.exists { case (a, b, _) => a == 0L && b == 1L }, "true dup survives")
    // FixedCap opt-in reproduces the r=1 fixed-cap candidate pairs that
    // q23/q78 compose by hand (cap at the call site, then band).
    val viaFixed = tuples(DedupOps.nearDupCandidates(rows,
      DedupOps.CandidateGen.FixedCap(maxDf = 10, numHashes = 8)))
    val legacy = tuples(DedupOps.minhashLshCandidatesBanded(DedupOps.capShingleDf(rows, 10), 8, 1))
    assert(viaFixed === legacy)
    // The one-call verified form == generate + verify composed by hand.
    val v1 = DedupOps.nearDupVerifiedPairs(rows, minJaccard = 0.5)
      .select("a_id", "b_id", "jaccard").as[(Long, Long, Double)].collect().toSet
    val v2 = DedupOps.jaccardVerifyPairs(DedupOps.nearDupCandidates(rows), rows, 0.5)
      .select("a_id", "b_id", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(v1 === v2 && v1.exists { case (a, b, _) => a == 0L && b == 1L })
    // The gate itself: a nonsensical fixed cap refuses at construction —
    // including a band shape that doesn't divide numHashes (round-10
    // ADVICE: that one used to surface mid-plan in minhashBandedRows).
    intercept[IllegalArgumentException](DedupOps.CandidateGen.FixedCap(0))
    intercept[IllegalArgumentException](
      DedupOps.CandidateGen.FixedCap(10, numHashes = 8, rowsPerBand = 3))
  }

  test("X2: fixed-cap pre-flight prices the sub-cap pair mass and refuses above budget") {
    // 40 docs all sharing a hot trigram that a df<=50 cap KEEPS: sub-cap
    // pair mass >= C(40,2) = 780 — the join this corpus would fan into.
    val docs = (0 until 40).map { i =>
      (i.toLong, s"hot hot hot hot hot u${i}a u${i}b u${i}c", "s")
    }.toDF("doc_id", "text", "source")
    val rows = TextOps.shingleRows(docs, col("doc_id"), col("source"), col("text"))
    def chain(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse("")).mkString("|")
    // Under budget: the guard is a semantic pass-through (same pairs as
    // guard-off), so green tiers stay bit-identical.
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id", "n_common").as[(Long, Long, Long)].collect().toSet
    assert(pairs(DedupOps.jaccardPairsFromRows(rows, maxDf = 50)) ===
      pairs(DedupOps.jaccardPairsFromRows(rows, maxDf = 50, pairMassBudget = 0L)))
    // Over budget: a PRICED refusal before the join fans out — the message
    // carries the computed mass and the budget it exceeded.
    val e = intercept[Throwable](
      DedupOps.jaccardPairsFromRows(rows, maxDf = 50, pairMassBudget = 100L).count())
    assert(chain(e).contains("pair mass") && chain(e).contains("pairMassBudget = 100"),
      chain(e).take(500))
    // The FixedCap POLICY carries the same ceiling (round-12 verdict #2:
    // the construction-time refusal catches the choice, the budget catches
    // the legitimately-chosen plan whose corpus outgrew it).
    val e2 = intercept[Throwable](DedupOps.nearDupCandidates(rows,
      DedupOps.CandidateGen.FixedCap(maxDf = 50, numHashes = 8,
        pairMassBudget = 100L)).count())
    assert(chain(e2).contains("nearDupCandidates(FixedCap)"), chain(e2).take(500))
    // The sibling fixed-cap self-joins refuse through the same guard.
    val e3 = intercept[Throwable](DedupOps.containmentPairs(rows, maxDf = 50,
      pairMassBudget = 100L).count())
    assert(chain(e3).contains("containmentPairs"), chain(e3).take(500))
    val e4 = intercept[Throwable](DedupOps.tfidfCosinePairs(rows, maxDf = 50,
      minCosine = 0.0, pairMassBudget = 100L).count())
    assert(chain(e4).contains("tfidfCosinePairs"), chain(e4).take(500))
  }

  test("X2: simhash of identical token sets is identical; disjoint sets differ") {
    val docs = Seq((1L, Seq("alpha", "beta", "gamma")), (2L, Seq("alpha", "beta", "gamma")),
      (3L, Seq("zeta", "eta", "theta"))).toDF("doc_id", "tokset")
    val sigs = DedupOps.simhash63(docs, "doc_id", col("tokset"))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("simhash")).toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(3L))
    assert(sigs.values.forall(_ >= 0L)) // bit 63 never set: positive in every engine
  }

  test("X2: jaccardVerifyPairs — exact full-set jaccard, bounded by the candidate list") {
    val docs = Seq(
      (1L, "a b c d e f", "s"), (2L, "a b c d e g", "s"),
      (3L, "a b c x y z", "s"), (4L, "p q r s t u", "s"))
      .toDF("doc_id", "text", "source")
    val rows = TextOps.shingleRows(docs, col("doc_id"), lit("all"), col("text"))
    // the corpus-wide shared-shingle join is the semantics reference
    val ref = DedupOps.jaccardPairsFromRows(rows)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    assert(ref.contains((1L, 3L))) // they DO share "a b c" corpus-wide...
    // ...but the candidate list deliberately omits (1,3): verify must never
    // resurrect a pair the generator didn't emit (cost bounded by input)
    val cand = Seq((1L, 2L), (3L, 4L)).toDF("a_id", "b_id")
    val got = DedupOps.jaccardVerifyPairs(cand, rows, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    assert(got.keySet === Set((1L, 2L))) // (3,4) share nothing → no row
    assert(got((1L, 2L)) === ref((1L, 2L))) // same jaccard as the full join
    // threshold is applied to the verified value
    assert(DedupOps.jaccardVerifyPairs(cand, rows, got((1L, 2L)) + 0.01).count() === 0L)
  }

  test("X2: jaccardVerifyPairs is total over duplicate, reversed, and self pairs") {
    val docs = Seq(
      (1L, "a b c d e f", "s"), (2L, "a b c d e g", "s"))
      .toDF("doc_id", "text", "source")
    val rows = TextOps.shingleRows(docs, col("doc_id"), lit("all"), col("text"))
    val clean = DedupOps.jaccardVerifyPairs(
      Seq((1L, 2L)).toDF("a_id", "b_id"), rows, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    // A messy candidate list — the pair twice, once reversed, plus a self
    // pair — must yield exactly the clean result (before normalization,
    // duplicated members doubled every hit count and the true pair
    // silently verified to jaccard 0).
    val messy = Seq((1L, 2L), (1L, 2L), (2L, 1L), (1L, 1L)).toDF("a_id", "b_id")
    val got = DedupOps.jaccardVerifyPairs(messy, rows, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    assert(got === clean)
  }

  test("X2: banded simhash candidates equal the all-pairs result for Hamming <= 6") {
    // Near pairs guaranteed by construction: two identical-token-set groups
    // (Hamming 0 within a group) plus one-token perturbations of group A
    // (small nonzero Hamming), all in one bucket so the all-pairs scan is
    // exhaustive and far pairs (A×B) are present too.
    val setA = (0 until 40).map(j => s"a$j")
    val setB = (0 until 40).map(j => s"b$j")
    val docs = (
      (0 until 5).map(i => (i.toLong, setA)) ++
      (5 until 10).map(i => (i.toLong, setB)) ++
      (10 until 20).map(i => (i.toLong, setA :+ s"extra$i"))
    ).toDF("doc_id", "tokset").withColumn("source", lit("s"))
    val banded = DedupOps.simhashNearDupsBanded(docs, "doc_id", col("tokset"), col("source"), 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // oracle: exhaustive all-pairs Hamming over the same signatures
    val sigs = DedupOps.simhash63(docs, "doc_id", col("tokset"))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("simhash")).toMap
    val allPairs = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= 6
    } yield (a, b) -> h.toLong).toMap
    assert(allPairs.nonEmpty, "fixture must contain near pairs for the test to bite")
    assert(banded === allPairs) // pigeonhole: exact recall, no false drops

    // Band-bucket cap (production posture on self-similar corpora): the 15
    // A-cluster docs flood their shared band buckets past cap 10, so hot-
    // bucket candidates are dropped (explicit recall trade) while the
    // 5-member B cluster's buckets stay under the cap and survive in full —
    // bounded fan-out, no false positives ever (Hamming still verifies).
    val capped = DedupOps
      .simhashNearDupsBanded(docs, "doc_id", col("tokset"), col("source"), 6, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bPairs = (for { a <- 5L until 10; b <- (a + 1) until 10 } yield (a, b)).toSet
    assert(bPairs.subsetOf(capped))        // under-cap buckets keep exact recall
    assert(capped.subsetOf(allPairs.keySet)) // cap never invents pairs
    assert(capped.size < allPairs.size)    // hot A-cluster fan-out is actually cut
  }

  test("X2: simhash band-mass guard refuses the degenerate-signature regime by price") {
    // 30 docs with the IDENTICAL token set — signatures all equal, every
    // band bucket holds all 30 docs: band-join mass = 7 · C(30,2) = 3045.
    val setA = (0 until 20).map(j => s"a$j")
    val docs = (0 until 30).map(i => (i.toLong, setA))
      .toDF("doc_id", "tokset").withColumn("source", lit("s"))
    def chain(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse("")).mkString("|")
    // Over budget: priced refusal naming the collapse, before the shuffle.
    val e = intercept[Throwable](DedupOps.simhashNearDupsBanded(
      docs, "doc_id", col("tokset"), col("source"), 6,
      bandMassBudget = 1000L).count())
    assert(chain(e).contains("band-join pair mass") &&
      chain(e).contains("bandMassBudget = 1000"), chain(e).take(500))
    // Under budget: pass-through — bit-identical to guard-off.
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs(DedupOps.simhashNearDupsBanded(
        docs, "doc_id", col("tokset"), col("source"), 6, bandMassBudget = 4000L)) ===
      pairs(DedupOps.simhashNearDupsBanded(
        docs, "doc_id", col("tokset"), col("source"), 6, bandMassBudget = 0L)))
    // The maxBucket cap composes: capping FIRST shrinks the mass the guard
    // prices, so a budget the uncapped plan refuses passes once capped
    // (here every bucket holds all 30 docs > cap 10 → all dropped → 0).
    assert(DedupOps.simhashNearDupsBanded(docs, "doc_id", col("tokset"),
      col("source"), 6, maxBucket = 10, bandMassBudget = 1000L).count() === 0L)
  }

  test("X3: cosine top-k ranks an identical vector first with cosine 1") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 1),
      (1L, Array(1.0f, 0.0f, 0.0f), 1), // identical to query
      (2L, Array(0.0f, 1.0f, 0.0f), 1), // orthogonal
      (3L, Array(0.9f, 0.1f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val top = SimilarityOps.cosineTopK(emb, emb.filter(col("vec_id") === 0), 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.head === ((1L, 1.0)))
    assert(top.last._1 === 2L) // orthogonal ranks last
    assert(top.last._2 === 0.0)
  }

  test("X3: IVF probe only scans the query's cell") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 1),
      (1L, Array(1.0f, 0.0f), 2), // perfect match but wrong cell
      (2L, Array(0.5f, 0.5f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = SimilarityOps.cosineTopKIvf(emb, emb.filter(col("vec_id") === 0), "label", 10)
      .select("vec_id").as[Long].collect().toSet
    assert(got === Set(2L)) // vec 1 pruned by cell
  }

  test("X2: embedding near-dup finds same-cell pairs above threshold only") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 1),
      (1L, Array(0.9f, 0.1f), 1), // cosine ≈ 0.994 with vec 0
      (2L, Array(0.0f, 1.0f), 1), // orthogonal to vec 0
      (3L, Array(1.0f, 0.0f), 2)  // identical to vec 0 but different cell
    ).toDF("vec_id", "embedding", "label")
    val pairs = DedupOps.embeddingNearDups(emb, "vec_id", col("embedding"), col("label"), 0.9,
      SimilarityOps.lshTables(1, 0, 2))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((0L, 1L))) // orthogonal filtered, cross-cell pruned
  }

  test("X3: kmeans recovers well-separated blobs and their centroids") {
    // ids interleaved across blobs so the deterministic lowest-id init
    // seeds one centroid per blob (blobId = id % 3)
    val centers = Seq((0.0, 0.0), (10.0, 0.0), (0.0, 10.0))
    val emb = (0 until 15).map { id =>
      val (cx, cy) = centers(id % 3)
      (id.toLong, Array((cx + (id / 3) * 0.01).toFloat, (cy - (id / 3) * 0.005).toFloat))
    }.toDF("vec_id", "embedding")
    val (assign, centroids) = SimilarityOps.kmeans(emb, "vec_id", "embedding", k = 3, iters = 5)
    val clusters = assign.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // every blob lands in exactly one cluster, and blobs don't merge
    val blobClusters = (0 until 3)
      .map(b => (0 until 15).filter(_ % 3 == b).map(i => clusters(i.toLong)).toSet)
    assert(blobClusters.forall(_.size == 1))
    assert(blobClusters.flatten.toSet.size === 3)
    // centroids sit on the blob means (within the intra-blob jitter)
    val cx = centroids.map(_.head).sorted
    assert(math.abs(cx.head - 0.0) < 0.1 && math.abs(cx.last - 10.0) < 0.1)
  }

  test("X3: kmeansConverged stops at the rounded fixed point and equals the " +
    "fixed-count run at its stopping iteration bit-for-bit") {
    val centers = Seq((0.0, 0.0), (10.0, 0.0), (0.0, 10.0))
    val emb = (0 until 15).map { id =>
      val (cx, cy) = centers(id % 3)
      (id.toLong, Array((cx + (id / 3) * 0.01).toFloat, (cy - (id / 3) * 0.005).toFloat))
    }.toDF("vec_id", "embedding")
    val (assignC, centC, iters) = SimilarityOps.kmeansConverged(
      emb, "vec_id", "embedding", k = 3, maxIters = 20)
    // Well-separated blobs reach the rounded fixed point long before the cap.
    assert(iters < 20, s"did not converge: $iters")
    // The gate changes WHEN to stop, never the math (shared Lloyd step).
    val (assignF, centF) = SimilarityOps.kmeans(emb, "vec_id", "embedding", k = 3, iters = iters)
    assert(centC === centF)
    assert(assignC.collect().map(r => (r.getLong(0), r.getInt(1))).toSet ===
      assignF.collect().map(r => (r.getLong(0), r.getInt(1))).toSet)
    // And one more fixed-count iteration changes nothing — it IS a fixed point.
    val (_, centF1) = SimilarityOps.kmeans(emb, "vec_id", "embedding", k = 3, iters = iters + 1)
    assert(centF1 === centC)
  }

  test("X3: sign-LSH buckets collide for near-identical vectors and split far ones") {
    val base = Array.fill(16)(0.5f)
    val near = base.clone(); near(0) = 0.51f
    val far = base.map(-_)
    val emb = Seq((0L, base, 1), (1L, near, 1), (2L, far, 1))
      .toDF("vec_id", "embedding", "label")
    val planes = SimilarityOps.lshPlanes(8, 16)
    val buckets = emb
      .select(col("vec_id"),
        SimilarityOps.signLshBucket(col("embedding").cast("array<double>"), planes).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets(0L) === buckets(1L)) // tiny angle → same side of every plane
    assert(buckets(2L) === (~buckets(0L) & ((1L << 8) - 1))) // antipode flips every bit
    // and the ANN query surfaces the near neighbor first
    val top = SimilarityOps.cosineTopKLsh(emb, emb.filter(col("vec_id") === 0), 2,
      numPlanes = 8, dim = 16)
      .collect().map(_.getLong(0))
    assert(top.head === 1L)
  }

  test("A3 scale variant: approx_count_distinct within 2% of exact") {
    val df = (1L to 20000L).map(i => i % 3571L).toDF("user_id")
    val r = df.agg(approx_count_distinct(col("user_id"), 0.01).as("a"),
      countDistinct(col("user_id")).as("e")).collect().head
    val (a, e) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(a - e) / e < 0.03, s"approx $a vs exact $e")
  }

  test("X6: sessionize splits exactly at gaps > threshold") {
    val df = Seq(
      (1L, 0.0, 1L), (1L, 100.0, 2L), (1L, 2000.0, 3L), // gap 1900 > 1800 → new session
      (1L, 3000.0, 4L), // gap 1000 → same session
      (2L, 0.0, 5L) // separate user
    ).toDF("user_id", "t", "event_id")
    val got = SessionOps.sessionize(df, col("user_id"), col("t"), Seq(col("t"), col("event_id")), 1800.0)
      .select("event_id", "session_id").as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L))
  }

  test("X6: cohort retention counts distinct actives per (first-seen date, offset)") {
    val df = Seq(
      (1L, "2024-01-01"), (1L, "2024-01-01"), (1L, "2024-01-03"), // u1: day0, day2
      (2L, "2024-01-01"),                                         // u2: day0 only
      (3L, "2024-01-02"), (3L, "2024-01-03")                      // u3: later cohort
    ).toDF("u", "d").withColumn("d", to_date(col("d")))
    val r = SessionOps.cohortRetention(df, col("u"), col("d"))
      .as[(java.sql.Date, Long, Long)].collect()
      .map(x => (x._1.toString, x._2) -> x._3).toMap
    assert(r === Map(
      ("2024-01-01", 0L) -> 2L, ("2024-01-01", 2L) -> 1L,
      ("2024-01-02", 0L) -> 1L, ("2024-01-02", 1L) -> 1L))
  }

  test("X6: funnel requires strict order — same-time and out-of-order steps don't convert") {
    val df = Seq(
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "buy"),  // full conversion
      (2L, 10L, "view"), (2L, 10L, "click"),                    // tie: click NOT after view
      (3L, 20L, "click"), (3L, 30L, "view"),                    // out of order
      (4L, 5L, "view"), (4L, 6L, "click")                       // stops at stage 2
    ).toDF("u", "t", "et")
    val r = SessionOps.funnel(df, col("u"), col("t"), col("et"),
        Seq("view", "click", "buy"))
      .as[(Long, String, Long)].collect().map(x => x._1 -> x._3).toMap
    assert(r === Map(1L -> 4L, 2L -> 2L, 3L -> 1L)) // 4 viewed, u1+u4 clicked after, u1 bought
    assertThrows[IllegalArgumentException] {
      SessionOps.funnel(df, col("u"), col("t"), col("et"), Seq("view", "view"))
    }
  }

  test("X4: DocFrequency Aggregator counts document membership once per doc, merges across partitions") {
    val agg = new graft.functions.DocFrequency(Seq("the", "and"))
    // reduce: repeated tokens in one doc count once
    val afterDoc = agg.reduce(agg.zero, Seq("the", "the", "x", "and"))
    assert(afterDoc === Map("the" -> 1L, "and" -> 1L))
    // merge: partition maps add
    assert(agg.merge(afterDoc, Map("the" -> 2L)) === Map("the" -> 3L, "and" -> 1L))
    // end-to-end through the untyped udaf surface on a 4-partition frame
    val df = Seq("the cat", "a the and", "no match", "and and and")
      .toDF("text").repartition(4)
    val dfq = udaf(agg)
    val got = df.select(split(col("text"), " ").as("toks"))
      .agg(dfq(col("toks")).as("m"))
      .select(explode(col("m"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("the" -> 2L, "and" -> 2L))
  }

  test("X4: collocation PMI matches the hand-computed value on a tiny corpus") {
    // bigrams: d1 (a,b)(b,a)(a,b); d2 (a,b)(b,c) → N_big=5, c12(a,b)=3
    // unigrams: c(a)=3 c(b)=3 c(c)=1, N_uni=7
    // PMI(a,b) = ln(3·7·7 / (5·3·3)) = ln(49/15)
    val docs = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val got = TextOps.collocationPmi(docs, col("doc_id"), col("text"), minCount = 1)
      .select(col("w1"), col("w2"), col("c12"), col("pmi"))
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got.keySet === Set("a" -> "b", "b" -> "a", "b" -> "c"))
    assert(got("a" -> "b")._1 === 3L)
    assert(math.abs(got("a" -> "b")._2 - math.log(49.0 / 15.0)) < 1e-12)
    // support threshold prunes the singletons
    val pruned = TextOps.collocationPmi(docs, col("doc_id"), col("text"), minCount = 2)
      .select("w1", "w2").as[(String, String)].collect().toSet
    assert(pruned === Set("a" -> "b"))
  }

  test("X2: edit-distance band blocking pairs once, crosses bands, respects the block key") {
    import graft.operators.DedupOps
    val docs = Seq(
      (1L, "s0", "a b c d e f g"),           // 7 tokens → band 0
      (2L, "s0", "a b c d e f g h i"),       // 9 tokens → band 1; lev((1),(2)) = 4
      (3L, "s0", "z y x w v u t s r q p o"), // same band as 2, far in content
      (4L, "s1", "a b c d e f g")            // different block key — never pairs with 1
    ).toDF("doc_id", "source", "text")
    val got = DedupOps.editDistancePairs(docs, "doc_id", col("text"), col("source"),
        maxTokDiff = 8, maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // (1,2) crosses the band-0/band-1 boundary and is found exactly once;
    // 3 is within the token budget of 2 but beyond maxDist; 4 is blocked.
    assert(got === Map((1L, 2L) -> 4L))
    // exhaustive variant agrees with the verifier given the same pairs
    val viaVerify = DedupOps.editDistanceVerify(docs, "doc_id", col("text"),
        Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id"), maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(viaVerify === Map((1L, 2L) -> 4L))
  }

  test("X2: incremental LSH dedup flags band-colliding fresh docs, admits the rest") {
    import graft.operators.{DedupOps, TextOps}
    val corpus = Seq((1L, "w1 w2 w3 w4 w5 w6")).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "w1 w2 w3 w4 w5 w6"),      // identical -> all bands collide
      (11L, "z1 z2 z3 z4 z5 z6")       // disjoint shingles -> no collision
    ).toDF("doc_id", "text")
    def bands(d: org.apache.spark.sql.DataFrame) = DedupOps.minhashBandedRows(
      TextOps.shingleRows(d, col("doc_id"), lit("all"), col("text")), 4, 1)
    val got = DedupOps.incrementalLshSuspects(bands(fresh), bands(corpus))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got === Map(10L -> true, 11L -> false))
    // band rows split from the candidate generator must reproduce it:
    // self-probing the corpus index flags the corpus's own docs
    val self = DedupOps.incrementalLshSuspects(bands(corpus), bands(corpus))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(self === Map(1L -> true))
  }

  test("O4: mergeable TopK equals the window-rank top-k under any partitioning") {
    import graft.functions.TopK
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val agg = new TopK(3)
    // monoid-law brute force: any reduce/merge composition = global sort
    val xs = Seq((5.0, 1L), (7.0, 2L), (5.0, 3L), (9.0, 4L), (1.0, 5L), (7.0, 6L))
    val want = xs.sortBy { case (v, id) => (-v, id) }.take(3)
    val viaReduce = xs.foldLeft(agg.zero)(agg.reduce)
    assert(viaReduce === want)
    val (l, r) = xs.splitAt(2)
    assert(agg.merge(l.foldLeft(agg.zero)(agg.reduce),
      r.foldLeft(agg.zero)(agg.reduce)) === want)
    // tie on value (7.0): id ASC keeps 2 over 6 — deterministic
    assert(want.map(_._2) === Seq(4L, 2L, 6L))
    // insert-if-competitive edge: a row below a full buffer's floor is a no-op
    assert(agg.reduce(want, (0.5, 9L)) === want)
    // end-to-end through udaf on a many-partition frame: equals window rank
    import org.apache.spark.sql.expressions.Window
    val df = (1L to 200L).map(i => ((i % 4).toString, (i * 37 % 101).toDouble, i))
      .toDF("g", "v", "id").repartition(7)
    val fn = udaf(new TopK(3), ExpressionEncoder[(Double, Long)]())
    val got = df.groupBy("g").agg(fn(col("v"), col("id")).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("r", "e")))
      .select(col("g"), col("e._1").as("v"), col("e._2").as("id"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val viaWindow = df.withColumn("rk", row_number().over(
        Window.partitionBy("g").orderBy(desc("v"), col("id"))))
      .filter(col("rk") <= 3).select("g", "v", "id")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(got === viaWindow)
    intercept[IllegalArgumentException] { new TopK(0) }
  }

  test("X2: weighted Jaccard scores repetition that set Jaccard is blind to") {
    import graft.operators.{DedupOps, TextOps}
    // d1 repeats the shingle "a b c" twice ("a b c a b c" has positional
    // 3-grams: [a b c][b c a][c a b][a b c]); d2 has each once. Set Jaccard
    // of the distinct universes is 1.0; weighted Jaccard must be < 1.
    val docs = Seq((1L, "a b c a b c"), (2L, "a b c a")).toDF("doc_id", "text")
    val pos = TextOps.shinglePosRows(docs, col("doc_id"), lit("all"), col("text"))
    // positional form keeps occurrences: d1 has 4 shingle slots, d2 has 2
    assert(pos.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(1L -> 4L, 2L -> 2L))
    val tfs = DedupOps.featureTfRows(pos)
    // d1: {a b c: 2, b c a: 1, c a b: 1}; d2: {a b c: 1, b c a: 1}
    // w_common = min(2,1) + min(1,1) = 2; masses 4 and 2 -> wj = 2/(4+2-2) = 0.5
    val got = DedupOps.weightedJaccardVerifyPairs(
        Seq((1L, 2L)).toDF("a_id", "b_id"), tfs.drop("bucket"), threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(got.toSeq === Seq((1L, 2L, 2L, 4L, 2L, 0.5)))
    // set Jaccard over the same docs: |{abc,bca,cab} ∩ {abc,bca}| / |∪| = 2/3
    // (not 1.0 only because d1's wraparound adds "c a b") — the REPETITION
    // itself is invisible to the set metric; the multiset metric prices it.
    // Pair normalization: reversed and duplicated lists give the same row.
    val dup = DedupOps.weightedJaccardVerifyPairs(
      Seq((2L, 1L), (1L, 2L), (1L, 1L)).toDF("a_id", "b_id"),
      tfs.drop("bucket"), threshold = 0.0).collect()
    assert(dup.length === 1 && dup.head.getLong(2) === 2L)
  }

  test("X2: integer-weight expansion reduces capped weighted Jaccard to set Jaccard") {
    import graft.operators.DedupOps
    // tf vector d1 = {x: 5, y: 1}, d2 = {x: 2}; cap 3.
    // expansion: d1 -> {x#1,x#2,x#3,y#1}, d2 -> {x#1,x#2}
    // set J of expansions = 2 / 4 = capped weighted J = min(3,2)/(min(5,3)+1 +2 -2)
    val tfs = Seq((1L, "all", "x", 5L), (1L, "all", "y", 1L), (2L, "all", "x", 2L))
      .toDF("doc_id", "bucket", "sh", "tf")
    val ex = DedupOps.weightedExpandRows(tfs, tfCap = 3)
    val sets = ex.collect().map(r => (r.getLong(0), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(sets(1L) === Set("x#1", "x#2", "x#3", "y#1"))
    assert(sets(2L) === Set("x#1", "x#2"))
    val inter = (sets(1L) & sets(2L)).size.toDouble
    assert(inter / (sets(1L) | sets(2L)).size === 0.5)
    // the expanded rows feed the standard generator unchanged (schema check)
    assert(ex.columns.toSeq === Seq("doc_id", "bucket", "sh"))
    intercept[IllegalArgumentException] { DedupOps.weightedExpandRows(tfs, 0) }
  }

  test("X2: sorted-neighborhood pairs each row with its next window-1 in key order") {
    import graft.operators.DedupOps
    // keys 3,5,9,11,17 with bucket = key DIV 8 → buckets {0: 3,5}, {1: 9,11}, {2: 17}.
    // The (5,9) and (11,17) pairs STRADDLE bucket boundaries — the property
    // that distinguishes this generator from bucket blocking.
    val docs = Seq((10L, 3L), (20L, 5L), (30L, 9L), (40L, 11L), (50L, 17L))
      .toDF("doc_id", "k")
    val got = DedupOps.sortedNeighborhoodCandidates(docs, "doc_id",
        expr("k DIV 8"), col("k"), window = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // exhaustive expectation: (rank i, rank i+g) for g in 1..2
    assert(got === Set((10L, 20L, 1L), (10L, 30L, 2L), (20L, 30L, 1L),
      (20L, 40L, 2L), (30L, 40L, 1L), (30L, 50L, 2L), (40L, 50L, 1L)))
    // closed-form pair count: (window-1)·N − tail shortfall = 2·5 − 3
    assert(got.size === 7)
    // key ties break by doc_id, so the permutation (and pairs) stay deterministic
    val tied = Seq((2L, 7L), (1L, 7L)).toDF("doc_id", "k")
    val t = DedupOps.sortedNeighborhoodCandidates(tied, "doc_id",
        expr("k DIV 8"), col("k"), window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t === Set((1L, 2L)))
  }

  test("X2: quantile range buckets balance a skewed key that DIV collapses") {
    import graft.operators.DedupOps
    // Zipf-ish mass: key k ∈ 1..100 appears 101−k times (5,050 rows, mass
    // concentrated at small keys). DIV 26 puts 43% of all rows in its
    // first bucket; quantile buckets must each stay within the ideal
    // share plus the irreducible single-value floor (max value mass 100).
    val rows = (1L to 100L).flatMap(k =>
      (1L to (101L - k)).map(j => (k * 1000L + j, k))).toDF("doc_id", "k")
    val tot = 5050L
    val cuts = DedupOps.rangeBucketBoundaries(rows, col("k"), 4)
    assert(cuts == cuts.sorted && cuts.size === 3)
    val sizes = rows.select(DedupOps.rangeBucket(col("k"), cuts).as("b"))
      .groupBy("b").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes.values.sum === tot && sizes.keySet === Set(0L, 1L, 2L, 3L))
    assert(sizes.values.max <= tot / 4 + 100,
      s"quantile buckets unbalanced: $sizes")
    val divMax = rows.select(expr("k DIV 26").as("b"))
      .groupBy("b").count().agg(max("count")).head.getLong(0)
    assert(divMax > tot * 2 / 5, "fixture stopped being DIV-adversarial")
    // hand histogram exactness: keys 1,2,3,4 each once, 4 buckets → cuts
    // at the 25/50/75% discrete quantiles = 1, 2, 3
    val tiny = Seq(1L, 2L, 3L, 4L).map(k => (k, k)).toDF("doc_id", "k")
    assert(DedupOps.rangeBucketBoundaries(tiny, col("k"), 4) === Seq(1L, 2L, 3L))
    // single-value corpus: every cut lands on the one key — buckets
    // degenerate to one, CORRECTLY (the irreducible floor), no crash
    val mono = (1L to 9L).map(i => (i, 7L)).toDF("doc_id", "k")
    assert(DedupOps.rangeBucketBoundaries(mono, col("k"), 4) === Seq(7L))
    // bucket column is monotone and the SNM composition accepts it (the
    // in-plan raise stays silent) with the same pair count as any bucket
    val viaQuantile = DedupOps.sortedNeighborhoodCandidates(rows, "doc_id",
      DedupOps.rangeBucket(col("k"), cuts), col("k"), window = 3).count()
    val viaDiv = DedupOps.sortedNeighborhoodCandidates(rows, "doc_id",
      expr("k DIV 26"), col("k"), window = 3).count()
    assert(viaQuantile === viaDiv) // pair set depends only on the permutation
    assert(viaQuantile === 2L * tot - 3L)
    intercept[IllegalArgumentException] {
      DedupOps.rangeBucketBoundaries(rows, col("k"), 1)
    }
    intercept[IllegalArgumentException] {
      DedupOps.rangeBucket(col("k"), Seq(5L, 3L))
    }
    intercept[IllegalArgumentException] { // empty key refused loudly
      DedupOps.rangeBucketBoundaries(rows.filter(col("k") < 0), col("k"), 4)
    }
  }

  test("X2: sorted-neighborhood refuses non-monotone buckets and null keys") {
    import graft.operators.DedupOps
    // bucket 0 holds key 9, bucket 1 holds key 5 → bucket max(0)=9 ≥ min(1)=5:
    // ranks would NOT be key order; the offsets pass must raise, not mis-rank.
    val bad = Seq((1L, 9L, 0L), (2L, 5L, 1L)).toDF("doc_id", "k", "b")
    val e = intercept[Exception] {
      DedupOps.sortedNeighborhoodCandidates(bad, "doc_id", col("b"), col("k"), 2)
        .collect()
    }
    assert(e.getMessage.contains("monotone"))
    val nullKey = Seq((1L, Some(3L)), (2L, None)).toDF("doc_id", "k")
    val e2 = intercept[Exception] {
      DedupOps.sortedNeighborhoodCandidates(nullKey, "doc_id",
        coalesce(expr("k DIV 8"), lit(0L)), col("k"), 2).collect()
    }
    assert(e2.getMessage.contains("non-null"))
  }

  test("X4: Misra-Gries sketch retains every item above n/(k+1), any partitioning") {
    import graft.functions.MisraGries
    // 1000 items: "hot" 300×, "warm" 150×, 550 singletons. k=9 → bound
    // n/(k+1) = 100: hot and warm MUST survive every partitioning; the
    // singleton tail may or may not appear (residuals are partition-
    // dependent — exactly why heavyHitters rescans).
    val stream = (Seq.fill(300)("hot") ++ Seq.fill(150)("warm") ++
      (1 to 550).map(i => s"rare_$i"))
    val mg = udaf(new MisraGries(9), org.apache.spark.sql.Encoders.STRING)
    for (parts <- Seq(1, 7, 32)) {
      val sketch = scala.util.Random.shuffle(stream).toDF("tok").repartition(parts)
        .agg(mg(col("tok"))).head.getMap[String, Long](0)
      assert(sketch.size <= 9, s"capacity exceeded at $parts partitions")
      assert(sketch.contains("hot") && sketch.contains("warm"),
        s"guaranteed hitters missing at $parts partitions: ${sketch.keys}")
      // residual never exceeds the true count
      assert(sketch("hot") <= 300L && sketch("warm") <= 150L)
    }
  }

  test("X1: repeated-chunk removal drops cross-doc boilerplate, keeps order, handles full removal") {
    import graft.operators.DedupOps
    // chunk size 3: doc 1 = [A|B], doc 2 = [A|C], doc 3 = [A] exactly.
    // Chunk A ("x y z") is in 3 docs -> removed everywhere; B and C unique.
    val docs = Seq(
      (1L, "x y z b b2 b3"),
      (2L, "x y z c c2 c3"),
      (3L, "x y z")
    ).toDF("doc_id", "text")
    val got = DedupOps.repeatedChunkRemoval(docs, "doc_id", col("text"),
        chunkTokens = 3, maxDf = 1)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      1L -> (("b b2 b3", 1L, 1L)),
      2L -> (("c c2 c3", 1L, 1L)),
      3L -> (("", 0L, 1L))))
    // maxDf = 3 keeps everything, reassembled in original order
    val all = DedupOps.repeatedChunkRemoval(docs, "doc_id", col("text"),
        chunkTokens = 3, maxDf = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(all === Map(1L -> "x y z b b2 b3", 2L -> "x y z c c2 c3", 3L -> "x y z"))
  }

  test("X4: repetitionStats counts within-doc duplicate n-gram fractions; short docs score 0") {
    val docs = Seq(
      (1L, "a b a b a"), // 5 toks (2 distinct), 4 bi (2 distinct), 3 tri (2 distinct)
      (2L, "q"),         // 1 token: no bigrams/trigrams -> 0.0 by guard
      (3L, "u v")        // distinct: all fracs 0
    ).toDF("doc_id", "text")
    val got = graft.operators.TextOps.repetitionStats(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got === Map(
      1L -> ((5L, 0.6, 0.5, 0.333333)),
      2L -> ((1L, 0.0, 0.0, 0.0)),
      3L -> ((2L, 0.0, 0.0, 0.0))))
  }

  test("X4: surprisal is -log2 of corpus unigram probability, averaged per doc") {
    // corpus: a a a b -> p(a)=3/4, p(b)=1/4
    val docs = Seq((1L, "a a a"), (2L, "b")).toDF("doc_id", "text")
    val got = graft.operators.TextOps.surprisalScores(docs, col("doc_id"),
        split(col("text"), " "))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got === Map(
      1L -> ((3L, math.rint(-math.log(0.75) / math.log(2.0) * 1e6) / 1e6)),
      2L -> ((1L, 2.0))))
  }

  test("X4: bigram surprisal is add-one-smoothed -log2 p(w2|w1), averaged per doc") {
    // corpus bigrams: doc1 "a b a b" -> (a,b) (b,a) (a,b); doc2 "a c" -> (a,c)
    // counts: c(a,b)=2, c(b,a)=1, c(a,c)=1; left contexts: c1(a)=3, c1(b)=1; V=3
    // doc1: (a,b): -log2((2+1)/(3+3)) = 1; (b,a): -log2((1+1)/(1+3)) = 1 -> avg 1.0
    // doc2: (a,c): -log2((1+1)/(3+3)) = log2(3)
    // doc3 "a" adds no bigram and no NEW vocab token, so V stays {a,b,c} = 3
    val docs = Seq((1L, "a b a b"), (2L, "a c"), (3L, "a")).toDF("doc_id", "text")
    val got = graft.operators.TextOps.bigramSurprisal(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got === Map(
      1L -> ((3L, 1.0)),
      2L -> ((1L, math.rint(math.log(3.0) / math.log(2.0) * 1e6) / 1e6))))
    assert(!got.contains(3L)) // single-token doc has no bigram positions
  }

  test("X4: heavyHitters rescan returns the EXACT heavy-hitter set") {
    val toks = (Seq.fill(40)("alpha") ++ Seq.fill(25)("beta") ++
      Seq.fill(10)("gamma") ++ (1 to 25).map(i => s"x$i")).toDF("tok")
    // n = 100, shareDen = 5 → threshold count*5 >= 100 → count >= 20
    val got = graft.operators.TextOps.heavyHitters(toks, col("tok"), k = 10, shareDen = 5L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("alpha" -> 40L, "beta" -> 25L))
    // capacity too small for the share must fail fast, not silently miss
    assertThrows[IllegalArgumentException] {
      graft.operators.TextOps.heavyHitters(toks, col("tok"), k = 4, shareDen = 5L)
    }
  }

  test("multimodal: mapPartitions feature extraction preserves rows and derives stable features") {
    import MultimodalOps._
    val media = Seq(
      MediaRecord(1L, "image", "fake-image-bytes".getBytes, "s0"),
      MediaRecord(2L, "audio", "fake-audio-bytes".getBytes, "s0"),
      MediaRecord(3L, "video", "fake-video-bytes".getBytes, "s1")
    ).toDS()
    val feats = extractFeatures(media).collect().map(f => f.media_id -> f).toMap
    assert(feats.size === 3)
    assert(feats(1L).width > 0 && feats(1L).duration_ms === 0L)
    assert(feats(2L).width === 0 && feats(2L).duration_ms > 0L)
    assert(feats(3L).width > 0 && feats(3L).duration_ms > 0L)
    assert(feats(1L).n_bytes === "fake-image-bytes".length.toLong)
    // deterministic: second run yields identical hashes
    val again = extractFeatures(media).collect().map(f => f.media_id -> f.feature_hash).toMap
    assert(again === feats.map { case (k, v) => k -> v.feature_hash })
  }

  test("multimodal: real PNG and BMP payloads decode to true pixel dimensions") {
    import MultimodalOps._
    def encode(w: Int, h: Int, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach(y => img.setRGB(x, y, (x * 31 + y) & 0xffffff)))
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"JDK cannot encode $fmt")
      bos.toByteArray
    }
    val media = Seq(
      MediaRecord(1L, "image", encode(123, 45, "png"), "s0"),
      MediaRecord(2L, "image", encode(7, 300, "bmp"), "s0"),
      MediaRecord(3L, "image", "not-an-image".getBytes, "s1") // fallback path
    ).toDS()
    val feats = extractFeatures(media).collect().map(f => f.media_id -> f).toMap
    assert(feats(1L).width === 123 && feats(1L).height === 45)
    assert(feats(2L).width === 7 && feats(2L).height === 300)
    assert(feats(3L).width > 0 && feats(3L).height > 0) // deterministic fake dims
    assert(feats.values.forall(_.duration_ms === 0L))
  }

  test("multimodal: real WAV payloads decode to true duration via the header") {
    import MultimodalOps._
    // a genuine RIFF/WAVE file written by the JDK itself: 16 kHz mono
    // 16-bit, exactly 8000 frames = 500 ms
    def wav(frames: Int, hz: Float): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(hz, 16, 1, true, false)
      val pcm = new Array[Byte](frames * 2)
      (0 until frames).foreach(i => pcm(2 * i) = ((i * 37) & 0x7f).toByte)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val media = Seq(
      MediaRecord(1L, "audio", wav(8000, 16000f), "s0"),   // 500 ms
      MediaRecord(2L, "audio", wav(44100, 44100f), "s0"),  // 1000 ms
      MediaRecord(3L, "audio", "not-audio".getBytes, "s1") // fallback path
    ).toDS()
    val feats = extractFeatures(media).collect().map(f => f.media_id -> f).toMap
    assert(feats(1L).duration_ms === 500L)
    assert(feats(2L).duration_ms === 1000L)
    assert(feats(3L).duration_ms >= 1000L) // deterministic hash envelope
    assert(feats.values.forall(f => f.width === 0 && f.height === 0))
  }

  test("multimodal: ISO-BMFF (MP4) video headers parse to true duration and track dimensions") {
    import MultimodalOps._
    // A minimal hand-assembled BMFF container (public ISO/IEC 14496-12 box
    // layout): ftyp + moov(mvhd v0 + trak(tkhd v0)). timescale 1000,
    // duration 7500 → 7500 ms; tkhd width/height 640×360 in 16.16 fixed.
    def u32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(tpe: String, body: Array[Byte]): Array[Byte] =
      u32(8L + body.length) ++ tpe.getBytes("ISO-8859-1") ++ body
    val mvhd = box("mvhd", u32(0) ++ u32(0) ++ u32(0) ++ // v0+flags, ctime, mtime
      u32(1000) ++ u32(7500) ++ Array.fill[Byte](80)(0)) // timescale, duration, rest
    val tkhd = box("tkhd", u32(0) ++ u32(0) ++ u32(0) ++ u32(1) ++ u32(0) ++ u32(7500) ++
      Array.fill[Byte](8 + 2 + 2 + 2 + 2 + 36)(0) ++    // reserved..matrix
      u32(640L << 16) ++ u32(360L << 16))               // width, height (16.16)
    val mp4 = box("ftyp", "isom".getBytes ++ u32(512) ++ "isomiso2".getBytes) ++
      box("moov", mvhd ++ box("trak", tkhd))
    val media = Seq(
      MediaRecord(1L, "video", mp4, "s0"),
      MediaRecord(2L, "video", "not-a-container".getBytes, "s0") // hash fallback
    ).toDS()
    val feats = extractFeatures(media).collect().map(f => f.media_id -> f).toMap
    assert(feats(1L).duration_ms === 7500L)
    assert(feats(1L).width === 640 && feats(1L).height === 360)
    assert(feats(2L).duration_ms >= 1000L)
  }

  test("multimodal: MJPEG-in-MP4 pixel decode — demuxed frames to true dimensions and luma") {
    import MultimodalOps._
    def u32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(tpe: String, body: Array[Byte]): Array[Byte] =
      u32(8L + body.length) ++ tpe.getBytes("ISO-8859-1") ++ body
    // REAL JPEG access units: 3 solid-color frames (dark / mid / light
    // gray — grayscale survives JPEG chroma subsampling unskewed) at known
    // dimensions, encoded by the JDK's own writer.
    def jpegOf(w: Int, h: Int, gray: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(gray, gray, gray)); g.fillRect(0, 0, w, h); g.dispose()
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }
    val frames0 = Seq(jpegOf(16, 8, 32), jpegOf(24, 12, 128), jpegOf(8, 8, 224))
    val notJpeg = Array.tabulate[Byte](17)(i => (i + 1).toByte) // 4th sample: refuse path
    val sampleBytes = frames0 :+ notJpeg
    val chunk = sampleBytes.reduce(_ ++ _)
    val stts = box("stts", u32(0) ++ u32(1) ++ u32(4) ++ u32(40)) // 40ms deltas
    val stsz = box("stsz", u32(0) ++ u32(0) ++ u32(4) ++
      sampleBytes.flatMap(s => u32(s.length.toLong)).toArray)
    val stsc = box("stsc", u32(0) ++ u32(1) ++ (u32(1) ++ u32(4) ++ u32(1)))
    val mdhd = box("mdhd", u32(0) ++ u32(0) ++ u32(0) ++ u32(1000) ++ u32(160) ++ u32(0))
    def container(c1Off: Long): Array[Byte] = {
      val stco = box("stco", u32(0) ++ u32(1) ++ u32(c1Off))
      val stbl = box("stbl", stts ++ stsc ++ stsz ++ stco)
      val trak = box("trak", box("mdia", mdhd ++ box("minf", stbl)))
      val mvhd = box("mvhd", u32(0) ++ u32(0) ++ u32(0) ++ u32(1000) ++ u32(160) ++
        Array.fill[Byte](80)(0))
      box("ftyp", "isom".getBytes ++ u32(512) ++ "isomiso2".getBytes) ++
        box("moov", mvhd ++ trak) ++ box("mdat", chunk)
    }
    val probe = container(0L)
    val mp4 = container((probe.length - chunk.length).toLong)
    val media = Seq((9L, mp4)).toDF("media_id", "payload")
    val decoded = MultimodalOps
      .decodeMjpegFrames(MultimodalOps.demuxSampledFrames(media, stride = 1))
      .as[(Long, Int, Long, Int, Int, Long)].collect().sortBy(_._2)
    // The non-JPEG 4th sample emits NOTHING (refuse-don't-guess); the three
    // real frames decode to exact dimensions and (lossy-tolerant) luma.
    assert(decoded.map(_._2).toSeq === Seq(0, 1, 2))
    assert(decoded.map(_._3).toSeq === Seq(0L, 40L, 80L))
    assert(decoded.map(d => (d._4, d._5)).toSeq === Seq((16, 8), (24, 12), (8, 8)))
    val expectedLuma = Seq(32L, 128L, 224L)
    decoded.zip(expectedLuma).foreach { case (d, want) =>
      assert(math.abs(d._6 - want) <= 4, s"sample ${d._2}: luma ${d._6} vs $want")
    }
  }

  test("multimodal: MP4 sample-table demux recovers every sample's exact bytes and timestamp") {
    import MultimodalOps._
    def u32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(tpe: String, body: Array[Byte]): Array[Byte] =
      u32(8L + body.length) ++ tpe.getBytes("ISO-8859-1") ++ body
    // 5 samples, sizes 10/20/30/40/50, in 2 chunks (3 + 2 samples),
    // deltas 100 ticks @ timescale 1000 -> dts 0,100,200,300,400 ms.
    val sampleBytes: Seq[Array[Byte]] =
      Seq(10, 20, 30, 40, 50).zipWithIndex.map { case (n, i) =>
        Array.tabulate[Byte](n)(j => (i * 37 + j + 1).toByte)
      }
    val chunk1 = sampleBytes.take(3).reduce(_ ++ _) // 60 bytes
    val chunk2 = sampleBytes.drop(3).reduce(_ ++ _) // 90 bytes
    val stts = box("stts", u32(0) ++ u32(1) ++ u32(5) ++ u32(100))
    val stsz = box("stsz", u32(0) ++ u32(0) ++ u32(5) ++
      Seq(10, 20, 30, 40, 50).flatMap(s => u32(s)).toArray)
    val stsc = box("stsc", u32(0) ++ u32(2) ++
      (u32(1) ++ u32(3) ++ u32(1)) ++ (u32(2) ++ u32(2) ++ u32(1)))
    val mdhd = box("mdhd", u32(0) ++ u32(0) ++ u32(0) ++ u32(1000) ++ u32(500) ++ u32(0))
    // Assemble with a placeholder stco first to learn where mdat's body
    // lands, then rebuild with the true chunk offsets (chunk2 follows
    // chunk1 inside the same mdat).
    def container(c1Off: Long): Array[Byte] = {
      val stco = box("stco", u32(0) ++ u32(2) ++ u32(c1Off) ++ u32(c1Off + chunk1.length))
      val stbl = box("stbl", stts ++ stsc ++ stsz ++ stco)
      val mdia = box("mdia", mdhd ++ box("minf", stbl))
      val trak = box("trak", mdia)
      val mvhd = box("mvhd", u32(0) ++ u32(0) ++ u32(0) ++ u32(1000) ++ u32(500) ++
        Array.fill[Byte](80)(0))
      box("ftyp", "isom".getBytes ++ u32(512) ++ "isomiso2".getBytes) ++
        box("moov", mvhd ++ trak) ++ box("mdat", chunk1 ++ chunk2)
    }
    val probe = container(0L)
    val mdatBody = probe.length - (chunk1.length + chunk2.length) // mdat body start
    val mp4 = container(mdatBody.toLong)
    // Direct parse: 5 samples with the exact table-derived geometry.
    val table = MultimodalOps.mp4SampleTable(mp4).get
    assert(table.map(_.dts_ms) === Seq(0L, 100L, 200L, 300L, 400L))
    assert(table.map(_.n_bytes) === Seq(10L, 20L, 30L, 40L, 50L))
    assert(table.map(_.byte_offset) === Seq(
      mdatBody.toLong, mdatBody + 10L, mdatBody + 30L, mdatBody + 60L, mdatBody + 100L))
    // Distributed demux: stride 2 -> samples 0, 2, 4, each with its TRUE bytes.
    val media = Seq((7L, mp4), (8L, "not-a-container".getBytes)).toDF("media_id", "payload")
    val demuxed = MultimodalOps.demuxSampledFrames(media, stride = 2)
    // This fixture carries no stsd: codec metadata columns exist but are null.
    assert(demuxed.columns.toSeq.takeRight(3) === Seq("codec", "codec_profile", "codec_level"))
    assert(demuxed.filter(col("codec").isNotNull || col("codec_profile").isNotNull)
      .count() === 0L)
    val frames = demuxed
      .select("media_id", "sample_no", "dts_ms", "byte_offset", "n_bytes", "frame")
      .as[(Long, Int, Long, Long, Long, Array[Byte])].collect().sortBy(_._2)
    assert(frames.forall(_._1 == 7L)) // unparseable payload emits nothing
    assert(frames.map(_._2).toSeq === Seq(0, 2, 4))
    assert(frames.map(_._3).toSeq === Seq(0L, 200L, 400L))
    frames.foreach { case (_, no, _, _, _, bytes) =>
      assert(bytes.toSeq === sampleBytes(no).toSeq, s"sample $no bytes")
    }
    // Truncated mdat (the partial-download shape): the sample table parses
    // but points past the payload end — the contract is exact bytes or
    // NOTHING, so the whole table refuses instead of emitting truncated
    // frames that contradict their own n_bytes.
    val truncated = mp4.take(mp4.length - 30)
    assert(MultimodalOps.mp4SampleTable(truncated).isEmpty)
    // Adversarial stts: one run claiming 2^30 samples in a tiny payload
    // must be rejected (count mismatch) without allocating gigabytes.
    val bigStts = box("stts", u32(0) ++ u32(1) ++ u32(0x40000000L) ++ u32(100))
    val evil = {
      val stco = box("stco", u32(0) ++ u32(2) ++ u32(0) ++ u32(60))
      val stbl = box("stbl", bigStts ++ stsc ++ stsz ++ stco)
      box("ftyp", "isom".getBytes ++ u32(512) ++ "isomiso2".getBytes) ++
        box("moov", box("trak", box("mdia", mdhd ++ box("minf", stbl))))
    }
    val t0 = System.nanoTime()
    assert(MultimodalOps.mp4SampleTable(evil).isEmpty)
    assert((System.nanoTime() - t0) / 1e9 < 2.0, "malformed stts must fail fast")
    // Same attack through stco/stsc: claimed entry counts larger than the
    // payload could physically back must fail before sizing a collection.
    val evilStco = {
      val bomb = box("stco", u32(0) ++ u32(0x40000000L) ++ u32(0) ++ u32(60))
      val stbl = box("stbl", stts ++ stsc ++ stsz ++ bomb)
      box("ftyp", "isom".getBytes ++ u32(512) ++ "isomiso2".getBytes) ++
        box("moov", box("trak", box("mdia", mdhd ++ box("minf", stbl))))
    }
    val t1 = System.nanoTime()
    assert(MultimodalOps.mp4SampleTable(evilStco).isEmpty)
    assert((System.nanoTime() - t1) / 1e9 < 2.0, "malformed stco must fail fast")
  }

  test("multimodal: demux selects the declared-video trak, never a preceding audio trak") {
    import MultimodalOps._
    def u32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def u16(v: Int): Array[Byte] = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(tpe: String, body: Array[Byte]): Array[Byte] =
      u32(8L + body.length) ++ tpe.getBytes("ISO-8859-1") ++ body
    // hdlr body: version/flags(4), pre_defined(4), handler_type(4), reserved(12), name(1)
    def hdlr(handler: String): Array[Byte] =
      box("hdlr", u32(0) ++ u32(0) ++ handler.getBytes("ISO-8859-1") ++
        Array.fill[Byte](12)(0) ++ Array[Byte](0))
    val mdhd = box("mdhd", u32(0) ++ u32(0) ++ u32(0) ++ u32(1000) ++ u32(500) ++ u32(0))
    // One-chunk sample table: n samples of the given sizes at chunk offset off.
    def stbl(sizes: Seq[Int], off: Long, extra: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
      val stts = box("stts", u32(0) ++ u32(1) ++ u32(sizes.length) ++ u32(100))
      val stsz = box("stsz", u32(0) ++ u32(0) ++ u32(sizes.length) ++
        sizes.flatMap(s => u32(s)).toArray)
      val stsc = box("stsc", u32(0) ++ u32(1) ++ u32(1) ++ u32(sizes.length) ++ u32(1))
      val stco = box("stco", u32(0) ++ u32(1) ++ u32(off))
      box("stbl", extra ++ stts ++ stsc ++ stsz ++ stco)
    }
    def trak(handler: String, sizes: Seq[Int], off: Long,
        stsd: Array[Byte] = Array.emptyByteArray): Array[Byte] =
      box("trak", box("mdia", mdhd ++ hdlr(handler) ++ box("minf", stbl(sizes, off, stsd))))
    // avc1 VisualSampleEntry: SampleEntry(6 reserved + 2 dri) +
    // pre_defined/reserved(16) + width(2) height(2) + resolutions/
    // frame_count/compressorname/depth/pre_defined(50) + avcC child.
    val avcC = box("avcC", Array[Byte](1, 100.toByte, 0, 42)) // High profile, level 4.2
    val avc1 = box("avc1", Array.fill[Byte](6)(0) ++ u16(1) ++ Array.fill[Byte](16)(0) ++
      u16(640) ++ u16(360) ++ Array.fill[Byte](50)(0) ++ avcC)
    val stsd = box("stsd", u32(0) ++ u32(1) ++ avc1)
    val audioBytes = Array.tabulate[Byte](10)(i => (i + 1).toByte)      // 2 samples of 5
    val videoBytes = Array.tabulate[Byte](60)(i => (100 + i).toByte)    // 3 samples 10/20/30
    def container(traks: Array[Byte], mdatOff: Long): Array[Byte] =
      box("ftyp", "isom".getBytes ++ u32(512) ++ "isomiso2".getBytes) ++
        box("moov", traks) ++ box("mdat", audioBytes ++ videoBytes)
    // Two passes: probe with offset 0 to learn where mdat's body starts.
    def build(): Array[Byte] = {
      def traksAt(aOff: Long, vOff: Long) =
        trak("soun", Seq(5, 5), aOff) ++ trak("vide", Seq(10, 20, 30), vOff, stsd)
      val probe = container(traksAt(0L, 0L), 0L)
      val mdatBody = probe.length - (audioBytes.length + videoBytes.length)
      container(traksAt(mdatBody.toLong, mdatBody.toLong + audioBytes.length), mdatBody.toLong)
    }
    val mp4 = build()
    // The AUDIO trak comes first and has a complete sample table — the
    // demux must still pick the declared-video trak's geometry.
    val table = MultimodalOps.mp4SampleTable(mp4).get
    assert(table.map(_.n_bytes) === Seq(10L, 20L, 30L))
    val media = Seq((1L, mp4)).toDF("media_id", "payload")
    val rows = MultimodalOps.demuxSampledFrames(media, stride = 1)
      .select("sample_no", "frame", "codec", "codec_profile", "codec_level")
      .as[(Int, Array[Byte], Option[String], Option[Int], Option[Int])]
      .collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(0, 1, 2))
    assert(rows(0)._2.toSeq === videoBytes.take(10).toSeq, "frame 0 must be VIDEO bytes")
    assert(rows(2)._2.toSeq === videoBytes.slice(30, 60).toSeq)
    // stsd-derived codec metadata rides every frame row.
    assert(rows.forall(r => r._3 === Some("avc1") && r._4 === Some(100) && r._5 === Some(42)))
    assert(MultimodalOps.mp4CodecInfo(mp4) ===
      Some(Mp4CodecInfo("avc1", 100, 42, 640, 360)))
    // A container with ONLY declared-audio traks refuses — no wrong-modality
    // "frames" ever come out of the demux.
    val audioOnly = {
      val probe = container(trak("soun", Seq(5, 5), 0L), 0L)
      val mdatBody = probe.length - (audioBytes.length + videoBytes.length)
      container(trak("soun", Seq(5, 5), mdatBody.toLong), mdatBody.toLong)
    }
    assert(MultimodalOps.mp4SampleTable(audioOnly).isEmpty)
    assert(MultimodalOps.mp4CodecInfo(audioOnly).isEmpty)
    // hvcC branch: an hvc1 entry's profile/level come from the hvcC box.
    val hvcC = box("hvcC", Array[Byte](1, 1) ++ Array.fill[Byte](10)(0) ++ Array[Byte](93.toByte))
    val hvc1 = box("hvc1", Array.fill[Byte](6)(0) ++ u16(1) ++ Array.fill[Byte](16)(0) ++
      u16(1920) ++ u16(1080) ++ Array.fill[Byte](50)(0) ++ hvcC)
    val stsdHvc = box("stsd", u32(0) ++ u32(1) ++ hvc1)
    val mp4Hvc = {
      def t(vOff: Long) = trak("vide", Seq(10, 20, 30), vOff, stsdHvc)
      val probe = container(t(0L), 0L)
      val mdatBody = probe.length - (audioBytes.length + videoBytes.length)
      container(t(mdatBody.toLong + audioBytes.length), mdatBody.toLong)
    }
    assert(MultimodalOps.mp4CodecInfo(mp4Hvc) ===
      Some(Mp4CodecInfo("hvc1", 1, 93, 1920, 1080)))
  }

  test("multimodal: resize stub preserves rows, sets target dims, deterministic payload") {
    import MultimodalOps._
    val media = Seq(
      MediaRecord(1L, "image", "payload-one".getBytes, "s0"),
      MediaRecord(2L, "image", "payload-two".getBytes, "s0")).toDS()
    val a = resizeImages(media, 32, 32).collect().map(r => r.media_id -> r).toMap
    assert(a.size === 2)
    assert(a(1L).width === 32 && a(1L).height === 32)
    assert(a(1L).payload.length === 32 * 32 / 64)
    val b = resizeImages(media, 32, 32).collect().map(r => r.media_id -> r.payload.toSeq).toMap
    assert(b(1L) === a(1L).payload.toSeq) // deterministic
    assert(b(1L) !== b(2L)) // input-dependent
  }

  test("multimodal: frame sampling explodes chunks with stride") {
    val media = Seq((1L, Array.fill[Byte](1024)(7))).toDF("media_id", "payload")
    val frames = MultimodalOps.sampleFrames(media, chunkBytes = 256, stride = 2)
    // 1024/256+1 = 5 chunks, stride 2 → frames 0,2,4
    assert(frames.select("frame_no").as[Int].collect().toSeq.sorted === Seq(0, 2, 4))
  }

  test("X2: containment flags a subset doc at 1.0 where Jaccard stays low") {
    // doc 2's shingles are a strict subset of doc 1's: "a b c d e" ⊃ "a b c"
    val sh = Seq(
      (1L, "all", "a b c"), (1L, "all", "b c d"), (1L, "all", "c d e"),
      (2L, "all", "a b c"),
      (3L, "all", "x y z")).toDF("doc_id", "bucket", "sh")
    val r = DedupOps.containmentPairs(sh)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(r.toSeq === Seq((1L, 2L, 1L, 3L, 1L, 1.0))) // |A∩B|/min = 1/1
    // the same pair's Jaccard is 1/3 — the signal containment adds
    val j = DedupOps.jaccardPairsFromRows(sh)
      .select(col("jaccard")).as[Double].head()
    assert(j === 0.333333)
    // threshold excludes the pair
    assert(DedupOps.containmentPairs(sh, minContainment = 1.5).count() === 0L)
  }

  test("X2: containment VERIFY scores only the given pairs, on full sets, and normalizes the list") {
    val sh = Seq(
      (1L, "all", "a b c"), (1L, "all", "b c d"), (1L, "all", "c d e"),
      (2L, "all", "a b c"),
      (3L, "all", "b c d")).toDF("doc_id", "bucket", "sh")
    // Reversed AND duplicated pair — normalization must fold both to (1,2).
    val cand = Seq((2L, 1L), (1L, 2L)).toDF("a_id", "b_id")
    val r = DedupOps.containmentVerifyPairs(cand, sh, minContainment = 0.0)
      .as[(Long, Long, Long, Double)].collect()
    assert(r.toSeq === Seq((1L, 2L, 1L, 1.0))) // |A∩B|/min = 1/1, once
    // The (1,3) overlap exists in the corpus but was not a candidate —
    // the verifier's bill is bounded by its input, so it is NOT scored.
    assert(!r.exists(x => x._2 === 3L))
    // Threshold excludes.
    assert(DedupOps.containmentVerifyPairs(cand, sh, minContainment = 1.5)
      .count() === 0L)
  }

  test("X2: calibration VERIFY matches the corpus-wide report on the same pairs") {
    val df = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"), (3L, "a b c d x y z w"))
      .toDF("doc_id", "text")
    val sh = TextOps.shingleRows(df, col("doc_id"), lit("all"), col("text"))
    val full = DedupOps.minhashCalibration(sh, numHashes = 8)
      .as[(Long, Long, Long, Double, Double, Double)].collect()
      .map(x => (x._1, x._2) -> x).toMap
    val cand = full.keys.toSeq.toDF("a_id", "b_id")
    val v = DedupOps.minhashCalibrationVerify(cand, sh, numHashes = 8)
      .as[(Long, Long, Long, Double, Double, Double)].collect()
      .map(x => (x._1, x._2) -> x).toMap
    assert(v === full, s"pair-routed calibration diverged: $v vs $full")
    assert(v((1L, 2L))._3 === 8L && v((1L, 2L))._6 === 0.0)
  }

  test("X1: CDC chunking survives a prefix insertion that defeats fixed-width chunks") {
    // two docs: identical 60-token body, doc 2 with one extra leading token
    val body = (0 until 60).map(i => s"tok${i * 7 % 23}x$i").mkString(" ")
    val docs = Seq((1L, body), (2L, "inserted " + body)).toDF("doc_id", "text")

    // fixed-width chunks lose alignment: (almost) nothing repeats cross-doc
    val fixed = DedupOps.repeatedChunkRemoval(docs, "doc_id", col("text"),
        chunkTokens = 10, maxDf = 1)
      .agg(sum(col("n_removed"))).as[Long].head()
    // content-defined cuts re-synchronize within one window: shared chunks
    // hash identically in both docs and are removed from BOTH
    val cdcRemoved = DedupOps.cdcChunkRemoval(docs, "doc_id", col("text"),
        window = 3, divisor = 8, maxDf = 1)
      .agg(sum(col("n_removed"))).as[Long].head()
    assert(fixed === 0L, s"fixture broken: fixed-width chunks aligned anyway ($fixed)")
    assert(cdcRemoved >= 2L,
      s"CDC should re-synchronize and remove shared chunks from both docs ($cdcRemoved)")

    // determinism + reassembly: a doc with no cross-doc chunks is untouched
    val solo = DedupOps.cdcChunkRemoval(
      Seq((9L, body)).toDF("doc_id", "text"), "doc_id", col("text"),
      window = 3, divisor = 8, maxDf = 1).head()
    assert(solo.getAs[String]("clean_text") === body)
    assert(solo.getAs[Long]("n_removed") === 0L)
  }

  test("X4: distribution drift — 0 KL for a mirror source, positive for a skewed one") {
    // s1 tokens {a, b}, s2 tokens {a, b}: corpus = {a:2, b:2}. Both sources
    // are 50/50 = the corpus mix -> KL exactly 0 for both.
    val mirror = Seq(("s1", "a b"), ("s2", "a b")).toDF("source", "text")
    val m = TextOps.distributionDrift(mirror, col("source"),
        TextOps.tokenize(col("text")))
      .as[(String, Long, Double)].collect().map(x => x._1 -> x._3).toMap
    assert(m === Map("s1" -> 0.0, "s2" -> 0.0))
    // s1 = {a}, s2 = {b}: corpus 50/50, each source is a point mass ->
    // KL = 1·log2(1/0.5) = 1 bit for both
    val skew = Seq(("s1", "a"), ("s2", "b")).toDF("source", "text")
    val k = TextOps.distributionDrift(skew, col("source"),
        TextOps.tokenize(col("text")))
      .as[(String, Long, Double)].collect().map(x => x._1 -> x._3).toMap
    assert(k === Map("s1" -> 1.0, "s2" -> 1.0))
  }

  test("X4: BM25 matches hand computation; higher-tf doc ranks first; non-matching docs absent") {
    // Corpus: 3 docs; query = {x}. doc1 has tf=2 of 4 tokens, doc2 tf=1 of
    // 4, doc3 no match. N=3, df(x)=2, avgdl=4.
    val df = Seq(
      (1L, "x y x z"), (2L, "x y z w"), (3L, "a b c d")).toDF("doc_id", "text")
    val r = TextOps.bm25Scores(df, col("doc_id"), col("text"), Seq("x"), k1 = 1.2, b = 0.75)
      .as[(Long, Double, Double, Long)].collect().map(x => x._1 -> x).toMap
    assert(r.keySet === Set(1L, 2L)) // doc3 never matches
    val idf = math.log(1d + (3d - 2d + 0.5) / (2d + 0.5))
    def s(tf: Double) = idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * 4d / 4d))
    assert(math.abs(r(1L)._3 - s(2d)) < 1e-12)
    assert(math.abs(r(2L)._3 - s(1d)) < 1e-12)
    assert(r(1L)._3 > r(2L)._3) // tf monotone at equal dl
    assert(r(1L)._4 === 1L && r(1L)._2 === 4d)
  }

  test("X2: minhash calibration — identical docs estimate 1.0 with zero error; estimate stays within sketch bounds") {
    // d1 == d2 (exact dup); d3 shares a prefix with d1.
    val df = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"), (3L, "a b c d x y z w"))
      .toDF("doc_id", "text")
    val sh = TextOps.shingleRows(df, col("doc_id"), lit("all"), col("text"))
    val r = DedupOps.minhashCalibration(sh, numHashes = 8)
      .as[(Long, Long, Long, Double, Double, Double)].collect()
      .map(x => (x._1, x._2) -> x).toMap
    val dup = r((1L, 2L))
    assert(dup._3 === 8L && dup._4 === 1.0 && dup._5 === 1.0 && dup._6 === 0.0)
    // Every estimate is a multiple of 1/8 in [0,1] and err = |est - exact|.
    r.values.foreach { x =>
      assert(x._4 >= 0.0 && x._4 <= 1.0 && (x._4 * 8).isWhole)
      assert(math.abs(x._6 - math.abs(x._4 - x._5)) < 1e-15)
    }
  }

  test("§6.2 posture: fixed-geometry demos run at sf10 and REFUSE at the next decade, priced") {
    // The r15 decision, pinned (r14 verdict #6): q32/q88 stay literal-
    // geometry DEMOS. Their shared budget sits above the measured sf10
    // masses (they RUN there) and below the quadratic sf100 extrapolation
    // (100× per decade, SURVEY §6.2) — so at sf100 they refuse, priced.
    val measuredSf10 = Map("q32" -> 504300000L, "q88" -> 1004000000L)
    assert(measuredSf10.values.forall(_ <= graft.queries.Dedup.FixedGeometryDemoBudget),
      "budget must admit the measured-payable sf10 masses")
    assert(measuredSf10.values.forall(m =>
        m > graft.queries.Dedup.FixedGeometryDemoBudget / 100),
      "budget must refuse the 100x next-decade extrapolation")
    // And the refusal is the PRICED guard message, not a bare failure.
    val embs = (0L until 40L).map(i => (i, Array.fill(8)(1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val e = intercept[Throwable] {
      DedupOps.embeddingNearDups(embs, "vec_id", col("embedding"),
        col("label"), 0.0, Seq(SimilarityOps.lshPlanes(2, 8)),
        bucketMassBudget = 10L).count()
    }
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(chain(e).contains("bucketMassBudget = 10"), chain(e).take(400))
    assert(chain(e).contains("pair mass"), chain(e).take(400))
  }

  test("X3: occupancy-pinned LSH depth — integer thresholds, exact boundaries, clamped ladder") {
    import SimilarityOps.occupancyLshDepth
    // n <= cells·occ·2^p picks the shallowest rung; boundaries are exact
    // integer compares (no float log), so both engines agree at n = 2^k.
    assert(occupancyLshDepth(100L, 10L, 32L) === 2)
    assert(occupancyLshDepth(1280L, 10L, 32L) === 2) // == 10·32·4: stays at 2
    assert(occupancyLshDepth(1281L, 10L, 32L) === 3)
    assert(occupancyLshDepth(200000L, 10L, 32L) === 10) // the sf10 rung
    assert(occupancyLshDepth(Long.MaxValue / 4, 10L, 32L) === 12) // pMax clamp
    intercept[IllegalArgumentException](occupancyLshDepth(1L, 0L, 32L))
  }

  test("X3: pair-LSH sweep — identical vectors collide in every config; cheapest meeting config wins") {
    // (0,1) identical → cosine 1.0, same bucket under ANY plane set: the
    // exact-duplicate-recall-is-1.0-by-construction claim, measured.
    val vecs = Seq(
      (0L, Array.fill(8)(1.0f), 0),
      (1L, Array.fill(8)(1.0f), 0),
      (2L, Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f), 0),
      (3L, Array.tabulate(8)(i => if (i % 2 == 0) -1.0f else 1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val r = SimilarityOps.pairLshAutoTune(vecs, "vec_id", col("embedding"),
        col("label"), recallBar = 0.9, configs = Seq((1, 2), (2, 4)), dim = 8,
        recallTarget = 0.8, sampleN = 10L)
      .as[(Int, Int, Int, Double, Long, Boolean, Boolean)].collect()
    assert(r.forall(_._4 === 1.0), s"exact-dup recall must be 1.0: ${r.toSeq}")
    assert(r.count(_._7) === 1, s"exactly one chosen: ${r.toSeq}")
    val chosenMass = r.find(_._7).get._5
    assert(r.filter(_._6).forall(_._5 >= chosenMass),
      "chosen must be cheapest-by-mass among meeting configs")
    // Empty truth sample → vacuous recall 1.0 on every config, mass decides.
    val v = SimilarityOps.pairLshAutoTune(vecs, "vec_id", col("embedding"),
        col("label"), recallBar = 0.9, configs = Seq((1, 2)), dim = 8,
        recallTarget = 0.8, sampleN = 0L)
      .as[(Int, Int, Int, Double, Long, Boolean, Boolean)].collect()
    assert(v.head._4 === 1.0 && v.head._7)
  }

  test("X3: hard negatives exclude same-cluster neighbors and rank the survivors") {
    // q=0: n=1 is its duplicate-cluster co-member (cos .99 — a positive,
    // must NOT be mined); n=2/n=3 are true negatives; n=4 clustered
    // elsewhere stays eligible.
    val knn = Seq((0L, 1L, 0.99), (0L, 2L, 0.8), (0L, 3L, 0.7), (0L, 4L, 0.6))
      .toDF("q_id", "n_id", "cosine")
    val comps = Seq((0L, 0L), (1L, 0L), (4L, 4L)).toDF("node", "comp")
    val r = SimilarityOps.hardNegatives(knn, comps, 2)
      .as[(Long, Long, Double, Long)].collect().sortBy(_._4)
    assert(r.map(x => (x._2, x._4)).toSeq === Seq((2L, 1L), (3L, 2L)))
  }

  test("X3: recall@k — full overlap is 1.0, disjoint is 0.0, partial counts hits") {
    val truth = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 12L), (3L, 13L))
      .toDF("q_id", "n_id")
    val approx = Seq((1L, 10L), (1L, 11L), (2L, 99L), (2L, 12L), (3L, 98L))
      .toDF("q_id", "n_id")
    val r = SimilarityOps.recallAtK(truth, approx)
      .as[(Long, Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    assert(r(1L) === ((1L, 2L, 2L, 1.0)))
    assert(r(2L) === ((2L, 2L, 1L, 0.5)))
    assert(r(3L) === ((3L, 1L, 0L, 0.0)))
  }

  test("X3: recall@k is fan-out-proof — duplicate rows in either input do not inflate it") {
    val truth = Seq((1L, 10L), (1L, 10L), (1L, 11L)).toDF("q_id", "n_id")
    val approx = Seq((1L, 10L), (1L, 10L), (1L, 10L)).toDF("q_id", "n_id")
    val r = SimilarityOps.recallAtK(truth, approx)
      .as[(Long, Long, Long, Double)].collect()
    assert(r.toSeq === Seq((1L, 2L, 1L, 0.5)))
  }

  test("X2: calibration set sizes are per (doc, bucket) — a doc in two buckets is not inflated") {
    // d1 == d2 within bucket b1; d1 also appears under bucket b2. A
    // doc_id-only set-size window would sum d1's sizes across buckets
    // (12 instead of 6) and drag the (1,2) exact Jaccard below 1.0.
    val df = Seq((1L, "b1", "a b c d e f g h"), (2L, "b1", "a b c d e f g h"),
      (1L, "b2", "p q r s t u v w")).toDF("doc_id", "bucket", "text")
    val sh = TextOps.shingleRows(df, col("doc_id"), col("bucket"), col("text"))
    val r = DedupOps.minhashCalibration(sh, numHashes = 8)
      .as[(Long, Long, Long, Double, Double, Double)].collect()
      .map(x => (x._1, x._2) -> x).toMap
    assert(r((1L, 2L))._5 === 1.0, s"exact Jaccard inflated: ${r((1L, 2L))}")
  }

  test("X2: quantile df cap cuts the same SHARE at any corpus scale; a fixed cap does not") {
    // 10 shingle groups with df = k·1 .. k·10 (k = corpus scale). At q=0.9
    // the discrete-quantile threshold lands on the 9th value at EITHER
    // scale — always cutting exactly the hottest group — while the fixed
    // df≤50 cap flips from inert (k=1) to dropping half the universe
    // (k=10): the sf1-audit recall collapse in miniature.
    def shingles(k: Int) = (0 until 10).flatMap { i =>
      (0 until k * (i + 1)).map(d => (i * 10000L + d, "b", s"s$i"))
    }.toDF("doc_id", "bucket", "sh")
    def keptGroups(df: org.apache.spark.sql.DataFrame): Long =
      df.select("sh").distinct().count()
    assert(keptGroups(DedupOps.capShingleDfQuantile(shingles(1), 0.9)) === 9L)
    assert(keptGroups(DedupOps.capShingleDfQuantile(shingles(10), 0.9)) === 9L)
    assert(keptGroups(DedupOps.capShingleDf(shingles(1), 50)) === 10L)
    assert(keptGroups(DedupOps.capShingleDf(shingles(10), 50)) === 5L)
  }

  test("X2: capShingleDfQuantile picks its form by LogicalRDD in the input plan; " +
    "both forms keep the same rows") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.execution.LogicalRDD
    // Groups s0..s9 with df 1..10: at q = 0.9 the cap drops s9 only.
    def shingles(groups: Range) = groups.flatMap { i =>
      (0 to i).map(d => (i * 100L + d, "b", s"s$i"))
    }.toDF("doc_id", "bucket", "sh")
    def rdds(df: DataFrame) =
      df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.toSet
    // The per-(bucket, sh) df window; the threshold's histogram window is
    // unpartitioned and present in both forms.
    def groupWindows(df: DataFrame) =
      df.queryExecution.analyzed.collect { case w: LWindow if w.partitionSpec.nonEmpty => w }.size
    def rows(df: DataFrame) = df.as[(Long, String, String)].collect().sorted.toSeq
    def cap(df: DataFrame) = DedupOps.capShingleDfQuantile(df, q = 0.9)

    // Raw input: checkpoint + LEFT SEMI form — one new LogicalRDD, no group window.
    val raw = shingles(0 until 10)
    val rawOut = cap(raw)
    assert(rdds(raw).isEmpty && rdds(rawOut).size === 1 && groupWindows(rawOut) === 0)
    // Already-checkpointed input: window form — no new LogicalRDD.
    val mat = shingles(0 until 10).localCheckpoint(true)
    val matOut = cap(mat)
    assert(rdds(matOut) === rdds(mat) && groupWindows(matOut) > 0)
    assert(rows(rawOut) === rows(matOut))
    assert(!rows(rawOut).exists(_._3 == "s9") && rows(rawOut).size === 45)
    // Documented limit: ANY LogicalRDD selects the window form, so a union
    // of a checkpointed branch and a raw branch takes it too.
    val mixed = shingles(0 until 5).localCheckpoint(true).unionByName(shingles(5 until 10))
    val mixedOut = cap(mixed)
    assert(rdds(mixedOut) === rdds(mixed) && groupWindows(mixedOut) > 0)
    assert(rows(mixedOut) === rows(rawOut))
  }

  test("X1: repeated-span scrub removes a cross-doc passage at ANY alignment, merging overlaps") {
    val df = Seq(
      (1L, "u1 u2 A B C D E F u3"), // shared passage at offset 2
      (2L, "v1 A B C D E F v2 v3"), // same passage at offset 1
      (3L, "A B C D"), //              shorter than w: forms no window, never scrubbed
      (4L, "w1 w2 w3 w4 w5 w6 w7")).toDF("doc_id", "text")
    val r = DedupOps.repeatedSpanScrub(df, "doc_id", col("text"), w = 5)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[String]("clean_text"), x.getAs[Long]("n_kept"), x.getAs[Long]("n_removed"))))
      .toMap
    // A..F is 6 tokens: two overlapping 5-gram hits per doc union into the
    // one maximal span, at different offsets in each doc.
    assert(r(1L) === (("u1 u2 u3", 3L, 6L)))
    assert(r(2L) === (("v1 v2 v3", 3L, 6L)))
    assert(r(3L) === (("A B C D", 4L, 0L)))
    assert(r(4L) === (("w1 w2 w3 w4 w5 w6 w7", 7L, 0L)))
  }

  test("X1: repeated-span scrub — fully-consumed docs surface with empty text; within-doc repeats don't count") {
    val df = Seq(
      (1L, "X Y Z W Q"), //            exact twins: fully consumed
      (2L, "X Y Z W Q"),
      (3L, "P Q2 R S T m P Q2 R S T") // repeat WITHIN one doc: df=1, kept
    ).toDF("doc_id", "text")
    val r = DedupOps.repeatedSpanScrub(df, "doc_id", col("text"), w = 5)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[String]("clean_text"), x.getAs[Long]("n_kept"), x.getAs[Long]("n_removed"))))
      .toMap
    assert(r(1L) === (("", 0L, 5L)))
    assert(r(2L) === (("", 0L, 5L)))
    assert(r(3L) === (("P Q2 R S T m P Q2 R S T", 11L, 0L)))
  }

  test("X1: dup-rate jackknife — full-bucket sample reproduces truth; hand-checked SE; no-info source survives with g=0") {
    // fingerprints chosen by VALUE (the operator hashes them into
    // sub-buckets itself); with ALL 16 hex buckets sampled the estimator
    // must equal the ground-truth dup rate exactly, bucket-split aside.
    val allBuckets = "0123456789abcdef".map(_.toString)
    val df = Seq(
      ("s1", "f1"), ("s1", "f1"), ("s1", "f2"), ("s1", "f3"),
      ("s2", "g1"), ("s2", "g2")).toDF("source", "fp")
    val full = DedupOps.sampledDupRateJackknife(df, col("source"), col("fp"), allBuckets)
      .as[(String, Long, Double, Long, Double, Long, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(full("s1")._2 === 4L && full("s1")._3 === 0.25) // 1 - 3/4
    assert(full("s1")._5 === 0.25) // sample == corpus -> estimate == truth
    assert(full("s2")._3 === 0.0 && full("s2")._5 === 0.0)
    // hand-checked jackknife: md5 head chars are f1→'b', f2→'3', f3→'1',
    // so s1 has buckets b:{f1,f1} (n=2,u=1), 3:{f2} (1,1), 1:{f3} (1,1).
    // N=4, U=3. theta_b = 1-(3-1)/(4-2) = 0; theta_3 = theta_1 =
    // 1-(3-1)/(4-1) = 1/3. tbar = 2/9; ss = (2/9)^2 + 2*(1/9)^2 = 2/27;
    // se = sqrt(2/3 * 2/27) = 2/9 -> round6.
    assert(full("s1")._6 === 3L)
    assert(full("s1")._7 === 0.222222)
    // a source whose only sampled rows land in ONE bucket: estimate
    // surfaces, g_reps = 0, se = 0 — never dropped from the report.
    val one = DedupOps.sampledDupRateJackknife(
      Seq(("s3", "f1"), ("s3", "f1")).toDF("source", "fp"),
      col("source"), col("fp"), Seq("b"))
      .as[(String, Long, Double, Long, Double, Long, Double)].collect().head
    assert(one._4 === 2L && one._5 === 0.5 && one._6 === 0L && one._7 === 0.0)
    // a source with NO sampled rows: zeros, not absence
    val none = DedupOps.sampledDupRateJackknife(
      Seq(("s4", "f2")).toDF("source", "fp"),
      col("source"), col("fp"), Seq("0"))
      .as[(String, Long, Double, Long, Double, Long, Double)].collect().head
    assert(none._4 === 0L && none._5 === 0.0 && none._6 === 0L && none._7 === 0.0)
    intercept[IllegalArgumentException] {
      DedupOps.sampledDupRateJackknife(df, col("source"), col("fp"), Seq("ab"))
    }
    intercept[IllegalArgumentException] {
      DedupOps.sampledDupRateJackknife(df, col("source"), col("fp"), Seq("0", "0"))
    }
    // round-12 contract: a NULL fingerprint is refused loudly (it would
    // inflate dup_rate via countDistinct-vs-count and silently vanish from
    // the sampled branch) — in BOTH the row and the histogram form.
    val withNull = Seq(("s1", "f1"), ("s1", null)).toDF("source", "fp")
    val eNull = intercept[Exception] {
      DedupOps.sampledDupRateJackknife(
        withNull, col("source"), col("fp"), allBuckets).collect()
    }
    assert(messageChain(eNull).contains("fp must be non-null"))
    val eNullH = intercept[Exception] {
      DedupOps.sampledDupRateJackknifeFromCounts(
        withNull.withColumn("n", lit(1L)),
        col("source"), col("fp"), col("n"), allBuckets).collect()
    }
    assert(messageChain(eNullH).contains("fp must be non-null"))
  }

  /** Concatenated message chain of a throwable — Spark surfaces
    * raise_error through task-failure wrappers, so the named message may
    * sit on a cause. */
  private def messageChain(t: Throwable): String =
    Iterator.iterate[Throwable](t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")

  test("X4: category entropy — 0 for monolingual, 1 bit for a 50/50 mix") {
    val df = Seq(
      ("s1", "en"), ("s1", "en"), ("s1", "de"), ("s1", "de"),
      ("s2", "en"), ("s2", "en"), ("s2", "en")).toDF("source", "lang")
    val r = TextOps.categoryEntropy(df, col("source"), col("lang"))
      .as[(String, Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    assert(r("s1") === (("s1", 4L, 2L, 1.0))) // 50/50 → exactly 1 bit
    assert(r("s2") === (("s2", 3L, 1L, 0.0))) // single category → 0, not -0.0
    assert(java.lang.Double.doubleToRawLongBits(r("s2")._4) === 0L)
  }
}
