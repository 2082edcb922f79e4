package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions._

/** In-engine BPE merge training must agree with an independent single-
  * machine reference trainer (same start-from-characters, frequency-
  * weighted pair argmax, lexicographic tie-break, greedy non-overlap
  * reapplication), and its learned vocab must compose into the
  * longest-match encoder. */
class BpeTrainSpec extends SparkSpec {
  import spark.implicits._

  /** Reference trainer over a distinct-word frequency table. */
  private def refTrain(words: Map[String, Long], numMerges: Int): Seq[(String, String, Long)] = {
    def applyMerge(s: List[String], a: String, b: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var i = 0
      while (i < s.length) {
        if (i + 1 < s.length && s(i) == a && s(i + 1) == b) { out += (a + b); i += 2 }
        else { out += s(i); i += 1 }
      }
      out.toList
    }
    var syms: Seq[(List[String], Long)] =
      words.toSeq.map { case (w, f) => w.map(_.toString).toList -> f }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var exhausted = false
    while (out.size < numMerges && !exhausted) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((s, f) <- syms; i <- 0 until s.length - 1)
        counts((s(i), s(i + 1))) = counts.getOrElse((s(i), s(i + 1)), 0L) + f
      if (counts.isEmpty) exhausted = true
      else {
        val ((a, b), n) = counts.toSeq.sortBy { case ((x, y), c) => (-c, x, y) }.head
        out += ((a, b, n))
        syms = syms.map { case (s, f) => applyMerge(s, a, b) -> f }
      }
    }
    out.toSeq
  }

  private def docsOf(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  test("trained merges match the reference on a hand corpus, including counts") {
    // 'low' x3, 'lower' x2, 'lowest' x1 — the classic BPE example
    val docs = docsOf("low low lower lowest", "low lower")
    val words = Map("low" -> 3L, "lower" -> 2L, "lowest" -> 1L)
    val got = TextOps.bpeTrain(docs, col("text"), numMerges = 5)
    assert(got === refTrain(words, 5))
    // the first merge must be (l, o): appears in every word, weight 6
    assert(got.head === (("l", "o", 6L)))
  }

  test("random corpora: engine and reference agree merge-for-merge") {
    val rng = new scala.util.Random(23)
    val alphabet = "abcd"
    (1 to 5).foreach { trial =>
      val vocabWords = Seq.fill(8)(
        (1 to (1 + rng.nextInt(6))).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString)
      val corpus = Seq.fill(30)(vocabWords(rng.nextInt(vocabWords.size))).mkString(" ")
      val freqs = corpus.split(" ").filter(_.nonEmpty)
        .groupBy(identity).map { case (w, g) => w -> g.length.toLong }
      val got = TextOps.bpeTrain(docsOf(corpus), col("text"), numMerges = 6)
      assert(got === refTrain(freqs, 6), s"trial $trial corpus '$corpus'")
    }
  }

  test("greedy non-overlap: aaaa under merge (a,a) becomes [aa, aa], then (aa,aa) merges next") {
    val got = TextOps.bpeTrain(docsOf("aaaa aaaa"), col("text"), numMerges = 2)
    assert(got === Seq(("a", "a", 6L), ("aa", "aa", 2L)))
    // weight 6: two words x 3 adjacent (a,a) pairs each; after the merge
    // each word is [aa, aa] -> one (aa, aa) pair per word
  }

  test("merge budget beyond exhaustion stops cleanly") {
    val got = TextOps.bpeTrain(docsOf("ab ab"), col("text"), numMerges = 10)
    assert(got === Seq(("a", "b", 2L))) // one merge, then every word is a single symbol
  }

  test("learned vocab composes into the longest-match encoder") {
    val docs = docsOf("low low lower lowest", "low lower")
    val merges = TextOps.bpeTrain(docs, col("text"), numMerges = 4)
    val vocab = merges.map { case (a, b, _) => a + b }
    val toks = docs.select(TextOps.subwordTokenize(col("text"), vocab).as("t"))
      .collect().map(_.getSeq[String](0))
    // every learned token is reachable; uncovered chars fall back
    assert(toks.flatten.toSet.intersect(vocab.toSet).nonEmpty)
    // 'low' itself encodes via the trained pieces, not char-by-char
    val lowToks = docsOf("low").select(TextOps.subwordTokenize(col("text"), vocab))
      .collect().head.getSeq[String](0)
    assert(lowToks.length < 3, s"expected trained compression, got $lowToks")
  }

  test("vocab artifact: train -> persist -> reload in rank order; encode parity; refusals") {
    val docs = docsOf("low low lower lowest", "low lower", "slow slower")
    val merges = TextOps.bpeTrain(docs, col("text"), numMerges = 5)
    val path = java.nio.file.Files.createTempDirectory("bpevocab").toString + "/v"
    TextOps.writeBpeVocab(spark, path, merges)
    val back = TextOps.readBpeVocab(spark, path)
    assert(back === merges) // rank order and frequencies survive exactly
    // re-encoding with the reloaded vocab is identical to the live one
    def enc(v: Seq[String]) = docs
      .select(TextOps.subwordTokenize(col("text"), v).as("t"))
      .collect().map(_.getSeq[String](0).toList).toList
    assert(enc(back.map { case (a, b, _) => a + b })
      === enc(merges.map { case (a, b, _) => a + b }))
    intercept[IllegalArgumentException] {
      TextOps.writeBpeVocab(spark, path, Seq.empty)
    }
    // gapped ranks refuse
    import spark.implicits._
    Seq((0, "a", "b", 3L), (2, "c", "d", 2L)).toDF("rank", "a", "b", "freq")
      .write.mode("overwrite").parquet(path + "_bad")
    intercept[IllegalArgumentException] {
      TextOps.readBpeVocab(spark, path + "_bad")
    }
  }

  test("training frees every generation it checkpointed") {
    // One localCheckpoint per merge; the result is a driver Seq, so none
    // may outlive the call (a leaking loop adds numMerges + 1 RDDs).
    val docs = docsOf("low lower lowest newer newest wider widest")
    TextOps.bpeTrain(docs, col("text"), numMerges = 8)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val got = TextOps.bpeTrain(docs, col("text"), numMerges = 8)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(got.size === 8)
    assert(leaked.isEmpty, s"bpeTrain left persistent RDDs $leaked")
  }
}
