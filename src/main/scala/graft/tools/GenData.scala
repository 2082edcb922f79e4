package graft.tools

/** Builder-synthesized testdata tiers beyond the driver's sf0.1 — the sf1
  * tier every 10×-growth claim needs a second measurement step for.
  *
  * This is an EXTRAPOLATION of the driver generator's measured process, not
  * the driver's generator (that code is not in the repo): the process was
  * fitted against sf0.01/sf0.1 — `source = src{doc_id % 20}`; lang drawn
  * with weights (en .4, de/fr/es/zh .15); text = 10–100 uniform words over
  * the observed 31-word vocabulary; ~5% of docs are near-dup copies of a
  * random earlier doc's base text with one tail edit (append ~48.5% / drop
  * last ~48.5% / verbatim ~3%, the verbatim slice reproducing the measured
  * ~0.16% exact-dup rate); embeddings are iid-Gaussian 64-dim unit vectors
  * with uniform labels 0..9 (the measured per-dim std 0.1228 ≈ 1/√64 and
  * the same-label cosine≥0.35 tail volume match that model). Growth RATIOS
  * measured against a tier generated here are meaningful because the
  * process is scale-invariant; absolute sf1 values are not comparable to a
  * hypothetical driver-generated sf1.
  *
  * Determinism is per-ROW, not per-sequence: every row derives its own RNG
  * from (seed=42, id) via a splitmix step, so output is independent of
  * partitioning and task order — the property a distributed generator needs
  * (a sequential RNG would make row i depend on which task generated rows
  * 0..i−1). A copy doc regenerates its partner's BASE text from the
  * partner's id alone — no shuffle, no cross-row state.
  *
  * VOCABULARY TIERS: the driver fixture's 31-word vocabulary saturates the
  * 3-gram universe within a few thousand docs, which makes every df-table
  * and candidate-volume audit look quadratic for reasons that belong to
  * the CORPUS, not the plans (BASELINE "broken bounds share one
  * mechanism"). The `heaps` mode replaces the fixed vocabulary with a
  * Zipf(≈1)-tail draw over a 10⁶-word universe — rank log-uniform, so
  * P(rank ≈ r) ∝ 1/r — giving the Heaps'-law V(n) ∝ n^β distinct-word
  * growth a real web corpus shows: head words stay high-df (the cap's
  * prey), the tail keeps df discriminative at any corpus size. Everything
  * else (sources, langs, lengths, the 5% copy mechanism) is identical, so
  * a fixed-vs-heaps contrast isolates exactly the vocabulary variable.
  *
  * Usage: `sbt "runMain graft.tools.GenData 1 target/sf1"`;
  *        `sbt "runMain graft.tools.GenData 1 target/heaps_sf1 heaps"`.
  */
object GenData {

  private val Vocab = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val Langs = Array("en", "de", "fr", "es", "zh")
  private val LangCdf = Array(0.40, 0.55, 0.70, 0.85, 1.00)

  /** One word draw. Both modes consume EXACTLY one RNG draw per word, so
    * the base-text regeneration stream ([[baseWords]]) stays synchronized
    * with [[docRow]]'s under either mode. */
  private def drawWord(r: scala.util.Random, heaps: Boolean): String =
    if (!heaps) Vocab(r.nextInt(Vocab.length))
    else {
      // Log-uniform rank in [1, 1e6]: P(rank ∈ [a,b]) ∝ ln(b/a) — the
      // continuous Zipf(s=1). exp of a uniform over [0, ln 1e6].
      val u = r.nextDouble()
      "w" + math.min(1000000L, math.max(1L, math.exp(u * math.log(1e6)).toLong))
    }

  private def rngFor(id: Long): scala.util.Random = {
    // splitmix64 of (42, id): decorrelates adjacent ids far better than
    // seeding java.util.Random with id directly (its seed scrambler is weak
    // for sequential seeds, which would correlate adjacent docs' texts).
    var z = 42L ^ (id * 0x9E3779B97F4A7C15L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new scala.util.Random(z ^ (z >>> 31))
  }

  /** A doc's BASE text (pre copy-mutation) — pure function of its id. */
  private def baseWords(id: Long, heaps: Boolean): Seq[String] = {
    val r = rngFor(id)
    r.nextDouble() // burn the lang draw so base text matches docRow's stream
    r.nextDouble() // burn the copy-decision draw
    val n = 10 + r.nextInt(91)
    Seq.fill(n)(drawWord(r, heaps))
  }

  private def docRow(id: Long, heaps: Boolean): (Long, String, String, String, Long) = {
    val r = rngFor(id)
    // ONE draw, compared against the whole CDF (an indexWhere over a
    // per-element nextDouble() would consume a variable number of draws —
    // skewing the weights AND desynchronizing the stream baseWords relies
    // on regenerating).
    val langDraw = r.nextDouble()
    val lang = Langs(LangCdf.indexWhere(_ >= langDraw).max(0))
    val isCopy = r.nextDouble() < 0.05 && id > 0
    val words: Seq[String] =
      if (!isCopy) {
        val n = 10 + r.nextInt(91)
        Seq.fill(n)(drawWord(r, heaps))
      } else {
        val partner = (rngFor(id ^ 0x5DEECE66DL).nextDouble() * id).toLong.min(id - 1)
        val base = baseWords(partner, heaps)
        rngFor(id + 0x1234567L).nextDouble() match {
          case d if d < 0.485 => base :+ drawWord(rngFor(id + 7L), heaps)
          case d if d < 0.97 => base.dropRight(1)
          case _ => base // verbatim ~3% of copies → the measured ~0.16% exact-dup rate
        }
      }
    val text = words.mkString(" ")
    (id, text, lang, s"src${id % 20}", text.length.toLong)
  }

  private def vecRow(id: Long): (Long, Array[Float], Int) = {
    val r = rngFor(id * 31 + 0x7F4A7C15L)
    val v = Array.fill(64)(r.nextGaussian())
    val nrm = math.sqrt(v.map(x => x * x).sum)
    (id, v.map(x => (x / nrm).toFloat), r.nextInt(10))
  }

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.map(_.toDouble).getOrElse(1.0)
    val outDir = args.lift(1).getOrElse("target/sf1")
    val heaps = args.lift(2).contains("heaps")
    val nDocs = (50000 * sf).toLong
    val nVecs = (20000 * sf).toLong
    val spark = graft.engine.Engine.session()
    import spark.implicits._
    // 16 slices = 16 output files on any machine: the slice count sets the
    // tier's file layout, not the parallelism it runs at.
    spark.range(0L, nDocs, 1L, 16).map(r => docRow(r, heaps))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    spark.range(0L, nVecs, 1L, 16).map(r => vecRow(r))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    println(s"""{"metric":"gendata","sf":$sf,"docs":$nDocs,"vecs":$nVecs,""" +
      s""""vocab":"${if (heaps) "heaps" else "fixed"}","dir":"$outDir"}""")
    spark.stop()
  }
}
