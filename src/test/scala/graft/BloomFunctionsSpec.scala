package graft

import graft.functions.{BloomBuild, BloomUtil, GraftFunctions}
import graft.operators.{CurationOps, TextOps}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

/** The Bloom sketch's contract: zero false negatives, bounded false
  * positives, partitioning-invariant build, and an end-to-end bloom-probe
  * decontamination result identical to the exact join. */
class BloomFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private val mBits = 1 << 14
  private val k = 5
  private def buildBloom(values: Seq[String], parts: Int = 4): Array[Byte] = {
    val agg = udaf(new BloomBuild(mBits, k), Encoders.STRING)
    values.toDF("s").repartition(parts).agg(agg(col("s"))).head.getAs[Array[Byte]](0)
  }

  private val inserted = (1 to 500).map(i => s"member_$i")

  test("no false negatives: every inserted value probes true (interpreted + codegen)") {
    val bloom = buildBloom(inserted)
    val words = BloomUtil.toWords(bloom)
    assert(inserted.forall(s =>
      BloomUtil.mightContain(words, s.getBytes("UTF-8"), k)))
    // and through the Catalyst expression inside a real plan
    val n = inserted.toDF("s")
      .filter(GraftFunctions.bloomContains(col("s"), bloom, k)).count()
    assert(n === inserted.size)
  }

  test("false-positive rate stays near theory (< 2% at this sizing)") {
    val bloom = buildBloom(inserted)
    val probes = (1 to 2000).map(i => s"absent_$i")
    val fp = probes.toDF("s")
      .filter(GraftFunctions.bloomContains(col("s"), bloom, k)).count()
    // theory: (1 - e^(-k·n/m))^k ≈ 3e-6 at n=500, m=16384, k=5 — 2% is lax
    assert(fp < 40, s"false-positive count $fp out of 2000")
  }

  test("build is partitioning-invariant (OR-merge is order-free)") {
    assert(buildBloom(inserted, parts = 1).toSeq === buildBloom(inserted, parts = 13).toSeq)
  }

  test("sizeFor: n·k/ln2 bits, word-aligned, clamped to 2KiB..16MiB") {
    val m = BloomUtil.sizeFor(500, 5)
    assert(m % 64 === 0)
    assert(m === (1 << 14)) // small vocab hits the lower clamp
    val big = BloomUtil.sizeFor(1000000, 5)
    assert(big >= 1000000 * 5 / math.log(2.0) - 64 && big % 64 === 0)
    assert(BloomUtil.sizeFor(Long.MaxValue / 8, 5) === (1 << 27)) // upper clamp
  }

  test("saturation: fp degrades smoothly at 2× design load, never false-negative") {
    // Size for 500 keys, insert 1000 — twice the design load. Theory:
    // fp = (1 − e^(−k·n/m))^k with m = 500·k/ln2 (here the 2^14 clamp, so
    // even better); at exactly m = n·k/ln2 and 2n inserted the rate is
    // (1 − 0.25)^5 ≈ 24%. The point: overload degrades the PREFILTER, not
    // correctness — membership of inserted keys stays exact.
    val m = BloomUtil.sizeFor(500, k)
    val agg = udaf(new BloomBuild(m, k), Encoders.STRING)
    val doubled = (1 to 1000).map(i => s"member_$i")
    val bloom = doubled.toDF("s").agg(agg(col("s"))).head.getAs[Array[Byte]](0)
    val words = BloomUtil.toWords(bloom)
    assert(doubled.forall(s => BloomUtil.mightContain(words, s.getBytes("UTF-8"), k)))
    val fp = (1 to 2000).map(i => s"absent_$i")
      .count(s => BloomUtil.mightContain(words, s.getBytes("UTF-8"), k))
    assert(fp < 700, s"2× overload fp count $fp out of 2000 — beyond smooth degradation")
  }

  test("null bloom literal is rejected at analysis, not NPE at codegen") {
    val err = intercept[Exception] {
      spark.sql("SELECT graft_bloom_contains('x', CAST(NULL AS BINARY), 5)").collect()
    }
    assert(err.getMessage.toLowerCase.contains("non-null binary literal"),
      s"unexpected error: ${err.getMessage}")
  }

  test("bloom-probe contamination equals the exact join, doc for doc") {
    val docs = (1L to 60L).map { i =>
      val words = (0 until 12).map(j => s"w${(i * 7 + j * 3) % 40}").mkString(" ")
      (i, if (i % 3 == 0) "test" else "train", words)
    }.toDF("doc_id", "split", "text")
    val sh = TextOps.shingleRows(docs, col("doc_id"), col("split"), col("text"))
    val ev = sh.filter(col("bucket") === "test")
    val tr = sh.filter(col("bucket") === "train")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_shingles", "n_contaminated")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(canon(CurationOps.contaminationBloom(ev, tr, mBits, k))
      === canon(CurationOps.contamination(ev, tr)))
  }

  test("BloomIndex round-trips through parquet and validates on read") {
    import graft.operators.DedupOps
    val corpus = (1L to 300L).map(i => (i, s"fp_${i % 120}")).toDF("id", "fp")
    val idx = DedupOps.buildFingerprintBloom(corpus, col("fp"), k = 5)
    assert(idx.nKeys === 120)
    val dir = java.nio.file.Files.createTempDirectory("bloomidx").toString
    DedupOps.writeBloomIndex(spark, s"$dir/idx", idx)
    val back = DedupOps.readBloomIndex(spark, s"$dir/idx")
    assert(back === idx.copy(sketch = back.sketch)) // metadata equal
    assert(back.sketch.toSeq === idx.sketch.toSeq)  // sketch bit-identical
    // malformed artifact (2 rows) refuses loudly
    spark.range(2).selectExpr("1 AS m_bits", "1 AS k", "0L AS n_keys",
      "CAST(NULL AS BINARY) AS sketch").write.mode("overwrite").parquet(s"$dir/bad")
    val err = intercept[IllegalArgumentException] {
      DedupOps.readBloomIndex(spark, s"$dir/bad")
    }
    assert(err.getMessage.contains("exactly 1 row"))
  }

  test("build frees its key checkpoint once the sketch is collected") {
    import graft.operators.DedupOps
    // The streaming funnel builds one sketch per micro-batch; a kept key
    // checkpoint would add one block set per batch to a driver that never
    // sweeps.
    val corpus = (1L to 300L).map(i => (i, s"fp_${i % 120}")).toDF("id", "fp")
    DedupOps.buildFingerprintBloom(corpus, col("fp"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val idx = DedupOps.buildFingerprintBloom(corpus, col("fp"))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(idx.nKeys === 120)
    assert(leaked.isEmpty, s"buildFingerprintBloom left persistent RDDs $leaked")
  }

  test("bloomPrunedNovel equals the plain anti-join on random overlapping batches") {
    import graft.operators.DedupOps
    val rnd = new scala.util.Random(11)
    (1 to 3).foreach { trial =>
      val corpus = (1 to 200).map(_ => s"key_${rnd.nextInt(150)}")
        .zipWithIndex.map { case (fp, i) => (i.toLong, fp) }.toDF("id", "fp")
      val fresh = (1 to 120).map(_ => s"key_${rnd.nextInt(300)}")
        .zipWithIndex.map { case (fp, i) => (i.toLong, fp) }.toDF("id", "fp")
      val idx = DedupOps.buildFingerprintBloom(corpus, col("fp"))
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("id", "fp").as[(Long, String)].collect().sortBy(identity).toSeq
      val pruned = canon(DedupOps.bloomPrunedNovel(fresh, "fp", corpus, idx))
      val plain = canon(fresh.join(corpus.select("fp").distinct(), Seq("fp"), "left_anti")
        .select("id", "fp"))
      assert(pruned === plain, s"trial $trial diverged")
    }
  }

  test("bloomPrunedNovel keeps NULL-fingerprint rows, exactly like the plain anti-join") {
    import graft.operators.DedupOps
    val corpus = Seq((1L, "a"), (2L, "b")).toDF("id", "fp")
    val fresh = Seq((10L, "a"), (11L, "c"), (12L, null.asInstanceOf[String]))
      .toDF("id", "fp")
    val idx = DedupOps.buildFingerprintBloom(corpus, col("fp"))
    val got = DedupOps.bloomPrunedNovel(fresh, "fp", corpus, idx)
      .select("id").as[Long].collect().sorted.toSeq
    // null fp never equi-matches the corpus -> kept, same as left_anti
    assert(got === Seq(11L, 12L))
  }

  test("mergeBloomIndexes: OR of per-batch sketches equals the union build, bit for bit") {
    import graft.operators.DedupOps
    // Overlapping batches, FIXED geometry (auto-sizing would pick different
    // m per batch — a real pipeline pins geometry when it plans to merge).
    val m = 1 << 14
    val batchA = (1L to 200L).map(i => (i, s"key_${i % 160}")).toDF("id", "fp")
    val batchB = (1L to 200L).map(i => (i, s"key_${100 + i % 160}")).toDF("id", "fp")
    val union = batchA.unionByName(batchB)
    val merged = DedupOps.mergeBloomIndexes(
      DedupOps.buildFingerprintBloom(batchA, col("fp"), k = k, mBits = m),
      DedupOps.buildFingerprintBloom(batchB, col("fp"), k = k, mBits = m))
    val direct = DedupOps.buildFingerprintBloom(union, col("fp"), k = k, mBits = m)
    assert(merged.sketch.toSeq === direct.sketch.toSeq)
    assert(merged.nKeys >= direct.nKeys) // upper bound after overlap
    // geometry mismatch refuses loudly
    val err = intercept[IllegalArgumentException] {
      DedupOps.mergeBloomIndexes(merged,
        DedupOps.buildFingerprintBloom(batchB, col("fp"), k = k, mBits = m * 2))
    }
    assert(err.getMessage.contains("different geometry"))
  }

  test("bloom prune admits disjoint fresh keys without consulting the corpus join") {
    import graft.operators.DedupOps
    val corpus = (1L to 400L).map(i => (i, s"old_$i")).toDF("id", "fp")
    val fresh = (1L to 400L).map(i => (i, s"new_$i")).toDF("id", "fp")
    val idx = DedupOps.buildFingerprintBloom(corpus, col("fp"))
    // All fresh keys are novel; with an auto-sized filter nearly all must be
    // admitted on the bloom-negative fast path (fp rate ≈ 2^-k ≈ 3%).
    val fastPath = fresh.filter(
      !GraftFunctions.bloomContains(col("fp"), idx.sketch, idx.k)).count()
    assert(fastPath > 360, s"only $fastPath of 400 novel keys skipped the rescan join")
    assert(DedupOps.bloomPrunedNovel(fresh, "fp", corpus, idx).count() === 400)
  }
}
