package graft

import graft.operators.SimilarityOps
import org.apache.spark.sql.functions._

/** The native VecDot expression must agree exactly with the built-ins-only
  * HOF fold it replaces (same left-to-right accumulation order). */
class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("VecDot equals the HOF fold bit-for-bit, including interpreted path") {
    val df = Seq(
      (1L, Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (2L, Array(0.1, 0.2), Array(0.3, 0.4)),
      (3L, Array.fill(64)(0.123), Array.fill(64)(-0.456))
    ).toDF("id", "a", "b")
    val got = df.select(col("id"),
        SimilarityOps.dot(col("a"), col("b")).as("native"),
        SimilarityOps.dotFold(col("a"), col("b")).as("fold"))
      .collect()
    got.foreach { r =>
      assert(r.getDouble(1) === r.getDouble(2), s"row ${r.getLong(0)}")
    }
    assert(got.find(_.getLong(0) == 1L).get.getDouble(1) === 32.0)
  }

  test("VecDot propagates null arrays") {
    val df = Seq((1L, Some(Array(1.0, 2.0)), None: Option[Array[Double]]))
      .toDF("id", "a", "b")
    val r = df.select(SimilarityOps.dot(col("a"), col("b"))).collect().head
    assert(r.isNullAt(0))
  }

  test("StringPolyHash matches the reference fold and handles unicode + nulls") {
    import graft.functions.GraftFunctions.polyHash
    // reference value checked against python/duckdb: fold of 'abc A'
    val df = Seq((1L, "abc A"), (2L, ""), (3L, "héllo")).toDF("id", "s")
    val got = df.select(col("id"), polyHash(col("s")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === 92597251L)
    assert(got(2L) === 0L)
    // unicode: fold over code points, é = 233
    val expected3 = Seq('h'.toLong, 233L, 'l'.toLong, 'l'.toLong, 'o'.toLong)
      .foldLeft(0L)((h, c) => (h * 31 + c) % 1000000007L)
    assert(got(3L) === expected3)
    val withNull = Seq((1L, Option.empty[String])).toDF("id", "s")
      .select(polyHash(col("s"))).collect().head
    assert(withNull.isNullAt(0))
  }

  test("DoubleBits: bit-pattern projection separates -0.0 from +0.0, canonicalizes NaN") {
    import graft.functions.GraftFunctions.doubleBits
    val df = Seq(
      (1L, 0.0), (2L, -0.0), (3L, Double.NaN),
      (4L, java.lang.Double.longBitsToDouble(0x7ff0000000000001L)), // payload NaN
      (5L, 1.5), (6L, Double.PositiveInfinity))
      .toDF("id", "v")
    val bits = df.select(col("id"), doubleBits(col("v")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bits(1L) === 0L)                                // +0.0
    assert(bits(2L) === java.lang.Long.MIN_VALUE)          // -0.0: sign bit
    assert(bits(1L) !== bits(2L), "the invariance gate must see the zero-sign flip")
    assert(bits(3L) === 0x7ff8000000000000L)               // canonical NaN
    assert(bits(4L) === bits(3L), "all NaN payloads canonicalize (doubleToLongBits)")
    assert(bits(5L) === java.lang.Double.doubleToLongBits(1.5))
    assert(bits(6L) === java.lang.Double.doubleToLongBits(Double.PositiveInfinity))
    // null passes through (UnaryExpression null-safety)
    val n = Seq((Some(1.0), 1), (None, 2)).toDF("v", "id")
      .select(doubleBits(col("v"))).collect()
    assert(n.count(_.isNullAt(0)) === 1)
    // float → double cast preserves the sign of zero (the FloatType arm
    // of Verify's bitwise projection rides this)
    val f = Seq((1, -0.0f), (2, 0.0f)).toDF("id", "v")
      .select(doubleBits(col("v").cast("double"))).collect().map(_.getLong(0))
    assert(f(0) !== f(1))
  }

  test("Verify.bitwise: the invariance gate CATCHES a -0.0 flip and an array-element flip") {
    // Non-vacuous-gate check: two results equal under value semantics but
    // differing in zero sign must NOT multiset-compare equal after the
    // bitwise projection — this is exactly the partition-dependent flip
    // the round-12 advice found the old EXCEPT ALL path passing.
    val a = Seq((1L, 0.0, Seq(1.0f, 0.0f))).toDF("id", "v", "arr")
    val b = Seq((1L, -0.0, Seq(1.0f, 0.0f))).toDF("id", "v", "arr")
    assert(a.exceptAll(b).count() === 0L, "value semantics: -0.0 == 0.0 (the hole)")
    val (ba, bb) = (Verify.bitwise(a), Verify.bitwise(b))
    assert(ba.exceptAll(bb).count() + bb.exceptAll(ba).count() > 0L,
      "bitwise projection must distinguish the zero signs")
    // Array-element flip (float) is caught through the transform arm.
    val c = Seq((1L, 0.0, Seq(1.0f, -0.0f))).toDF("id", "v", "arr")
    val bc = Verify.bitwise(c)
    assert(ba.exceptAll(bc).count() + bc.exceptAll(ba).count() > 0L)
    // Identical frames stay identical (incl. NaN, which canonicalizes).
    val n1 = Seq((1L, Double.NaN)).toDF("id", "v")
    val n2 = Seq((1L, Double.NaN)).toDF("id", "v")
    val (bn1, bn2) = (Verify.bitwise(n1), Verify.bitwise(n2))
    assert(bn1.exceptAll(bn2).count() + bn2.exceptAll(bn1).count() === 0L)
    // Nested types refuse loudly instead of weakening the compare.
    val st = Seq((1L, (1.0, 2.0))).toDF("id", "s")
    intercept[IllegalArgumentException](Verify.bitwise(st))
    // Array-of-array (r13 advice): previously passed through UNPROJECTED,
    // letting set-op float normalization eat a nested -0.0 flip silently.
    val aa = Seq((1L, Seq(Seq(1.0, -0.0)))).toDF("id", "m")
    intercept[IllegalArgumentException](Verify.bitwise(aa))
    // FLOAT-FREE nesting passes through (r14 advice): there is no zero-sign
    // or NaN-bit to normalize in array<array<string>>, plain equality is
    // already bit-exact — matching the oracle side's nested-FLOAT-only
    // refusal instead of over-refusing a legit non-float output.
    val as = Seq((1L, Seq(Seq("x", "y")))).toDF("id", "m")
    assert(Verify.bitwise(as).exceptAll(Verify.bitwise(as)).count() === 0L)
  }

  test("knnJoin: bucketed candidates are a rank-consistent subset of cell-only") {
    val rng = new scala.util.Random(7)
    val emb = (0L until 40L).map { i =>
      (i, Array.fill(64)(rng.nextGaussian().toFloat), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val queries = emb.filter(col("vec_id") < 4)
    val planes = SimilarityOps.lshPlanes(2, 64)

    val cellOnly = SimilarityOps.knnJoin(emb, queries, "label", 3,
        SimilarityOps.lshTables(1, 0, 64))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val bucketed = SimilarityOps.knnJoin(emb, queries, "label", 3, Seq(planes))
      .collect()

    // Every bucketed neighbor shares the query's cell AND sign-LSH bucket…
    val buckets = emb
      .select(col("vec_id"), col("label"),
        SimilarityOps.signLshBucket(col("embedding").cast("array<double>"), planes).as("b"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    bucketed.foreach { r =>
      assert(buckets(r.getLong(0)) === buckets(r.getLong(1)),
        s"pair (${r.getLong(0)}, ${r.getLong(1)}) crosses cell/bucket")
    }
    // …cosines agree with the cell-only scorer where pairs overlap…
    bucketed.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      cellOnly.get(key).foreach(c => assert(c === r.getDouble(2)))
    }
    // …and ranks are dense per query starting at 1.
    bucketed.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(3)).sorted.toSeq === (1L to rows.length).toSeq)
    }
    assert(bucketed.nonEmpty)
  }

  test("X3: JL random projection preserves pairwise squared distances in expectation") {
    // Deterministic fixture (fixed seeds on both the vectors and the planes),
    // so the measured distortion is a constant — assert the JL bound rather
    // than a flaky statistical test. 32 → 8 dims keeps E[ratio] = 1.
    val rng = new scala.util.Random(7)
    val vecs = (0 until 20).map(i => (i.toLong, Array.fill(32)(rng.nextGaussian())))
    val proj = SimilarityOps.randomProject(
        vecs.toDF("vec_id", "embedding"), "vec_id", "embedding", projDim = 8, dim = 32)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getDouble).toArray).toMap
    val ratios = for {
      i <- 0 until 20; j <- (i + 1) until 20
    } yield {
      val d0 = vecs(i)._2.zip(vecs(j)._2).map { case (x, y) => (x - y) * (x - y) }.sum
      val d1 = proj(i.toLong).zip(proj(j.toLong)).map { case (x, y) => (x - y) * (x - y) }.sum
      d1 / d0
    }
    val mean = ratios.sum / ratios.size
    assert(mean > 0.75 && mean < 1.25, s"mean distortion $mean outside JL expectation band")
    // scaling: each output dim is dot/√8 — spot-check p0 against VecDot
    val v0 = vecs(0)._2
    val plane0 = SimilarityOps.lshPlanes(8, 32).head
    val expected = v0.zip(plane0).map { case (x, p) => x * p }.sum / math.sqrt(8.0)
    assert(math.abs(proj(0L)(0) - expected) < 1e-9)
  }

  test("X2: idf-weighted shingle cosine — hand-computed weights, df cap kills hot shingles") {
    import graft.operators.DedupOps
    val rows = Seq(
      (1L, "s", "a"), (1L, "s", "b"),
      (2L, "s", "a"), (2L, "s", "c"),
      (3L, "s", "d")
    ).toDF("doc_id", "bucket", "sh")
    val got = DedupOps.tfidfCosinePairs(rows, maxDf = 50, minCosine = 0.01)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    // n_docs=3; df(a)=2, df(b)=df(c)=1 -> idf(a)=ln1.5, idf(b)=idf(c)=ln3.
    // Only (1,2) shares a shingle: cos = ln1.5² / (ln1.5² + ln3²).
    val l15sq = math.pow(math.log(1.5), 2); val l3sq = math.pow(math.log(3.0), 2)
    assert(got.keySet === Set((1L, 2L)))
    val (nCommon, cos) = got((1L, 2L))
    assert(nCommon === 1L)
    assert(math.abs(cos - l15sq / (l15sq + l3sq)) < 1e-6)
    // df cap at 1 removes the only shared shingle -> no pairs at all
    assert(DedupOps.tfidfCosinePairs(rows, maxDf = 1, minCosine = 0.0).count() === 0)
  }

  test("centroid distance: hand-computed per-cell L2, zero for a singleton cell") {
    val emb = Seq(
      (0L, Array(0.0f, 0.0f), 1),
      (1L, Array(2.0f, 0.0f), 1),
      (2L, Array(5.0f, 5.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val d = SimilarityOps.centroidDistances(emb, "vec_id", col("embedding"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // cell 1 centroid = (1,0): both members at distance 1; singleton cell 2
    // sits AT its centroid — exactly 0.0, not NaN from a −1e-16 under sqrt
    assert(d === Map(0L -> 1.0, 1L -> 1.0, 2L -> 0.0))
  }

  test("PQ: codes pick the nearest centroid per subspace; ADC is exact on codebook points") {
    // dim 4, m 2, k 2 — hand-checkable codebooks
    val books = Seq(
      Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)), // subspace 0
      Seq(Seq(0.0, 5.0), Seq(5.0, 0.0)))   // subspace 1
    val emb = Seq(
      (0L, Array(1.0f, 1.0f, 0.0f, 4.0f)),  // near (0,0) and (0,5)  → codes (0, 0)
      (1L, Array(9.0f, 9.0f, 6.0f, 1.0f)),  // near (10,10) and (5,0) → codes (1, 1)
      (2L, Array(10.0f, 10.0f, 0.0f, 5.0f)) // exactly centroids (1, 0)
    ).toDF("vec_id", "embedding")
    val codes = SimilarityOps.pqEncode(emb, "vec_id", col("embedding"), books)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(codes === Map(0L -> ((0L, 0L)), 1L -> ((1L, 1L)), 2L -> ((1L, 0L))))

    // ADC against query = vec 2's own value: distance to vec 2 via its codes
    // must be EXACTLY 0 (it sits on its codebook points), and positive for
    // the others — the estimate degrades gracefully, never below zero.
    val tables = SimilarityOps.pqAdcTables(Seq(10.0, 10.0, 0.0, 5.0), books)
    val adc = SimilarityOps.pqEncode(emb, "vec_id", col("embedding"), books)
      .withColumn("est", SimilarityOps.pqAdcDistance(tables, j => col(s"code_$j")))
      .select(col("vec_id"), col("est")).as[(Long, Double)].collect().toMap
    assert(adc(2L) === 0.0)
    // vec 0's codes (0,0) → d²((10,10),(0,0)) + d²((0,5),(0,5)) = 200 + 0
    assert(adc(0L) === 200.0)
    // vec 1's codes (1,1) → d²((10,10),(10,10)) + d²((0,5),(5,0)) = 0 + 50
    assert(adc(1L) === 50.0)
  }

  test("VecDot works through a full query (cosine top-k plan)") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 1),
      (1L, Array(1.0f, 0.0f, 0.0f), 1),
      (2L, Array(0.0f, 1.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val top = SimilarityOps.cosineTopK(emb, emb.filter(col("vec_id") === 0), 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.head === ((1L, 1.0)))
    assert(top.last === ((2L, 0.0)))
  }

  test("SQ8: an exact copy of the query ranks first with distance within the quantization bound") {
    val q = Seq(0.1, 0.9, -0.5, 0.3)
    val emb = Seq(
      (1L, Seq(0.1, 0.9, -0.5, 0.3)),   // exact copy
      (2L, Seq(0.9, -0.8, 0.7, -0.9)),  // far
      (3L, Seq(0.0, 0.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val r = SimilarityOps.sq8TopK(emb, "vec_id", col("embedding"), q, 3)
      .as[(Long, Double)].collect()
    assert(r.map(_._1).toSeq === Seq(1L, 3L, 2L)) // true distance order survives
    // Per-dim reconstruction error ≤ range/(2·255); ranges ≤ 1.8 here, so
    // the copy's reconstructed distance is bounded by 4·(1.8/510)² < 5e-5.
    assert(r.head._2 < 5e-5)
  }

  test("SQ8: a constant dimension quantizes with zero error (degenerate-range guard)") {
    val q = Seq(1.0, 0.0)
    val emb = Seq((1L, Seq(7.5, 1.0)), (2L, Seq(7.5, -1.0))).toDF("vec_id", "embedding")
    val r = SimilarityOps.sq8TopK(emb, "vec_id", col("embedding"), q, 2)
      .as[(Long, Double)].collect().toMap
    // dim0 is constant 7.5 -> reconstructs exactly; dim1 range [-1,1] with
    // endpoints -> codes 255/0 reconstruct exactly. Distances are exact.
    assert(math.abs(r(1L) - (6.5 * 6.5 + 1.0)) < 1e-9)
    assert(math.abs(r(2L) - (6.5 * 6.5 + 1.0)) < 1e-9)
  }
}
