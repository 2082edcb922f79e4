package graft

import graft.operators.{DedupOps, SimilarityOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** OR-ed multi-table LSH: the recall knob. A pair missed by one table's
  * buckets survives if ANY other table catches it, so the multi-table
  * candidate/result sets must be supersets of table 0's — and recall
  * against the exact (bucket-free) answer must be monotone in the table
  * count, while the candidate volume stays ≤ T × single-table. */
class MultiTableLshSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(11)
  private lazy val emb = (0L until 60L).map { i =>
    (i, Array.fill(64)(rng.nextGaussian().toFloat), (i % 2).toInt)
  }.toDF("vec_id", "embedding", "label").cache()

  private val t1 = SimilarityOps.lshTables(1, 2, 64) // table 0 = lshPlanes(2, 64)
  private val t2 = SimilarityOps.lshTables(2, 2, 64)
  private val t4 = SimilarityOps.lshTables(4, 2, 64)

  test("lshTables: table 0 is the single-table plane set, tables are distinct") {
    assert(t2.head === SimilarityOps.lshPlanes(2, 64))
    assert(t2(0) !== t2(1))
    assert(t4.take(2) === t2)
  }

  /** Reference rows for one plane set: (<prefix>id, cell, <prefix>v,
    * <prefix>nrm, bucket), one row per vector, written without
    * lshCandidateRows so the one-table joins are checked against an
    * independent definition. */
  private def bucketed(df: DataFrame, planes: Seq[Seq[Double]], prefix: String): DataFrame =
    df.select(col("vec_id").as(s"${prefix}id"), col("label").as("cell"),
        col("embedding").cast("array<double>").as(s"${prefix}v"))
      .withColumn(s"${prefix}nrm", SimilarityOps.l2norm(col(s"${prefix}v")))
      .withColumn("bucket", SimilarityOps.signLshBucket(col(s"${prefix}v"), planes))

  /** Reference near-dup pairs: `keys` self-join, a < b, exact cosine. */
  private def refNearDups(planes: Seq[Seq[Double]], keys: Seq[String],
      threshold: Double): Set[(Long, Long)] =
    bucketed(emb, planes, "a_").join(bucketed(emb, planes, "b_"), keys)
      .filter(col("a_id") < col("b_id"))
      .filter(SimilarityOps.pairCosine(col("a_v"), col("a_nrm"), col("b_v"), col("b_nrm"))
        >= threshold)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet

  /** Reference k-NN: `keys` join, self-pairs out, row_number per query
    * over (cosine desc, n_id). (q_id, rank) -> cosine. */
  private def refKnn(queries: DataFrame, k: Int, planes: Seq[Seq[Double]],
      keys: Seq[String]): Map[(Long, Long), Double] = {
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cosine"), col("n_id"))
    bucketed(queries, planes, "q_").join(bucketed(emb, planes, "n_"), keys)
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cosine",
        SimilarityOps.pairCosine(col("n_v"), col("n_nrm"), col("q_v"), col("q_nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .collect().map(r =>
        (r.getAs[Long]("q_id"), r.getAs[Int]("rank").toLong) -> r.getAs[Double]("cosine"))
      .toMap
  }

  private def knn(queries: DataFrame, k: Int,
      tables: Seq[Seq[Seq[Double]]]): Map[(Long, Long), Double] =
    SimilarityOps.knnJoin(emb, queries, "label", k, tables)
      .collect().map(r => (r.getLong(0), r.getLong(3)) -> r.getDouble(2)).toMap

  test("embeddingNearDups: one table is the reference join, more tables add recall") {
    def pairs(tables: Seq[Seq[Seq[Double]]]): Set[(Long, Long)] =
      DedupOps.embeddingNearDups(emb, "vec_id", col("embedding"), col("label"),
        0.1, tables).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p1 = pairs(t1)
    val p2 = pairs(t2)
    val p4 = pairs(t4)
    assert(p1 === refNearDups(t1.head, Seq("cell", "bucket"), 0.1))
    assert(p1.subsetOf(p2) && p2.subsetOf(p4))
    // exact = every same-cell pair over the threshold: the zero-plane table
    val exact = pairs(SimilarityOps.lshTables(1, 0, 64))
    assert(exact === refNearDups(Nil, Seq("cell"), 0.1))
    assert(p4.subsetOf(exact))
    // the whole point: more tables recover strictly more of the exact set
    // on this corpus (2 planes split aggressively; statistically guaranteed
    // at these sizes for the fixed seed)
    assert(p2.size > p1.size, s"expected recall lift, got ${p1.size} -> ${p2.size}")
    assert(exact.nonEmpty && p4.size >= p2.size)
  }

  test("bucketPairMassGuard: priced refusal above budget, no-op below, disabled at <= 0") {
    // 60 vecs over (2 labels × 4 buckets): Σ C(n,2) is a few hundred —
    // a 10-pair budget must refuse, pricing the mass in the message.
    val tiny = intercept[Exception] {
      DedupOps.embeddingNearDups(emb, "vec_id", col("embedding"), col("label"),
        0.1, t1, bucketMassBudget = 10L).count()
    }
    def msg(e: Throwable): String =
      (Option(e.getMessage) ++ Option(e.getCause).flatMap(c => Option(c.getMessage)))
        .mkString(" ")
    assert(msg(tiny).contains("bucket pair mass"), s"unpriced refusal: ${msg(tiny)}")
    assert(msg(tiny).contains("bucketMassBudget = 10"))
    val tinyT = intercept[Exception] {
      DedupOps.embeddingNearDups(emb, "vec_id", col("embedding"), col("label"),
        0.1, t2, bucketMassBudget = 10L).count()
    }
    assert(msg(tinyT).contains("bucket pair mass"))
    // Below budget (default) and disabled (0) produce the identical pair set:
    // the guard moves no rows, it only prices the plan.
    def pairs(budget: Long): Set[(Long, Long)] =
      DedupOps.embeddingNearDups(emb, "vec_id", col("embedding"), col("label"),
        0.1, t2, bucketMassBudget = budget)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(DedupOps.DefaultPairMassBudget) === pairs(0L))
  }

  test("candidate volume stays <= T x single-table and deduped") {
    // threshold -1: every candidate passes cosine >= -1, so the counts are
    // the production generators' candidate volumes.
    val c1 = DedupOps.embeddingNearDups(emb, "vec_id", col("embedding"), col("label"),
      threshold = -1.0, tables = t1).count()
    val c2df = DedupOps.embeddingNearDups(emb, "vec_id", col("embedding"), col("label"),
      threshold = -1.0, tables = t2)
    val c2 = c2df.count()
    assert(c2 <= 2 * c1)
    assert(c2 === c2df.select("a_id", "b_id").distinct().count(),
      "candidates must be distinct pairs")
  }

  test("knnJoin: one table and zero planes match references, more tables dominate") {
    val queries = emb.filter(col("vec_id") < 4)
    val k1 = knn(queries, 3, t1)
    val k2 = knn(queries, 3, t2)
    assert(k1 === refKnn(queries, 3, t1.head, Seq("cell", "bucket")))
    // q112's truth: the zero-plane table is the brute-force same-cell top-k
    assert(knn(queries, 3, SimilarityOps.lshTables(1, 0, 64)) ===
      refKnn(queries, 3, Nil, Seq("cell")))
    // OR-ing a second table can only add candidates, so the cosine at each
    // (query, rank) position is >= the single-table one
    k1.foreach { case (qr, c1) =>
      assert(k2.getOrElse(qr, Double.MinValue) >= c1, s"rank regressed at $qr")
    }
    // no pair is ranked twice
    val ranked = SimilarityOps.knnJoin(emb, queries, "label", 3, t2)
      .groupBy("q_id", "n_id").count().filter(col("count") > 1).count()
    assert(ranked === 0L)
  }

  test("signLshBucket: no planes is bucket 0, 63 planes fit, 64 are refused by count") {
    val v = col("embedding").cast("array<double>")
    assert(emb.select(SimilarityOps.signLshBucket(v, Nil)).as[Long].collect().toSet === Set(0L))
    // 63 planes: every bit is used and no bucket is negative
    val b63 = emb.select(SimilarityOps.signLshBucket(v, SimilarityOps.lshPlanes(63, 64)))
      .as[Long].collect()
    assert(b63.forall(_ >= 0L))
    assert(b63.exists(b => (b >> 62) == 1L), "bit 62 must be reachable")
    // 64 planes would alias plane 64 onto bit 0 (1L << 64 == 1L): refused
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.signLshBucket(v, SimilarityOps.lshPlanes(64, 64))
    }
    assert(e.getMessage.contains("64 planes"), e.getMessage)
    // the multi-probe ring flips the same bits, so it refuses the same count
    intercept[IllegalArgumentException] {
      SimilarityOps.cosineTopKLshMultiProbe(emb, emb.filter(col("vec_id") === 0), 3,
        numPlanes = 64, dim = 64)
    }
  }

  test("multi-probe: superset of single-probe, subset of exact, no double-ranks") {
    val q = emb.filter(col("vec_id") === 0)
    val single = SimilarityOps.cosineTopKLsh(emb, q, 60, numPlanes = 6, dim = 64)
      .collect().map(_.getLong(0)).toSet
    val multiDf = SimilarityOps.cosineTopKLshMultiProbe(emb, q, 60, numPlanes = 6, dim = 64)
    val multi = multiDf.collect().map(_.getLong(0)).toSeq
    assert(multi.distinct === multi, "probe buckets are distinct, no row ranks twice")
    assert(single.subsetOf(multi.toSet))
    assert(multi.size > single.size, s"expected recall lift, got ${single.size} -> ${multi.size}")
    val exact = SimilarityOps.cosineTopK(emb, q, 60).collect().map(_.getLong(0)).toSet
    assert(multi.toSet.subsetOf(exact))
  }

  test("lshAutoTune: one row per config, nested-table cost monotonicity, cheapest-meeting chosen") {
    val queries = emb.filter(col("vec_id") < 5)
    val configs = Seq((1, 2), (2, 2), (4, 2), (2, 4))
    val rows = SimilarityOps.lshAutoTune(emb, queries, "label", 5, configs, 64,
        recallTarget = 0.0)
      .collect().map(r => (r.getAs[Int]("n_tables"), r.getAs[Int]("n_planes")) -> r).toMap
    assert(rows.keySet === configs.toSet)
    rows.values.foreach { r =>
      val rec = r.getAs[Double]("mean_recall")
      assert(rec >= 0.0 && rec <= 1.0)
      assert(r.getAs[Boolean]("meets_target")) // target 0: every config meets
    }
    // lshTables(T, p) is a PREFIX-nested family (table t = seed + t), so at
    // fixed p both the candidate pool and — with ranking by exact cosine
    // against an exact-truth list — the recall are monotone in T.
    val cand = (t: Int) => rows((t, 2)).getAs[Long]("candidate_pairs")
    assert(cand(1) <= cand(2) && cand(2) <= cand(4))
    val rec = (t: Int) => rows((t, 2)).getAs[Double]("mean_recall")
    assert(rec(1) <= rec(2) && rec(2) <= rec(4))
    // chosen = the unique cheapest meeting config.
    val chosen = rows.values.filter(_.getAs[Boolean]("chosen")).toSeq
    assert(chosen.size === 1)
    assert(chosen.head.getAs[Long]("candidate_pairs") ===
      rows.values.map(_.getAs[Long]("candidate_pairs")).min)
  }

  test("lshAutoTune: an unreachable target chooses nothing") {
    val queries = emb.filter(col("vec_id") < 5)
    val rows = SimilarityOps.lshAutoTune(emb, queries, "label", 5,
      Seq((1, 2), (2, 2)), 64, recallTarget = 1.1).collect()
    assert(rows.length === 2)
    assert(rows.forall(r => !r.getAs[Boolean]("meets_target")))
    assert(rows.forall(r => !r.getAs[Boolean]("chosen")))
  }

  test("tunedLshConfig: returns the sweep's chosen config; refuses when no config " +
    "meets the target") {
    val queries = emb.filter(col("vec_id") < 5)
    val configs = Seq((1, 2), (2, 2), (4, 2), (2, 4))
    val (t, p) = SimilarityOps.tunedLshConfig(emb, queries, "label", 5, configs,
      64, recallTarget = 0.0)
    // target 0: every config meets, so the chosen one is the cheapest
    // candidate pool — which the sweep itself reports as chosen.
    val chosen = SimilarityOps.lshAutoTune(emb, queries, "label", 5, configs,
        64, recallTarget = 0.0)
      .filter(col("chosen")).collect()
    assert(chosen.length === 1)
    assert((t, p) === (chosen.head.getAs[Int]("n_tables"),
      chosen.head.getAs[Int]("n_planes")))
    assert(configs.contains((t, p)))
    // Below-target silently shipping is the one forbidden outcome: an
    // unreachable target refuses loudly instead of returning anything.
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.tunedLshConfig(emb, queries, "label", 5, configs, 64,
        recallTarget = 1.1)
    }
    assert(e.getMessage.contains("below-target"))
  }

  test("cosineTopKLsh: numTables widens the reachable candidate set") {
    val q = emb.filter(col("vec_id") === 0)
    def ids(nt: Int): Set[Long] =
      SimilarityOps.cosineTopKLsh(emb, q, 50, numPlanes = 4, dim = 64, numTables = nt)
        .collect().map(_.getLong(0)).toSet
    val one = ids(1)
    val three = ids(3)
    assert(one.subsetOf(three))
    assert(three.size > one.size, s"expected candidate lift, got ${one.size} -> ${three.size}")
  }

  test("AnnIndex: train once, persist, reload, serve — identical results; malformed artifacts refuse") {
    import graft.operators.SimilarityOps.{AnnIndex, readAnnIndex, serveAnn, writeAnnIndex}
    val (_, cents) = SimilarityOps.kmeans(emb, "vec_id", "embedding", k = 4, iters = 2)
    val idx = AnnIndex(dim = 64, tables = 2, planesPerTable = 2, seed = 42L,
      centroids = cents)
    val queries = emb.filter(col("vec_id") < 5)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id", "rank").as[(Long, Long, Long)]
        .collect().sortBy(identity).toSeq
    val before = canon(serveAnn(emb, queries, "vec_id", col("embedding"), idx, k = 3))
    assert(before.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("annidx").toString
    writeAnnIndex(spark, s"$dir/idx", idx)
    val back = readAnnIndex(spark, s"$dir/idx")
    assert(back === idx.copy(centroids = back.centroids))
    assert(back.centroids === idx.centroids) // bit-identical doubles
    assert(canon(serveAnn(emb, queries, "vec_id", col("embedding"), back, k = 3)) === before)
    // malformed: gapped centroid ids refuse loudly
    spark.range(2).selectExpr("CAST(id * 2 AS INT) AS cid",
      "array(CAST(0.0 AS DOUBLE)) AS vec")
      .write.mode("overwrite").parquet(s"$dir/bad/centroids")
    spark.createDataFrame(Seq((1, 2, 2, 42L)))
      .toDF("dim", "tables", "planes_per_table", "seed")
      .write.mode("overwrite").parquet(s"$dir/bad/meta")
    val e = intercept[IllegalArgumentException](readAnnIndex(spark, s"$dir/bad"))
    assert(e.getMessage.contains("no gaps"))
  }

  test("cellDistortion: hand case — exact per-cell mean squared distance") {
    val cents = Seq(Seq(0.0, 0.0), Seq(10.0, 0.0))
    // (1,0) -> cell 0 at d2=1; (0,2) -> cell 0 at d2=4; (11,0) -> cell 1 at d2=1
    val df = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 2.0f)),
      (3L, Array(11.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = SimilarityOps.cellDistortion(df, col("embedding"), cents)
      .orderBy("cell").as[(Int, Long, Double)].collect().toSeq
    assert(out === Seq((0, 2L, 2.5), (1, 1L, 1.0)))
  }

  test("annIndexDrift: identical snapshots stable, inflated fresh batch drifts, " +
      "one-sided cells kept with zero counts and no flag") {
    val idx = {
      val (_, cents) = SimilarityOps.kmeans(emb, "vec_id", "embedding", k = 4, iters = 2)
      SimilarityOps.AnnIndex(64, 2, 2, 42L, cents)
    }
    val same = SimilarityOps.annIndexDrift(emb, emb, col("embedding"),
      idx, threshold = 1.5).collect()
    assert(same.nonEmpty)
    same.foreach { r =>
      assert(r.getAs[Long]("drifted") === 0L)
      assert(r.getAs[Double]("drift_ratio") === 1.0) // md_cur == md_ref bit-for-bit
      assert(r.getAs[Long]("n_ref") === r.getAs[Long]("n_cur"))
    }
    // inflate every fresh vector well past the threshold: every populated
    // cell must flag (scaling by 3 grows d2 at least 9x toward its own
    // centroid's cell; whatever cell the scaled vector lands in, its
    // distortion far exceeds 1.5x the training profile here)
    val blown = emb.select(col("vec_id"),
      transform(col("embedding").cast("array<double>"), x => x * lit(3.0)).as("embedding"))
    val drift = SimilarityOps.annIndexDrift(emb, blown, col("embedding"),
      idx, threshold = 1.5).collect()
    assert(drift.filter(_.getAs[Long]("n_cur") > 0).forall(_.getAs[Long]("drifted") === 1L))
    assert(drift.exists(_.getAs[Long]("drifted") === 1L))
    // one-sided: a fresh batch confined to a single vector leaves the other
    // cells ref-only — present, zero n_cur, NULL md_cur, not flagged
    val one = SimilarityOps.annIndexDrift(emb, emb.filter(col("vec_id") === 0L),
      col("embedding"), idx, threshold = 1.5).collect()
    assert(one.length === same.length) // every ref cell still present
    val refOnly = one.filter(_.getAs[Long]("n_cur") === 0L)
    assert(refOnly.nonEmpty)
    refOnly.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("md_cur")))
      assert(r.getAs[Long]("drifted") === 0L)
    }
    intercept[IllegalArgumentException] {
      SimilarityOps.annIndexDrift(emb, emb, col("embedding"),
        idx.centroids, threshold = 0.0)
    }
  }

  test("trainTunedAnnIndex: geometry IS the tuner's choice under the trained cells; " +
      "persist/reload/serve parity under a TUNED (not literal) config; " +
      "drift gate retrains only on drift") {
    import graft.operators.SimilarityOps._
    val queries = emb.filter(col("vec_id") < 5)
    val configs = Seq((1, 2), (2, 2), (4, 2))
    val idx = trainTunedAnnIndex(emb, "vec_id", col("embedding"), dim = 64,
      kCells = 4, lloydIters = 2, queries = queries, k = 5, configs = configs,
      recallTarget = 0.0)
    assert(configs.contains((idx.tables, idx.planesPerTable)))
    // The geometry must be EXACTLY what tunedLshConfig chooses under the
    // same trained cells — recomputed by hand via kmeans' own assignment.
    val (assign, cents) = kmeans(emb, "vec_id", "embedding", k = 4, iters = 2)
    assert(idx.centroids === cents)
    def withCell(df: org.apache.spark.sql.DataFrame) =
      df.join(assign.select(col("vec_id"), col("cluster").as("cell")), "vec_id")
        .select(col("vec_id"), col("embedding"), col("cell"))
    val (t, p) = tunedLshConfig(withCell(emb), withCell(queries), "cell",
      k = 5, configs, dim = 64, recallTarget = 0.0)
    assert((idx.tables, idx.planesPerTable) === ((t, p)))
    // Persist → reload → serve parity, with the sweep priced ONLY at train
    // time: the serving side touches just the artifact.
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id", "rank").as[(Long, Long, Long)]
        .collect().sortBy(identity).toSeq
    val dir = java.nio.file.Files.createTempDirectory("tunedidx").toString
    writeAnnIndex(spark, s"$dir/idx", idx)
    val back = readAnnIndex(spark, s"$dir/idx")
    assert(back === idx.copy(centroids = back.centroids))
    assert(back.centroids === idx.centroids)
    val served = canon(serveAnn(emb, queries, "vec_id", col("embedding"), back, k = 3))
    assert(served.nonEmpty)
    assert(served === canon(serveAnn(emb, queries, "vec_id", col("embedding"), idx, k = 3)))
    // Drift gate: a stable batch must NOT call the retrain thunk...
    var calls = 0
    val (sameIdx, retrained1) = retrainAnnIndexOnDrift(spark, s"$dir/idx",
      emb, emb, col("embedding"), threshold = 1.5,
      () => { calls += 1; idx })
    assert(!retrained1 && calls === 0)
    assert(sameIdx === idx.copy(centroids = sameIdx.centroids))
    // ...while a drifted batch re-triggers training and REPLACES the
    // artifact on disk (distinct geometry proves the new one was written).
    val blown = emb.select(col("vec_id"),
      transform(col("embedding").cast("array<double>"), x => x * lit(3.0)).as("embedding"))
    val fresh = idx.copy(tables = idx.tables + 1)
    val (newIdx, retrained2) = retrainAnnIndexOnDrift(spark, s"$dir/idx",
      emb, blown, col("embedding"), threshold = 1.5,
      () => { calls += 1; fresh })
    assert(retrained2 && calls === 1)
    assert(newIdx.tables === fresh.tables)
    assert(readAnnIndex(spark, s"$dir/idx").tables === fresh.tables)
  }

  test("clusterSkeleton: hand case — mass, mean, representative with id tie-break") {
    val cents = Seq(Seq(0.0, 0.0), Seq(10.0, 0.0))
    // cell 0: (1,0)@d2=1, (0,2)@d2=4, (-1,0)@d2=1 (ties id1 at d2=1 -> rep id1)
    // cell 1: (11,0)@d2=1
    val df = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 2.0f)),
      (3L, Array(11.0f, 0.0f)), (4L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.clusterSkeleton(df, "vec_id", col("embedding"), cents)
      .orderBy("cell").as[(Int, Long, Double, Long, Double)].collect().toSeq
    assert(out === Seq((0, 3L, 2.0, 1L, 1.0), (1, 1L, 1.0, 3L, 1.0)))
  }

  test("clusterBalancedSelect: quota bound, policy order, tie-break, skeleton consistency") {
    val cents = Seq(Seq(0.0, 0.0), Seq(10.0, 0.0))
    val df = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 2.0f)),
      (3L, Array(11.0f, 0.0f)), (4L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val proto = SimilarityOps
      .clusterBalancedSelect(df, "vec_id", col("embedding"), cents, quota = 2)
      .orderBy("cell", "rank").as[(Int, Long, Long, Double)].collect().toSeq
    // cell 0 protos: d2=1 ties -> id 1 then id 4; (0,2)@4 cut by quota
    assert(proto === Seq((0, 1L, 1L, 1.0), (0, 2L, 4L, 1.0), (1, 1L, 3L, 1.0)))
    val hard = SimilarityOps
      .clusterBalancedSelect(df, "vec_id", col("embedding"), cents, quota = 2,
        keepFarthest = true)
      .orderBy("cell", "rank").as[(Int, Long, Long, Double)].collect().toSeq
    // cell 0 hard: (0,2)@4 first, then the d2=1 tie resolves to id 1
    assert(hard === Seq((0, 1L, 2L, 4.0), (0, 2L, 1L, 1.0), (1, 1L, 3L, 1.0)))
    // quota >= cell size keeps everything, ranks dense per cell
    val all = SimilarityOps
      .clusterBalancedSelect(df, "vec_id", col("embedding"), cents, quota = 10)
      .collect()
    assert(all.length === 4)
    // a cell's rank-1 prototype IS the skeleton's representative
    val (_, cs) = SimilarityOps.kmeans(
      emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      "vec_id", "v", k = 4, iters = 2)
    val reps = SimilarityOps.clusterSkeleton(emb, "vec_id", col("embedding"), cs)
      .select("cell", "rep_id").as[(Int, Long)].collect().toMap
    val r1 = SimilarityOps
      .clusterBalancedSelect(emb, "vec_id", col("embedding"), cs, quota = 1)
      .select("cell", "id").as[(Int, Long)].collect().toMap
    assert(r1 === reps)
    intercept[IllegalArgumentException] {
      SimilarityOps.clusterBalancedSelect(df, "vec_id", col("embedding"), cents,
        quota = 0)
    }
  }

  test("clusterBalancedSelectBoth: both policies from ONE scan — per-policy " +
      "results identical to the single-policy calls") {
    val cents = Seq(Seq(0.0, 0.0), Seq(10.0, 0.0))
    val df = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 2.0f)),
      (3L, Array(11.0f, 0.0f)), (4L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val both = SimilarityOps
      .clusterBalancedSelectBoth(df, "vec_id", col("embedding"), cents, quota = 2)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("cell", "rank", "id", "d2").orderBy("cell", "rank")
        .as[(Int, Long, Long, Double)].collect().toSeq
    assert(rows(both.filter(col("policy") === "proto")) === rows(SimilarityOps
      .clusterBalancedSelect(df, "vec_id", col("embedding"), cents, quota = 2)))
    assert(rows(both.filter(col("policy") === "hard")) === rows(SimilarityOps
      .clusterBalancedSelect(df, "vec_id", col("embedding"), cents, quota = 2,
        keepFarthest = true)))
    // the point of the combined form: ONE scan feeds both policies (two
    // chained windows after a single exchange, then the explode) — a
    // union of single-policy calls would scan the input twice
    val plan = both.queryExecution.executedPlan.toString
    val scans = "LocalTableScan".r.findAllIn(plan).length
    assert(scans === 1, s"expected exactly one scan of the input, got $scans:\n$plan")
    assert(plan.contains("Generate"), s"expected the explode form:\n$plan")
  }
}
