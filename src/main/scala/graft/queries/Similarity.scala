package graft.queries

import graft.engine.Tables
import graft.operators.SimilarityOps
import org.apache.spark.sql.functions._

/** Similarity-search queries over `embeddings` (X3). */
object Similarity extends QueryGroup {

  /** Brute-force exact cosine top-10 for one query vector: broadcast query,
    * linear corpus scan, TakeOrderedAndProject — the exact baseline every
    * ANN variant is judged against. */
  private val q25 = QueryDef(
    "q25_cosine_topk_brute",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityOps.cosineTopK(emb, emb.filter(col("vec_id") === 0), 10)
    },
    Some(s"""WITH q AS (SELECT embedding::DOUBLE[] AS q_emb FROM embeddings WHERE vec_id = 0)
           |SELECT e.vec_id,
           |  ${OracleSql.cosineSql("e.embedding::DOUBLE[]", "q.q_emb")} + 0.0 AS cosine
           |FROM embeddings e CROSS JOIN q
           |WHERE e.vec_id <> 0
           |ORDER BY cosine DESC, e.vec_id LIMIT 10""".stripMargin))

  /** IVF-style probe: scan only the query's coarse cell (`label` plays the
    * quantizer assignment; at scale the cell is a partition key → pruned
    * scan instead of full corpus). */
  private val q26 = QueryDef(
    "q26_cosine_ivf_probe",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityOps.cosineTopKIvf(emb, emb.filter(col("vec_id") === 0), "label", 10)
    },
    Some(s"""WITH q AS (SELECT embedding::DOUBLE[] AS q_emb, label AS q_label FROM embeddings WHERE vec_id = 0)
           |SELECT e.vec_id,
           |  ${OracleSql.cosineSql("e.embedding::DOUBLE[]", "q.q_emb")} + 0.0 AS cosine
           |FROM embeddings e JOIN q ON e.label = q.q_label
           |WHERE e.vec_id <> 0
           |ORDER BY cosine DESC, e.vec_id LIMIT 10""".stripMargin))

  /** Batch k-NN join: top-3 neighbors for every query in a query set.
    * Candidates are (cell × sign-LSH bucket)-bounded — a cell-only join is
    * all-pairs within a cell (quadratic in cell size at 100×); the composed
    * key is the same density-bounded generator q32/q61 use. The planes are
    * deterministic literals, so the oracle reproduces the bucket exactly. */
  private val q31Planes = SimilarityOps.lshPlanes(2, 64)
  private val q31 = QueryDef(
    "q31_knn_join",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityOps.knnJoin(emb, emb.filter(col("vec_id") < 5), "label", 3, Seq(q31Planes))
        .orderBy(col("q_id"), col("rank"))
    },
    Some(s"""WITH bk AS (
           |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
           |    ${OracleSql.signLshBucketSql("embedding::DOUBLE[]", q31Planes)} AS bucket
           |  FROM embeddings),
           |qs AS (SELECT vec_id AS q_id, label, bucket, v AS q_emb FROM bk WHERE vec_id < 5),
           |scored AS (
           |  SELECT qs.q_id, e.vec_id AS n_id,
           |    ${OracleSql.cosineSql("e.v", "qs.q_emb")} + 0.0 AS cosine
           |  FROM bk e JOIN qs ON e.label = qs.label AND e.bucket = qs.bucket
           |  WHERE e.vec_id <> qs.q_id),
           |ranked AS (
           |  SELECT q_id, n_id, cosine,
           |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
           |  FROM scored)
           |SELECT q_id, n_id, cosine, CAST(rank AS BIGINT) AS rank
           |FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin))

  /** Sign-LSH bucketed ANN (the LSH scale path beside IVF): top-10 from the
    * query's hyperplane bucket only. The planes are deterministic literals
    * (fixed seed), so the bucket IS ANSI-expressible — the oracle inlines
    * the plane values and reproduces bucket assignment bit-for-bit (was
    * rows-only in round 1). Recall vs. brute force is also ScalaTest-
    * verified. */
  private val q35Planes = SimilarityOps.lshPlanes(4, 64)
  private val q35 = QueryDef(
    "q35_cosine_lsh_topk",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityOps.cosineTopKLsh(emb, emb.filter(col("vec_id") === 0), 10,
        numPlanes = 4, dim = 64)
    },
    Some(s"""WITH bk AS (
           |  SELECT vec_id, embedding::DOUBLE[] AS v,
           |    ${OracleSql.signLshBucketSql("embedding::DOUBLE[]", q35Planes)} AS bucket
           |  FROM embeddings),
           |q AS (SELECT vec_id AS q_id, v AS q_v, bucket FROM bk WHERE vec_id = 0)
           |SELECT bk.vec_id,
           |  ${OracleSql.cosineSql("bk.v", "q.q_v")} + 0.0 AS cosine
           |FROM bk JOIN q ON bk.bucket = q.bucket
           |WHERE bk.vec_id <> q.q_id
           |ORDER BY cosine DESC, bk.vec_id LIMIT 10""".stripMargin))

  /** IVF coarse-quantizer TRAINING (q26 probes such cells): deterministic
    * Lloyd's k-means over the embedding corpus, reported as cluster sizes.
    * The trainer's fixed iteration count and deterministic contract
    * (lowest-id seeds, tie-to-lower-cluster, empty-cluster-keeps-centroid)
    * make it ANSI-expressible after all: the oracle UNROLLS the three
    * Lloyd iterations into a CTE chain ([[OracleSql.kmeansCtes]]) — both
    * engines compute the identical assignment arithmetic in the identical
    * order, and both ROUND each iteration's centroid means (1e-6), so the
    * match is robust by construction: an avg() whose float summation order
    * differs across partitionings lands on the same rounded centroid. */
  private val q41 = QueryDef(
    "q41_kmeans_train",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (assign, _) = SimilarityOps.kmeans(emb, "vec_id", "embedding", k = 8, iters = 3)
      assign.groupBy(col("cluster")).agg(count(lit(1)).as("n")).orderBy(col("cluster"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |${OracleSql.kmeansCtes("k_", "e", k = 8, iters = 3, dim = 64)},
           |fin AS (${OracleSql.kmeansAssignSelect("k_c3", "e")})
           |SELECT CAST(cluster AS INT) AS cluster, count(*) AS n
           |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Johnson–Lindenstrauss random projection 64 → 8 dims (the reduction
    * step upstream of ANN): one codegen'd VecDot per output dim against a
    * literal fixed-seed plane, scaled 1/√8 — zero shuffle, and the oracle
    * inlines the identical plane values. */
  private val q72Planes = SimilarityOps.lshPlanes(8, 64)
  private val q72 = QueryDef(
    "q72_random_projection",
    (s, dir) => {
      val p = SimilarityOps.randomProject(
        Tables.embeddings(s, dir), "vec_id", "embedding", projDim = 8, dim = 64)
      p.select(col("vec_id") +:
          (0 until 8).map(j => graft.engine.Semantics.roundz(col(s"p$j"), 6).as(s"p$j")): _*)
        .orderBy(col("vec_id"))
    },
    Some {
      val scale = 1.0 / math.sqrt(8.0)
      val cols = q72Planes.zipWithIndex.map { case (p, j) =>
        s"round(list_dot_product(embedding::DOUBLE[], ${p.mkString("[", ", ", "]")}) * $scale, 6) + 0.0 AS p$j"
      }.mkString(",\n  ")
      s"""SELECT vec_id,
         |  $cols
         |FROM embeddings ORDER BY vec_id""".stripMargin
    })

  /** X3 prototypicality scoring: per-cell centroid distance — the ranking
    * behind embedding-space quality prunes (SemDeDup keep-farthest /
    * cartography). Centroid = one posexplode aggregate reassembled per
    * CELL; the scoring join is on the cell key only, one codegen'd VecDot
    * triple per vector — the exploded stream is never joined. */
  private val q80 = QueryDef(
    "q80_centroid_distance",
    (s, dir) => SimilarityOps.centroidDistances(
        Tables.embeddings(s, dir), "vec_id", col("embedding"), col("label"))
      .orderBy(col("vec_id")),
    Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
           |d AS (SELECT label, CAST(i.i AS INT) AS dim, round(avg(v[i.i + 1]), 6) + 0.0 AS m
           |  FROM e, unnest(range(len(v))) AS i(i) GROUP BY 1, 2),
           |cent AS (SELECT label, list(m ORDER BY dim) AS c FROM d GROUP BY 1)
           |SELECT vec_id, label AS cell,
           |  round(sqrt(greatest(0.0, list_dot_product(v, v)
           |    - 2 * list_dot_product(v, c) + list_dot_product(c, c))), 6) + 0.0
           |    AS centroid_dist
           |FROM e JOIN cent USING (label) ORDER BY vec_id""".stripMargin))

  /** X3 product quantization (IVF-PQ's compression stage): encode every
    * vector as m=4 one-byte codes against fixed-seed literal codebooks
    * (SimilarityOps.pqTrain k-means-trains them in production — q90 runs
    * that composition; the literal discipline here is what keeps the
    * encode ORACLE-checkable, exactly like the q31/q32/q72 LSH planes),
    * plus the ADC distance estimate to a literal query via m table lookups
    * per row. Zero shuffle, m×k codegen'd VecDots/row. */
  private val pqM = 4
  private val pqK = 8
  private val pqSub = 64 / pqM
  private val pqBooks = SimilarityOps.pqCodebooks(pqM, pqK, 64)
  private val pqQuery = SimilarityOps.lshPlanes(1, 64, seed = 7L).head
  private val pqTables = SimilarityOps.pqAdcTables(pqQuery, pqBooks)
  private val q81 = QueryDef(
    "q81_pq_encode_adc",
    (s, dir) => {
      val codes = SimilarityOps.pqEncode(
        Tables.embeddings(s, dir), "vec_id", col("embedding"), pqBooks)
      codes.withColumn("adc_dist", graft.engine.Semantics.roundz(
          SimilarityOps.pqAdcDistance(pqTables, j => col(s"code_$j")), 6))
        .orderBy(col("vec_id"))
    },
    Some {
      val cbRows = pqBooks.zipWithIndex.flatMap { case (book, j) =>
        book.zipWithIndex.map { case (c, code) =>
          s"($j, $code, ${c.mkString("[", ", ", "]")}::DOUBLE[], " +
            s"CAST(${c.map(x => x * x).sum} AS DOUBLE))"
        }
      }.mkString(",\n|    ")
      val codeCols = (0 until pqM).map(j =>
        s"CAST(max(CASE WHEN j = $j THEN code END) AS BIGINT) AS code_$j")
        .mkString(",\n|    ")
      val adc = pqTables.zipWithIndex.map { case (t, j) =>
        s"(${t.mkString("[", ", ", "]")}::DOUBLE[])[CAST(code_$j AS INT) + 1]"
      }.mkString("\n|    + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cb(j, code, cvec, c2) AS (VALUES
         |    $cbRows),
         |scored AS (SELECT e.vec_id, cb.j, cb.code,
         |    -2 * list_dot_product(list_slice(e.v, cb.j * $pqSub + 1, cb.j * $pqSub + $pqSub), cb.cvec)
         |      + cb.c2 AS d
         |  FROM e CROSS JOIN cb),
         |w AS (SELECT *, min(d) OVER (PARTITION BY vec_id, j) AS md FROM scored),
         |codes AS (SELECT vec_id, j, min(code) AS code FROM w WHERE d = md GROUP BY 1, 2),
         |p AS (SELECT vec_id,
         |    $codeCols
         |  FROM codes GROUP BY 1)
         |SELECT vec_id, code_0, code_1, code_2, code_3,
         |  round($adc, 6) + 0.0 AS adc_dist
         |FROM p ORDER BY vec_id""".stripMargin
    })

  /** X3 ANN ranking over PQ codes: approximate top-10 by ADC distance —
    * the scan shape of a deployed IVF-PQ index (here over the full corpus;
    * production prunes to probed cells first, q26's shape). Pure map work
    * + TakeOrderedAndProject: per row the estimate costs m table lookups,
    * never a vector op — the reason PQ codes are what a 100 TB ANN scan
    * actually reads. */
  private val q82 = QueryDef(
    "q82_pq_adc_topk",
    (s, dir) => {
      val codes = SimilarityOps.pqEncode(
        Tables.embeddings(s, dir), "vec_id", col("embedding"), pqBooks)
      codes.withColumn("adc_dist", graft.engine.Semantics.roundz(
          SimilarityOps.pqAdcDistance(pqTables, j => col(s"code_$j")), 6))
        .select(col("vec_id"), col("adc_dist"))
        .orderBy(col("adc_dist"), col("vec_id"))
        .limit(10)
    },
    Some(q81.oracle.get.replace("SELECT vec_id, code_0, code_1, code_2, code_3,",
        "SELECT vec_id,")
      .replace("FROM p ORDER BY vec_id",
        "FROM p ORDER BY adc_dist, vec_id LIMIT 10")))

  /** q31's batch k-NN join with TWO OR-ed sign-LSH tables
    * ([[SimilarityOps.knnJoin]]): table 0 is q31's plane set, so every
    * q31 candidate survives and table 1 adds the neighbors table 0's buckets
    * split away — per-query recall 1 − (1 − (1 − θ/π)²)² vs (1 − θ/π)².
    * The oracle carries one bucket column per table and ORs the equalities,
    * deduping pairs with DISTINCT exactly as the engine does. */
  private val q89Tables = SimilarityOps.lshTables(2, 2, 64)
  private val q89 = QueryDef(
    "q89_multitable_knn",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityOps.knnJoin(emb, emb.filter(col("vec_id") < 5), "label", 3, q89Tables)
        .orderBy(col("q_id"), col("rank"))
    },
    Some {
      val bucketCols = q89Tables.zipWithIndex.map { case (p, t) =>
        s"${OracleSql.signLshBucketSql("embedding::DOUBLE[]", p)} AS b$t"
      }.mkString(",\n|    ")
      val orCond = q89Tables.indices.map(t => s"e.b$t = qs.b$t").mkString(" OR ")
      val bNames = q89Tables.indices.map(t => s"b$t").mkString(", ")
      s"""WITH bk AS (
         |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         |    $bucketCols
         |  FROM embeddings),
         |qs AS (SELECT vec_id AS q_id, label, $bNames, v AS q_emb FROM bk WHERE vec_id < 5),
         |scored AS (
         |  SELECT DISTINCT qs.q_id, e.vec_id AS n_id,
         |    ${OracleSql.cosineSql("e.v", "qs.q_emb")} + 0.0 AS cosine
         |  FROM bk e JOIN qs ON e.label = qs.label AND ($orCond)
         |  WHERE e.vec_id <> qs.q_id),
         |ranked AS (
         |  SELECT q_id, n_id, cosine,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
         |  FROM scored)
         |SELECT q_id, n_id, cosine, CAST(rank AS BIGINT) AS rank
         |FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
    })

  /** X3 end-to-end IVF-PQ TRAINING composition: per-subspace k-means-
    * trained codebooks ([[SimilarityOps.pqTrain]] — q41's trainer run once
    * per subspace) feeding [[SimilarityOps.pqEncode]] and an ADC ranking —
    * q81's "production trains them" claim as running code. Output = codes
    * + ADC distance to the same literal query q81 uses, so the two queries
    * differ ONLY in where the codebooks came from. Iterative k-means isn't
    * ANSI-expressible → rows-only check; exact-on-centroid and
    * distortion-dominance over the random literals are ScalaTest-verified
    * (PqTrainSpec).
    *
    * Training reads a deterministic 1-in-4 subsample (vec_id % 4 = 0) and
    * the ENCODE pass reads the full corpus — the standard PQ deployment
    * shape (codebook quality saturates on a bounded sample, so at 100 TB
    * the training scans never grow with the corpus; faiss-style practice,
    * Jégou et al. 2011). */
  private val q90 = QueryDef(
    "q90_pq_trained",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val books = SimilarityOps.pqTrain(emb.filter(col("vec_id") % 4 === 0),
        "vec_id", col("embedding"), m = pqM, k = pqK, dim = 64, iters = 2)
      val tables = SimilarityOps.pqAdcTables(pqQuery, books)
      SimilarityOps.pqEncode(emb, "vec_id", col("embedding"), books)
        .withColumn("adc_dist", graft.engine.Semantics.roundz(
          SimilarityOps.pqAdcDistance(tables, j => col(s"code_$j")), 6))
        .orderBy(col("vec_id"))
    },
    // Four per-subspace unrolled-Lloyd chains (q41's oracle idiom over each
    // 16-dim slice of the 1-in-4 sample — pqTrain is DEFINED as kmeans per
    // subspace), then the encode argmin over the trained books and the ADC
    // sum, every float chain left-associated exactly as the Scala foldLeft
    // / reduce computes it, so round(…, 6) compares identical doubles.
    Some {
      val sub = 64 / pqM
      def slice(j: Int) = s"v[${j * sub + 1}:${(j + 1) * sub}]"
      val chains = (0 until pqM).map { j =>
        s"""s$j AS (SELECT vec_id, ${slice(j)} AS v FROM samp),
           |${OracleSql.kmeansCtes(s"s${j}_", s"s$j", k = pqK, iters = 2, dim = sub)}""".stripMargin
      }.mkString(",\n")
      val csRefs = (0 until pqM).map(j => s"s${j}_c2").mkString(", ")
      val dsCols = (0 until pqM).map { j =>
        s"s${j}_c2.cs AS cs$j,\n    list_transform(s${j}_c2.cs, " +
          s"c -> -2 * list_dot_product(${slice(j)}, c) + list_dot_product(c, c)) AS ds$j"
      }.mkString(",\n    ")
      val codeCols = (0 until pqM).map { j =>
        s"CAST(list_position(ds$j, list_min(ds$j)) - 1 AS BIGINT) AS code_$j"
      }.mkString(",\n    ")
      val csCarry = (0 until pqM).map(j => s"cs$j").mkString(", ")
      val cbCols = (0 until pqM).map(j => s"cs$j[code_$j + 1] AS cb$j").mkString(", ")
      val codes = (0 until pqM).map(j => s"code_$j").mkString(", ")
      val adc = (0 until pqM).map { j =>
        (1 to sub).map { d =>
          val q = pqQuery(j * sub + d - 1)
          s"($q - cb$j[$d]) * ($q - cb$j[$d])"
        }.mkString("(", " + ", ")")
      }.mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |samp AS (SELECT vec_id, v FROM e WHERE vec_id % 4 = 0),
         |$chains,
         |enc0 AS (SELECT vec_id,
         |    $dsCols
         |  FROM e, $csRefs),
         |enc1 AS (SELECT vec_id, $csCarry,
         |    $codeCols
         |  FROM enc0),
         |enc2 AS (SELECT vec_id, $codes, $cbCols FROM enc1)
         |SELECT vec_id, $codes,
         |  round($adc, 6) + 0.0 AS adc_dist
         |FROM enc2 ORDER BY vec_id""".stripMargin
    })

  /** Multi-probe sign-LSH top-10 ([[SimilarityOps.cosineTopKLshMultiProbe]]):
    * q35's single-bucket probe widened to the full Hamming-1 probe ring —
    * 7 probe buckets from a 6-plane table, one-table index cost. The probe
    * set is deterministic, so the oracle expresses it as
    * `xor(corpus_bucket, query_bucket) IN (0, 1, 2, 4, ...)` over the
    * identical inlined planes. */
  private val q94Planes = SimilarityOps.lshPlanes(6, 64)
  private val q94 = QueryDef(
    "q94_multiprobe_lsh_topk",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityOps.cosineTopKLshMultiProbe(emb, emb.filter(col("vec_id") === 0), 10,
        numPlanes = 6, dim = 64)
    },
    Some {
      val probeXors = (Seq(0L) ++ (0 until 6).map(j => 1L << j)).mkString(", ")
      s"""WITH bk AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |    ${OracleSql.signLshBucketSql("embedding::DOUBLE[]", q94Planes)} AS bucket
         |  FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS q_v, bucket AS q_bucket FROM bk WHERE vec_id = 0)
         |SELECT bk.vec_id,
         |  ${OracleSql.cosineSql("bk.v", "q.q_v")} + 0.0 AS cosine
         |FROM bk CROSS JOIN q
         |WHERE bk.vec_id <> q.q_id AND xor(bk.bucket, q.q_bucket) IN ($probeXors)
         |ORDER BY cosine DESC, bk.vec_id LIMIT 10""".stripMargin
    })

  /** End-to-end TRAINED IVF: q41's k-means (on the deterministic 1-in-4
    * sample, q90's discipline) → [[SimilarityOps.assignCells]] labels the
    * full corpus → [[SimilarityOps.cosineTopKIvf]] probes the query's
    * trained cell — the composition q26 stands in for with a precomputed
    * label. The assignment is k codegen dots of map work; at write time
    * the cell is the partition key, so the probe is a pruned scan at any
    * scale. Iterative k-means isn't ANSI-expressible → rows-only check;
    * probe-consistency (IVF result ≡ brute force restricted to the
    * query's cell) is ScalaTest-verified. */
  private val q95 = QueryDef(
    "q95_ivf_trained_probe",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (_, centroids) = SimilarityOps.kmeans(
        emb.filter(col("vec_id") % 4 === 0), "vec_id", "embedding", k = 8, iters = 2)
      val cells = emb.join(
        SimilarityOps.assignCells(emb, "vec_id", col("embedding"), centroids), "vec_id")
      SimilarityOps.cosineTopKIvf(cells, cells.filter(col("vec_id") === 0), "cell", 10)
    },
    // q41's unrolled-Lloyd oracle, trained on the 1-in-4 sample, with the
    // final assignment labeling the FULL corpus before the cell-pruned
    // cosine ranking — the exact train → assign → probe composition.
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |samp AS (SELECT vec_id, v FROM e WHERE vec_id % 4 = 0),
           |${OracleSql.kmeansCtes("k_", "samp", k = 8, iters = 2, dim = 64)},
           |cells AS (${OracleSql.kmeansAssignSelect("k_c2", "e")}),
           |q AS (SELECT vec_id AS q_id, v AS q_v, cluster AS q_cell
           |  FROM cells WHERE vec_id = 0)
           |SELECT c.vec_id,
           |  ${OracleSql.cosineSql("c.v", "q.q_v")} + 0.0 AS cosine
           |FROM cells c JOIN q ON c.cluster = q.q_cell
           |WHERE c.vec_id <> q.q_id
           |ORDER BY cosine DESC, c.vec_id LIMIT 10""".stripMargin))

  /** SQ8 scalar quantization + asymmetric-distance top-k — the middle rung
    * of the compression ladder between raw vectors and q81's PQ codes: one
    * byte per dimension against per-dimension corpus (min, max), ranked by
    * squared L2 between an exact literal query and each vector's
    * RECONSTRUCTION. The calibration is a 64-row broadcast dim table; the
    * scan is one explode + map-side join + one (vec_id) aggregate +
    * TakeOrderedAndProject. Float-op order is pinned identically in both
    * engines, so every 8-bit code matches bit-for-bit; only the 64-term
    * distance sum is rounded (1e-6) against reassociation. */
  private val q102Query: Seq[Double] = SimilarityOps.lshPlanes(1, 64, seed = 7L).head
  private val q102 = QueryDef(
    "q102_sq8_topk",
    (s, dir) => SimilarityOps.sq8TopK(
      Tables.embeddings(s, dir), "vec_id", col("embedding"), q102Query, 10),
    Some(s"""WITH x AS (SELECT vec_id, d.d AS d, embedding[d.d + 1]::DOUBLE AS v
           |  FROM embeddings, unnest(range(64)) AS d(d)),
           |st AS (SELECT d, min(v) AS mn, max(v) AS mx FROM x GROUP BY 1),
           |c AS (SELECT vec_id, x.d, v, mn, mx,
           |    CASE WHEN mx = mn THEN 0.0
           |         ELSE floor((v - mn) * 255 / (mx - mn) + 0.5) END AS code
           |  FROM x JOIN st USING (d)),
           |q AS (SELECT ${q102Query.mkString("[", ", ", "]")}::DOUBLE[] AS qv),
           |ds AS (SELECT vec_id,
           |    round(sum((mn + code * (mx - mn) / 255 - qv[d + 1])
           |            * (mn + code * (mx - mn) / 255 - qv[d + 1])), 6) + 0.0 AS adist
           |  FROM c, q GROUP BY 1)
           |SELECT vec_id, adist FROM ds ORDER BY adist, vec_id LIMIT 10""".stripMargin))

  /** Hard-negative mining (X3×X8 composition): for each of the first 10
    * query vectors, the 3 most-similar neighbors that do NOT share a
    * semantic-dup cluster with it (q61's CC over the verified near-dup
    * graph) — the "close but known-different" pairs contrastive retriever
    * training wants; mining without the cluster exclusion trains on false
    * negatives. Candidates are q31's (cell × sign-LSH) pool with the rank
    * cut disabled (top-k among NEGATIVES, not negatives among top-k);
    * the exclusion is two id-only left joins, embeddings never re-enter.
    * Oracle composes q31's scored CTE (over the fixed candidate-pool
    * planes — a bounded QUERY-side join, not the scale-sensitive
    * self-join) with the TUNED semantic sweep + clusters prefix q61
    * shares ([[OracleSql.tunedSemanticCompsPrefix]]). */
  private val q110Planes = SharedPipelines.semPlanes
  private val q110 = QueryDef(
    "q110_hard_negatives",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // The exclusion set is the session-shared semantic clustering
      // ([[SharedPipelines.semanticComps]] — q61's pipeline): hard-negative
      // mining reads the SAME dedup clusters the dedup pass produced.
      val comps = SharedPipelines.semanticComps(s, dir)
      val knn = SimilarityOps.knnJoin(
        emb, emb.filter(col("vec_id") < 10), "label", Int.MaxValue, Seq(q110Planes))
      SimilarityOps.hardNegatives(knn, comps, 3)
        .orderBy(col("q_id"), col("neg_rank"))
    },
    Some(OracleSql.tunedSemanticCompsPrefix(SharedPipelines.semTables,
        SharedPipelines.semOccupancy, SharedPipelines.semDepthMin,
        SharedPipelines.semDepthMax, dim = 64,
        threshold = SharedPipelines.semPairThreshold) +
      s""",
           |bk AS (SELECT vec_id, label, v,
           |  ${OracleSql.signLshBucketSql("v", q110Planes)} AS bucket FROM e),
           |qs AS (SELECT vec_id AS q_id, label, bucket, v AS q_emb FROM bk WHERE vec_id < 10),
           |scored AS (
           |  SELECT qs.q_id, e2.vec_id AS n_id,
           |    ${OracleSql.cosineSql("e2.v", "qs.q_emb")} + 0.0 AS cosine
           |  FROM bk e2 JOIN qs ON e2.label = qs.label AND e2.bucket = qs.bucket
           |  WHERE e2.vec_id <> qs.q_id),
           |neg AS (
           |  SELECT s.q_id, s.n_id, s.cosine
           |  FROM scored s
           |  LEFT JOIN comps cq ON cq.node = s.q_id
           |  LEFT JOIN comps cn ON cn.node = s.n_id
           |  WHERE cq.comp IS NULL OR cn.comp IS NULL OR cq.comp <> cn.comp),
           |rk AS (SELECT q_id, n_id, cosine,
           |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS neg_rank
           |  FROM neg)
           |SELECT q_id, n_id, cosine, CAST(neg_rank AS BIGINT) AS neg_rank
           |FROM rk WHERE neg_rank <= 3 ORDER BY q_id, neg_rank""".stripMargin))

  /** ANN recall audit (the "measure, don't guess" knob as a query): per-
    * query recall@10 of the 2-plane sign-LSH k-NN join (q31's config)
    * against the exact same-cell neighbor list, for the 10-query batch.
    * The number that decides whether an index configuration ships — the
    * (1−θ/π)^p algebra predicts it, this measures it on the corpus. Both
    * lists are TakeOrdered/window top-ks; the audit join ships ids only. */
  private val q112Planes = SimilarityOps.lshPlanes(2, 64)
  private val q112 = QueryDef(
    "q112_ann_recall",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      val truth = SimilarityOps.knnJoin(emb, queries, "label", 10,
        SimilarityOps.lshTables(1, 0, 64))
      val ann = SimilarityOps.knnJoin(emb, queries, "label", 10, Seq(q112Planes))
      SimilarityOps.recallAtK(truth, ann)
        .select(col("q_id"), col("n_truth"), col("n_hit"),
          graft.engine.Semantics.roundz(col("recall"), 6).as("recall"))
        .orderBy(col("q_id"))
    },
    Some(s"""WITH bk AS (
           |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
           |    ${OracleSql.signLshBucketSql("embedding::DOUBLE[]", q112Planes)} AS bucket
           |  FROM embeddings),
           |qs AS (SELECT vec_id AS q_id, label, bucket, v AS q_emb FROM bk WHERE vec_id < 10),
           |tru AS (
           |  SELECT q_id, n_id FROM (
           |    SELECT qs.q_id, e.vec_id AS n_id,
           |      row_number() OVER (PARTITION BY qs.q_id ORDER BY
           |        ${OracleSql.cosineSql("e.v", "qs.q_emb")} DESC, e.vec_id) AS rk
           |    FROM bk e JOIN qs ON e.label = qs.label
           |    WHERE e.vec_id <> qs.q_id) WHERE rk <= 10),
           |ann AS (
           |  SELECT q_id, n_id FROM (
           |    SELECT qs.q_id, e.vec_id AS n_id,
           |      row_number() OVER (PARTITION BY qs.q_id ORDER BY
           |        ${OracleSql.cosineSql("e.v", "qs.q_emb")} DESC, e.vec_id) AS rk
           |    FROM bk e JOIN qs ON e.label = qs.label AND e.bucket = qs.bucket
           |    WHERE e.vec_id <> qs.q_id) WHERE rk <= 10)
           |SELECT t.q_id, count(*) AS n_truth,
           |  CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           |  round(CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE), 6) + 0.0 AS recall
           |FROM tru t LEFT JOIN ann a ON a.q_id = t.q_id AND a.n_id = t.n_id
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Hybrid retrieval with Reciprocal Rank Fusion (the standard hybrid-
    * search shape: lexical arm ∪ semantic arm, fused by Σ 1/(60+rank) —
    * Cormack's RRF, the score-free fusion that needs no cross-arm
    * calibration): q106's BM25 top-20 for a literal term query and q25's
    * brute-cosine top-20 around vector 0, full-outer-joined on the doc id,
    * top-10 by fused score. A doc found by only one arm still fuses (its
    * missing-arm term is 0) — that asymmetry is RRF's point.
    *
    * Scale shape: each arm ends in a distributed TakeOrderedAndProject
    * (top-20); the global rank windows run over those 20-row lists, never
    * the corpus; the fusion join ships (id, rank) pairs only. */
  private val q116 = QueryDef(
    "q116_hybrid_rrf",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val lexTop = graft.operators.TextOps
        .bm25Scores(docs, col("doc_id"), col("text"), Seq("vector", "stream", "hash"))
        .select(col("doc_id"), graft.engine.Semantics.roundz(col("bm25"), 6).as("s"))
        .orderBy(desc("s"), col("doc_id")).limit(20)
      val lex = lexTop
        .withColumn("lex_rank",
          row_number().over(Window.orderBy(desc("s"), col("doc_id"))).cast("long"))
        .select(col("doc_id"), col("lex_rank"))
      val semTop = SimilarityOps.cosineTopK(emb, emb.filter(col("vec_id") === 0), 20)
      val sem = semTop
        .withColumn("sem_rank",
          row_number().over(Window.orderBy(desc("cosine"), col("vec_id"))).cast("long"))
        .select(col("vec_id").as("doc_id"), col("sem_rank"))
      lex.join(sem, Seq("doc_id"), "full")
        .withColumn("rrf", graft.engine.Semantics.roundz(
          coalesce(lit(1d) / (lit(60d) + col("lex_rank")), lit(0d)) +
          coalesce(lit(1d) / (lit(60d) + col("sem_rank")), lit(0d)), 6))
        .orderBy(desc("rrf"), col("doc_id")).limit(10)
    },
    Some(s"""WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
           |st AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl::DOUBLE) AS avgdl FROM d),
           |tm AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
           |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tm
           |  WHERE term IN ('vector', 'stream', 'hash') GROUP BY 1, 2),
           |dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
           |idf AS (SELECT term, ln(1 + (n_docs - df + 0.5) / (df + 0.5)) AS idf, avgdl
           |  FROM dfq, st),
           |sc AS (SELECT tf.doc_id,
           |    round(sum(idf * tf * (1.2 + 1) / (tf + 1.2 * (0.25 + 0.75 * (d.dl::DOUBLE) / avgdl))), 6) AS s
           |  FROM tf JOIN idf USING (term) JOIN d ON d.doc_id = tf.doc_id GROUP BY 1),
           |lex AS (SELECT doc_id,
           |    CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS BIGINT) AS lex_rank
           |  FROM sc QUALIFY lex_rank <= 20),
           |q AS (SELECT embedding::DOUBLE[] AS q_emb FROM embeddings WHERE vec_id = 0),
           |cs AS (SELECT e.vec_id,
           |    ${OracleSql.cosineSql("e.embedding::DOUBLE[]", "q.q_emb")} + 0.0 AS cosine
           |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
           |sem AS (SELECT vec_id AS doc_id,
           |    CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS BIGINT) AS sem_rank
           |  FROM cs QUALIFY sem_rank <= 20)
           |SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id, lex_rank, sem_rank,
           |  round(coalesce(1.0 / (60 + lex_rank), 0) + coalesce(1.0 / (60 + sem_rank), 0), 6) + 0.0 AS rrf
           |FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id
           |ORDER BY rrf DESC, coalesce(lex.doc_id, sem.doc_id) LIMIT 10""".stripMargin))

  /** X3 recall-targeting auto-tuner ([[SimilarityOps.lshAutoTune]]): q112
    * measures ONE configuration's recall@10; this sweeps six (tables,
    * planes) operating points on the 10-query batch and flags the cheapest
    * one whose MEASURED mean recall meets 0.8 — the decision procedure
    * that turns the recall audit into an index configuration. The oracle
    * reproduces each config's candidate join with its literal plane sets
    * (agree-on-any-table expressed as an OR of per-table bucket
    * equalities) and the same cheapest-meeting window. */
  private val q117Configs = SharedPipelines.annSweepConfigs
  private val q117 = QueryDef(
    "q117_lsh_autotune",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityOps.lshAutoTune(emb, emb.filter(col("vec_id") < 10), "label",
          k = 10, configs = q117Configs, dim = 64, recallTarget = 0.8)
        .orderBy(col("n_tables"), col("n_planes"))
    },
    Some(s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
           |qs AS (SELECT vec_id AS q_id, label, v AS q_v FROM e WHERE vec_id < 10),
           |${OracleSql.annSweepCtes(q117Configs, "e", "label", k = 10, recallTarget = 0.8)}
           |SELECT n_tables, n_planes, mean_recall, candidate_pairs, meets_target, chosen
           |FROM win ORDER BY n_tables, n_planes""".stripMargin))

  /** X3+X7 (cluster-balanced curation — the SemDeDup/topic-balance shape):
    * train the coarse quantizer (q41's deterministic Lloyd, k = 8, 2
    * iterations), assign every vector to its cluster, then draw a
    * DETERMINISTIC uniform quota (25) per cluster ([[graft.operators
    * .CurationOps.quotaSample]]'s md5-ranked draw). Semantic clusters play
    * the role sources play in q46: a corpus whose topics are wildly
    * imbalanced gets sampled back to topic parity — the embedding-space
    * version of mixture balancing, and the selection step SemDeDup-style
    * pipelines run after clustering. Oracle: the unrolled-Lloyd CTE chain
    * (identical arithmetic, rounded centroids) + QUALIFY row_number over
    * the same md5 priority — exact, not approximate. */
  private val q123 = QueryDef(
    "q123_cluster_balanced_sample",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (assign, _) = SimilarityOps.kmeans(emb, "vec_id", "embedding", k = 8, iters = 2)
      graft.operators.CurationOps.quotaSample(assign, col("cluster"), col("vec_id"), k = 25)
        .select(col("vec_id"), col("cluster"))
        .orderBy(col("cluster"), col("vec_id"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |${OracleSql.kmeansCtes("k_", "e", k = 8, iters = 2, dim = 64)},
           |asg AS (${OracleSql.kmeansAssignSelect("k_c2", "e")}),
           |samp AS (SELECT vec_id, CAST(cluster AS INT) AS cluster FROM asg
           |  QUALIFY row_number() OVER (PARTITION BY cluster
           |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 25)
           |SELECT vec_id, cluster FROM samp ORDER BY cluster, vec_id""".stripMargin))

  /** X3 dimensionality-reduction trainer: the corpus's top principal
    * component by 4-step power iteration
    * ([[SimilarityOps.powerIterationTop]] — the whiten-before-PQ /
    * project-before-IVF preprocessing step), with the trained artifact
    * itself as the checked output: (dim, rounded mean, rounded loading).
    * Exact-oracle discipline like the other unrolled trainers
    * ([[OracleSql.powerIterationCtes]]): per-dim aggregates rounded 1e-6,
    * normalization arithmetic bit-identical (left-to-right Σu², IEEE
    * sqrt/divide). On this iid-Gaussian fixture the spectrum is nearly
    * flat, so the component is an arbitrary — but exactly reproducible —
    * direction; PcaSpec proves convergence to the true top component on
    * anisotropic data. */
  private val q132 = QueryDef(
    "q132_pca_power_iteration",
    (s, dir) => {
      import s.implicits._
      val (mu, v) = SimilarityOps.powerIterationTop(
        Tables.embeddings(s, dir), col("embedding"), dim = 64, iters = 4)
      mu.indices.map(i => (i.toLong, mu(i), v(i)))
        .toDF("dim", "mean", "loading").orderBy(col("dim"))
    },
    Some(s"""WITH ${OracleSql.powerIterationCtes("pc", dim = 64, iters = 4)}
           |SELECT d.i AS dim, mu[d.i + 1] AS mean, w[d.i + 1] AS loading
           |FROM pcv0x4 CROSS JOIN pcmu, unnest(range(64)) AS d(i)
           |ORDER BY dim""".stripMargin))

  /** X3 the 2-component embedding MAP (q132 extended by deflation —
    * [[SimilarityOps.powerIterationComponents]]): every vector projects
    * onto the two leading components and each label reports its mean
    * (c1, c2) coordinate — the per-cluster scatter summary an embedding
    * dashboard plots, and the whitening transform PQ/IVF preprocessing
    * applies. Projections are exact per row (centered dot against rounded
    * components); the per-label means are the only order-dependent sums,
    * rounded 1e-6 on both sides. */
  private val q133 = QueryDef(
    "q133_pca_projection_map",
    (s, dir) => {
      val (mu, comps) = SimilarityOps.powerIterationComponents(
        Tables.embeddings(s, dir), col("embedding"), dim = 64, iters = 4, k = 2)
      val centered = zip_with(col("embedding").cast("array<double>"),
        typedlit(mu), (a, b) => a - b)
      Tables.embeddings(s, dir)
        .select(col("label").cast("long").as("label"),
          SimilarityOps.dot(centered, typedlit(comps(0))).as("p1"),
          SimilarityOps.dot(centered, typedlit(comps(1))).as("p2"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          graft.engine.Semantics.roundz(avg(col("p1")), 6).as("mean_c1"),
          graft.engine.Semantics.roundz(avg(col("p2")), 6).as("mean_c2"))
        .orderBy(col("label"))
    },
    Some(s"""WITH ${OracleSql.pcaCtes("pm", dim = 64, iters = 4, k = 2)},
           |proj AS (SELECT e.label,
           |    list_dot_product(list_transform(range(64), i -> e.embedding[i + 1]::DOUBLE - mu[i + 1]), v1.w) AS p1,
           |    list_dot_product(list_transform(range(64), i -> e.embedding[i + 1]::DOUBLE - mu[i + 1]), v2.w) AS p2
           |  FROM embeddings e CROSS JOIN pmmu
           |  CROSS JOIN pmv0x4 v1 CROSS JOIN pmv1x4 v2)
           |SELECT CAST(label AS BIGINT) AS label, count(*) AS n_vecs,
           |  round(avg(p1), 6) + 0.0 AS mean_c1,
           |  round(avg(p2), 6) + 0.0 AS mean_c2
           |FROM proj GROUP BY 1 ORDER BY 1""".stripMargin))

  /** X3 auto-scaled ANN defaults ([[SimilarityOps.tunedLshConfig]] →
    * [[SimilarityOps.knnJoin]]): the round-9 finding closed as API —
    * q117 only REPORTED the sweep; this runs the tuner, takes the chosen
    * (tables, planes) onto the driver (≤ 1 row of two ints, the k-means-
    * centroid driver-state class), and serves the 10-query ANN batch
    * under exactly that configuration, config columns riding each row so
    * the result self-describes its operating point. The corpus — not a
    * hand-pinned literal — now picks the index geometry: the sparse
    * corpus certifies (8, 2), the denser sf0.1 corpus half that index
    * cost, which is what keeps per-bucket candidate volume pinned to the
    * recall contract as the corpus grows (BASELINE's n²/(cells·2^p) row).
    * Oracle: the full q117 sweep CTE chain (literal plane sets per
    * config) re-ranked per config with cosine carried, then a union of
    * per-config ANN lists each GATED on that config's chosen flag — the
    * data-dependent choice expressed in SQL, so the hash check covers the
    * choosing, not just the serving. */
  private val q141 = QueryDef(
    "q141_tuned_ann",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      val (t, p) = SimilarityOps.tunedLshConfig(emb, queries, "label",
        k = 10, configs = q117Configs, dim = 64, recallTarget = 0.8)
      SimilarityOps.knnJoin(emb, queries, "label", k = 10,
          SimilarityOps.lshTables(t, p, 64))
        .withColumn("n_tables", lit(t))
        .withColumn("n_planes", lit(p))
        .orderBy(col("q_id"), col("rank"))
    },
    Some(s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
           |qs AS (SELECT vec_id AS q_id, label, v AS q_v FROM e WHERE vec_id < 10),
           |${OracleSql.annSweepCtes(q117Configs, "e", "label", k = 10, recallTarget = 0.8)}
           |${OracleSql.annSweepChosenSelect(q117Configs)}
           |ORDER BY q_id, rank""".stripMargin))

  /** X3 ANN index staleness monitor ([[SimilarityOps.annIndexDrift]]):
    * train the coarse quantizer on a hash-split 'ref' snapshot (q151's
    * md5 split — vec_id residue would correlate with nothing here, but
    * the split idiom stays uniform), then compare per-cell assignment
    * distortion against a 'cur' batch whose label ≡ 0 (mod 3) vectors are
    * scaled ×1.5 — an exact float-double transform both engines replay
    * bit-for-bit — so the drift concentrates in the cells those inflated
    * vectors land in while the rest certify stable. The retrain flag
    * compares md_cur > 1.5·md_ref directly (one exactly-rounded multiply,
    * no division edge); the ratio column rides beside it for operators.
    * Oracle: the unrolled-Lloyd CTE chain trains the SAME centroids, and
    * d² = |v|² + min(−2·v·c + |c|²) reuses the assignment's score list,
    * so distance and argmin come from one evaluation in both engines. */
  private val q152 = QueryDef(
    "q152_ann_drift",
    (s, dir) => {
      val refChars = Seq("0", "1", "2", "3", "4", "5", "6", "7", "8", "9", "a", "b")
      val e = Tables.embeddings(s, dir)
        .withColumn("v", col("embedding").cast("array<double>"))
        .withColumn("is_ref",
          substring(md5(col("vec_id").cast("string").cast("binary")), 1, 1)
            .isin(refChars: _*))
      val ref = e.filter(col("is_ref")).select(col("vec_id"), col("v"))
      val cur = e.filter(!col("is_ref")).select(col("vec_id"),
        when(col("label") % 3 === 0, transform(col("v"), x => x * lit(1.5)))
          .otherwise(col("v")).as("v"))
      val (_, cents) = SimilarityOps.kmeans(ref, "vec_id", "v", k = 8, iters = 2)
      SimilarityOps.annIndexDrift(ref, cur, col("v"), cents, threshold = 1.5)
        .orderBy(col("cell"))
    },
    Some {
      def distort(src: String) = OracleSql.kmeansAssignD2Select("k_c2", src)
      s"""WITH e AS (
         |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         |    substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)
         |      IN ('0','1','2','3','4','5','6','7','8','9','a','b') AS is_ref
         |  FROM embeddings),
         |ref AS (SELECT vec_id, v FROM e WHERE is_ref),
         |cur AS (SELECT vec_id,
         |    CASE WHEN label % 3 = 0 THEN list_transform(v, x -> x * 1.5)
         |         ELSE v END AS v
         |  FROM e WHERE NOT is_ref),
         |${OracleSql.kmeansCtes("k_", "ref", k = 8, iters = 2, dim = 64)},
         |gr AS (SELECT cell, count(*) AS n_ref, round(avg(d2), 6) + 0.0 AS md_ref
         |  FROM (${distort("ref")}) GROUP BY 1),
         |gc AS (SELECT cell, count(*) AS n_cur, round(avg(d2), 6) + 0.0 AS md_cur
         |  FROM (${distort("cur")}) GROUP BY 1)
         |SELECT CAST(coalesce(gr.cell, gc.cell) AS INT) AS cell,
         |  coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur,
         |  md_ref, md_cur,
         |  CASE WHEN md_ref > 0 THEN round(md_cur / md_ref, 6) + 0.0 END AS drift_ratio,
         |  CAST(coalesce(n_ref > 0 AND n_cur > 0 AND md_cur > 1.5 * md_ref,
         |    FALSE) AS BIGINT) AS drifted
         |FROM gr FULL OUTER JOIN gc ON gr.cell = gc.cell
         |ORDER BY cell""".stripMargin
    })

  /** X3×X7 cluster skeleton ([[SimilarityOps.clusterSkeleton]]): the
    * k-row browsable digest of the embedding corpus — per coarse cell its
    * mass, mean squared distortion, and the representative member (argmin
    * distance, ties to the lower id). The argmin rides INSIDE the same
    * hash aggregate as the mass/mean (min of a (d2, id) struct) — one
    * scan, one aggregate, no window. Raw d² doubles order identically
    * cross-engine (same left-to-right dot-product sums), so the oracle's
    * row_number-rank-1 row is the same member the struct-min picks. */
  private val q153 = QueryDef(
    "q153_cluster_skeleton",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val (_, cents) = SimilarityOps.kmeans(e, "vec_id", "v", k = 8, iters = 2)
      SimilarityOps.clusterSkeleton(e, "vec_id", col("v"), cents)
        .orderBy(col("cell"))
    },
    Some {
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |${OracleSql.kmeansCtes("k_", "e", k = 8, iters = 2, dim = 64)},
         |a AS (${OracleSql.kmeansAssignD2Select("k_c2", "e")}),
         |r AS (SELECT cell, vec_id, d2,
         |    row_number() OVER (PARTITION BY cell ORDER BY d2, vec_id) AS rn
         |  FROM a),
         |g AS (SELECT cell, count(*) AS n, round(avg(d2), 6) + 0.0 AS md
         |  FROM a GROUP BY 1)
         |SELECT CAST(g.cell AS INT) AS cell, n, md,
         |  r.vec_id AS rep_id, round(r.d2, 6) + 0.0 AS rep_d2
         |FROM g JOIN r ON g.cell = r.cell AND r.rn = 1
         |ORDER BY cell""".stripMargin
    })

  /** X7 cluster-balanced selection ([[SimilarityOps.clusterBalancedSelect]]):
    * diversity-preserving pruning where every coarse cell contributes at
    * most `quota` members — both policies side by side, 'proto' keeping
    * each cell's most-central members (the SemDeDup-flavored canonical
    * pick) and 'hard' keeping its farthest (the keep-hard-examples policy
    * for abundant data). Rank order runs on the RAW d² doubles (bit-
    * identical cross-engine), ties to the lower id; only the output
    * distance is rounded. The per-cell window is the scale shape IVF
    * licenses: k grows with the corpus, so per-cell mass stays bounded. */
  private val q154 = QueryDef(
    "q154_cluster_balanced",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val (_, cents) = SimilarityOps.kmeans(e, "vec_id", "v", k = 8, iters = 2)
      SimilarityOps.clusterBalancedSelectBoth(e, "vec_id", col("v"), cents, quota = 3)
        .orderBy(col("policy"), col("cell"), col("rank"))
    },
    Some {
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |${OracleSql.kmeansCtes("k_", "e", k = 8, iters = 2, dim = 64)},
         |a AS (${OracleSql.kmeansAssignD2Select("k_c2", "e")}),
         |p AS (SELECT cell,
         |    row_number() OVER (PARTITION BY cell ORDER BY d2, vec_id) AS rank,
         |    vec_id AS id, d2, 'proto' AS policy
         |  FROM a),
         |h AS (SELECT cell,
         |    row_number() OVER (PARTITION BY cell ORDER BY d2 DESC, vec_id) AS rank,
         |    vec_id AS id, d2, 'hard' AS policy
         |  FROM a)
         |SELECT CAST(cell AS INT) AS cell, CAST(rank AS BIGINT) AS rank, id,
         |  round(d2, 6) + 0.0 AS d2, policy
         |FROM (SELECT * FROM p UNION ALL SELECT * FROM h)
         |WHERE rank <= 3
         |ORDER BY policy, cell, rank""".stripMargin
    })

  /** X3 the round-11 serving lifecycle as ONE oracle-checked query
    * ([[SimilarityOps.trainTunedAnnIndex]] → [[SimilarityOps.writeAnnIndex]]
    * → [[SimilarityOps.readAnnIndex]] → [[SimilarityOps.serveAnn]]): train
    * the complete tuned artifact — Lloyd IVF cells (k=4, 2 iterations)
    * over the corpus, then the recall-targeted sweep UNDER those trained
    * cells — persist it, RELOAD it, and serve the 10-query ANN batch from
    * the loaded artifact, config columns riding each row. Where q141
    * demonstrated the data-dependent geometry choice on a GIVEN cell
    * column (label), this puts the whole lifecycle in the driver's hash:
    * the quantizer training, the cell assignment, the sweep's choice, and
    * the artifact round-trip all have to agree with DuckDB's replay —
    * unrolled-Lloyd CTEs derive the same centroids, every config's ANN
    * list is re-ranked over the kmeans cells and gated on ITS chosen
    * flag. A persistence bug (lost precision, reordered centroids,
    * dropped geometry) would hash-mismatch here even if training were
    * perfect. Train-time cost is the sweep (by design, priced once); the
    * serve join is the audited bucket-bounded generator. */
  private val q169 = QueryDef(
    "q169_served_tuned_ann",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      // Train-once state served from the session ([[SharedPipelines
      // .tunedAnnIndex]] — identical parameters, deterministic result):
      // the bench itemizes the train+sweep as its own shared row, so THIS
      // query prices what a serving job pays — the artifact round-trip
      // (write → reload) plus the bucket-bounded serve join. The
      // round-trip stays inside the hash on purpose: a persistence bug
      // (lost precision, reordered centroids, dropped geometry) must
      // mismatch here even when training is perfect.
      val idx = SharedPipelines.tunedAnnIndex(s, dir)
      val path = graft.engine.Scratch.dir(s,
        s"q169_ann_${new java.io.File(dir).getName}")
      SimilarityOps.writeAnnIndex(s, path, idx)
      val back = SimilarityOps.readAnnIndex(s, path)
      SimilarityOps.serveAnn(emb, queries, "vec_id", col("embedding"), back,
          k = 10)
        .withColumn("n_tables", lit(back.tables))
        .withColumn("n_planes", lit(back.planesPerTable))
        .orderBy(col("q_id"), col("rank"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |${OracleSql.kmeansCtes("km", "e", k = 4, iters = 2, dim = 64)},
           |cells AS (SELECT vec_id, v, cluster AS cell
           |  FROM (${OracleSql.kmeansAssignSelect("kmc2", "e")})),
           |qs AS (SELECT vec_id AS q_id, cell, v AS q_v FROM cells WHERE vec_id < 10),
           |${OracleSql.annSweepCtes(q117Configs, "cells e", "cell", k = 10, recallTarget = 0.8)}
           |${OracleSql.annSweepChosenSelect(q117Configs)}
           |ORDER BY q_id, rank""".stripMargin))

  /** X3 the PAIR-geometry sweep as a query ([[SimilarityOps
    * .pairLshAutoTune]]) — per (tables, planes) config: the measured
    * recall on the sampled true near-dup pairs (exact cosine ≥ 0.35
    * within a label cell, vec_id < 200 — the family's own threshold), the
    * exact bucket pair mass Σ C(n, 2) the config's self-join would cost,
    * and the recall-contracted recommendation flag. The "measure, don't
    * guess" instrument for near-dup geometry: it documents ON THE CORPUS
    * that holding 0.8 recall at the wide-angle threshold forces
    * wide-bucket (high-mass) geometry — the evidence behind the semantic
    * family's occupancy-pinned production rule ([[SharedPipelines
    * .tunedSemanticDepth]]), which trades measured recall for linear
    * mass. The whole sweep (truth sample, hit tests, mass aggregates,
    * choice ordering) is integer/exact-division arithmetic, so the hash
    * oracle covers every figure. */
  private val q176 = QueryDef(
    "q176_pair_lsh_sweep",
    (s, dir) => SimilarityOps.pairLshAutoTune(Tables.embeddings(s, dir),
        "vec_id", col("embedding"), col("label"),
        SharedPipelines.semPairThreshold, SharedPipelines.semSweepConfigs,
        dim = 64, recallTarget = SharedPipelines.semPairRecallTarget,
        sampleN = SharedPipelines.semPairSampleN)
      .orderBy(col("cfg")),
    Some {
      val cfgVals = SharedPipelines.semSweepConfigs.zipWithIndex
        .map { case ((t, p), i) => s"($i, $t, $p)" }.mkString(", ")
      s"""WITH ${OracleSql.pairLshSweepCtes(SharedPipelines.semSweepConfigs,
            dim = 64, recallBar = SharedPipelines.semPairThreshold,
            recallTarget = SharedPipelines.semPairRecallTarget,
            sampleN = SharedPipelines.semPairSampleN)},
         |cfgtab(cfg, n_tables, n_planes) AS (VALUES $cfgVals)
         |SELECT c.cfg, c.n_tables, c.n_planes, r.pair_recall,
         |  CAST(m.pair_mass AS BIGINT) AS pair_mass,
         |  w.meets AS meets_target, w.chosen
         |FROM cfgtab c
         |JOIN rec r ON r.cfg = c.cfg
         |JOIN mass m ON m.cfg = c.cfg
         |JOIN win w ON w.cfg = c.cfg
         |ORDER BY c.cfg""".stripMargin
    })

  override val defs: Seq[QueryDef] =
    Seq(q25, q26, q31, q35, q41, q72, q80, q81, q82, q89, q90, q94, q95,
      q102, q110, q112, q116, q117, q123, q132, q133, q141, q152, q153, q154,
      q169, q176)
}
