package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity-search operators over embedding columns (builder prompt;
  * SURVEY §2.10 X3): brute-force cosine top-k as the exact baseline, and an
  * IVF-style coarse-quantizer probe as the scale path.
  *
  * The dot product is a higher-order `zip_with`+`aggregate` over
  * array<double> — pure Catalyst expressions (no UDF), evaluated inside
  * codegen. At 100 TB the brute-force variant is a broadcast of the query
  * vector + one linear scan with TakeOrderedAndProject (no shuffle of the
  * corpus); IVF prunes the scan to matching coarse cells first.
  */
object SimilarityOps {

  /** Dot product of two array<double> columns: the native codegen'd
    * [[graft.functions.VecDot]] expression. Left-to-right accumulation —
    * the same operation order as the HOF fold ([[dotFold]]) and DuckDB's
    * list_dot_product, so oracle results agree to the last ulp. */
  def dot(a: Column, b: Column): Column = graft.functions.GraftFunctions.vecDot(a, b)

  /** Higher-order-function fold variant of [[dot]] — kept as the
    * built-ins-only reference implementation (CodegenFallback, ~20× slower
    * per evaluation; used by specs to cross-check VecDot). */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Nearest-centroid argmin over LITERAL centroids — the shared assignment
    * idiom of [[lloydFit]], [[assignCells]] and [[pqEncode]]:
    * per centroid one codegen'd VecDot scores −2·v·c + |c|² (|v|² is
    * constant inside the argmin and drops), ties break to the LOWER index
    * via the (d, idx) struct ordering. Returns the winning (d, idx) struct;
    * callers project the index ([[nearestCentroid]]) or add |v|² back to
    * `d` for the true squared distance ([[cellDistortion]]). */
  private def nearestCentroidScored(v: Column, centroids: Seq[Seq[Double]],
      idxName: String): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct((lit(-2d) * dot(v, typedlit(c)) + lit(c.map(x => x * x).sum)).as("d"),
        lit(i).as(idxName))
    }
    array_min(array(scored: _*))
  }

  private def nearestCentroid(v: Column, centroids: Seq[Seq[Double]], idxName: String): Column =
    nearestCentroidScored(v, centroids, idxName).getField(idxName)

  /** Exact brute-force top-k by cosine against one query vector.
    * `queryRow` must be a single row (vec_id, embedding); it is broadcast —
    * the corpus is never shuffled. */
  def cosineTopK(corpus: DataFrame, queryRow: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queryRow.select(
      col("vec_id").as("q_id"),
      col("embedding").cast("array<double>").as("q_emb")))
    corpus
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .crossJoin(q)
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine", graft.engine.Semantics.roundz(cosine(col("emb"), col("q_emb")), 6))
      .select(col("vec_id"), col("cosine"))
      .orderBy(desc("cosine"), col("vec_id"))
      .limit(k)
  }

  /** IVF-style probe: restrict the scan to the query's coarse cell before
    * ranking. Here the testdata's `label` column plays the coarse-quantizer
    * assignment (production IVF k-means-trains centroids and assigns at
    * write time, turning the cell into a partition key → partition-pruned
    * scan at 100 TB). */
  def cosineTopKIvf(corpus: DataFrame, queryRow: DataFrame, cellCol: String, k: Int): DataFrame = {
    val q = broadcast(queryRow.select(
      col("vec_id").as("q_id"),
      col("embedding").cast("array<double>").as("q_emb"),
      col(cellCol).as("q_cell")))
    corpus
      .select(col("vec_id"), col(cellCol).as("cell"), col("embedding").cast("array<double>").as("emb"))
      .join(q, col("cell") === col("q_cell")) // cell-pruned candidate set
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine", graft.engine.Semantics.roundz(cosine(col("emb"), col("q_emb")), 6))
      .select(col("vec_id"), col("cosine"))
      .orderBy(desc("cosine"), col("vec_id"))
      .limit(k)
  }

  /** Deterministic Lloyd's k-means over an embedding column — the coarse-
    * quantizer TRAINING step of a real IVF index (q26 demonstrates the probe
    * against a precomputed cell; this produces such cells from raw vectors).
    *
    * Deterministic by construction: initial centroids are the k lowest-id
    * vectors (no sampling), assignment ties break on the lower cluster id.
    * Each iteration is one broadcast of k centroids + one linear scan
    * (assignment = argmin over k codegen'd VecDot distances) + one
    * hash aggregate (posexplode to (cluster, dim, x) → avg) — no
    * driver-side data beyond the k×dim centroid array. Scales as
    * O(iters · n · k · dim) map work with k·dim driver state. It is
    * [[lloydFit]] with one subspace: [[pqTrain]] with m = 1.
    *
    * Returns (assignments: vec_id → cluster, centroids). */
  def kmeans(emb: DataFrame, idCol: String, embCol: String, k: Int, iters: Int): (DataFrame, Seq[Seq[Double]]) = {
    val (out, centroids, _) =
      kmeansFit("kmeans", emb, idCol, embCol, k, iters, stopAtFixedPoint = false)
    (out, centroids)
  }

  /** [[kmeans]] and [[kmeansConverged]] over [[lloydFit]] at m = 1, plus
    * the assignment against the final centroids. The assignment is lazy:
    * it recomputes from source in the caller's single pass, since the
    * training scans are done and the cached vectors released. */
  private def kmeansFit(trainer: String, emb: DataFrame, idCol: String, embCol: String, k: Int,
      maxIters: Int, stopAtFixedPoint: Boolean): (DataFrame, Seq[Seq[Double]], Int) = {
    val (vecs, books, it) = lloydFit(trainer, emb, idCol, col(embCol), m = 1, dim = None, k,
      maxIters, stopAtFixedPoint)
    (vecs.select(col("vec_id"), nearestCentroid(col("v"), books.head, "cluster").as("cluster")),
      books.head, it)
  }

  /** The ONE Lloyd trainer: k-means over each of `m` subspaces of the
    * vectors, behind [[kmeans]] (run exactly `maxIters` steps — oracle-
    * unrollable), [[kmeansConverged]] (stop at the rounded-centroid fixed
    * point; both m = 1, `dim` None: the whole vector is the one subspace)
    * and [[pqTrain]] (m slices of dim/m coordinates). One seeding, one
    * stop rule and one update, so a converged run that stopped after i
    * steps is bit-identical to a fixed-count run with iters = i, and
    * subspace j of a product quantizer is exactly [[kmeans]] over slice j
    * (q90's oracle runs [[graft.queries.OracleSql.kmeansCtes]] per slice).
    *
    * Seeds are the k lowest-id vectors, sliced per subspace; a training
    * set smaller than k seeds fewer centroids. Each step is ONE corpus
    * scan (m argmins of k codegen'd VecDots) and ONE (cluster, dim) hash
    * aggregate, whatever m is: coordinate `dim` takes the cluster of its
    * own subspace, and the driver splits `dim` into (subspace, sdim).
    *
    * Centroid means are ROUNDED (1e-6, −0.0 normalized) before they feed
    * the next assignment: avg() sums floats in shuffle-fetch order, so an
    * unrounded mean is reproducible only at a fixed partitioning — a
    * config change could shift it an ulp and flip a near-tie argmin.
    * The oracle ([[graft.queries.OracleSql.kmeansCtes]]) rounds its CTE
    * means identically, so the cross-engine match holds by construction,
    * not by luck of summation order. An empty cluster keeps its centroid.
    *
    * Vectors are cached for the duration of training: every step re-scans
    * them, and without the cache each job re-reads (and re-decodes) the
    * source parquet — at 100 TB that is `iters` extra full scans.
    * MEMORY_AND_DISK so an overflowing corpus spills instead of OOM.
    * Returns (the (vec_id, v) vectors, m books of centroids, steps run). */
  private def lloydFit(trainer: String, embs: DataFrame, idCol: String, emb: Column,
      m: Int, dim: Option[Int], k: Int, maxIters: Int,
      stopAtFixedPoint: Boolean): (DataFrame, Seq[Seq[Seq[Double]]], Int) = {
    require(k >= 1, s"$trainer: need k >= 1, got k = $k")
    require(maxIters >= 1, s"$trainer: need iters >= 1, got $maxIters")
    val vecs = embs.select(col(idCol).as("vec_id"), emb.cast("array<double>").as("v"))
    graft.engine.Materialize.scoped(vecs) { vecs =>
      val seeds = vecs.orderBy(col("vec_id")).limit(k)
        .select(col("v")).collect().toSeq.map(_.getSeq[Double](0))
      require(seeds.nonEmpty, s"$trainer: empty training input, no vector to seed k = $k centroids")
      val sub = dim.getOrElse(seeds.head.size) / m
      def part(j: Int): Column = if (dim.isEmpty) col("v") else slice(col("v"), j * sub + 1, sub)
      val cl = (0 until m).map(j => col(s"c$j"))
      // Coordinate `dim`'s cluster is its subspace's; past m·sub it is null.
      val cluster = if (m == 1) cl.head else (1 until m).foldLeft(when(col("dim") < sub, cl.head)) {
        (w, j) => w.when(col("dim") < (j + 1) * sub, cl(j))
      }
      var books = (0 until m).map(j => seeds.map(_.slice(j * sub, (j + 1) * sub)))
      var it = 0
      var fixed = false
      while (it < maxIters && !fixed) {
        // TWO selects, deliberately: putting the argmin and the generator in
        // ONE select lets ExtractGenerator hoist the non-generator expression
        // ABOVE the Generate, re-evaluating the k·dim-VecDot argmin once per
        // EXPLODED row (dim× the work — measured 2.1× on q41). The separate
        // projection pins the argmin below the explode, once per vector.
        val byKey = vecs
          .select(books.zipWithIndex.map { case (book, j) =>
            nearestCentroid(part(j), book, "cluster").as(s"c$j")
          } :+ col("v"): _*)
          .select(cl :+ posexplode(col("v")).as(Seq("dim", "x")): _*)
          .groupBy(cluster, col("dim"))
          .agg(graft.engine.Semantics.roundz(avg(col("x")), 6))
          .collect()
          .filterNot(_.isNullAt(0))
          .groupBy(r => (r.getInt(1) / sub, r.getInt(0)))
        // book.indices, not 0 until k: a training set smaller than k seeds
        // fewer centroids, and the update must not index past them
        val next = books.zipWithIndex.map { case (book, j) =>
          book.indices.map { i =>
            byKey.get((j, i))
              .fold(book(i))(rows => rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
          }
        }
        it += 1
        fixed = stopAtFixedPoint && next == books
        books = next
      }
      (vecs, books, it)
    }
  }

  /** [[kmeans]] iterated TO A FIXED POINT instead of a fixed count — the
    * production stopping rule, same relationship to q41's oracle-driven
    * loop as [[powerIterationConvergedComponents]] has to q132's. Because
    * every centroid coordinate is rounded 1e-6 each iteration, "converged"
    * is an EXACT test (the rounded centroid set repeats — Lloyd's descent
    * plus a finite rounded lattice means no tolerance knob is needed and
    * the stop is engine-reproducible), capped at `maxIters`. What the gate
    * buys at 100 TB: a well-separated clustering stops after the passes it
    * needs, and iters == maxIters in the result flags one that never
    * settled. Returns (assignments, centroids, iterations run). */
  def kmeansConverged(emb: DataFrame, idCol: String, embCol: String, k: Int,
      maxIters: Int): (DataFrame, Seq[Seq[Double]], Int) =
    kmeansFit("kmeansConverged", emb, idCol, embCol, k, maxIters, stopAtFixedPoint = true)

  /** Assign each vector to its nearest centroid — the IVF cell-assignment
    * (k-means INFERENCE) step: argmin over k literal centroids of
    * −2·v·c + |c|² (|v|² drops inside the argmin), ties to the lower cell
    * id — exactly [[kmeans]]'s assignment rule, exposed so centroids
    * trained on a SAMPLE can label the full corpus (q95 composes train →
    * assign → probe). Pure map work: k codegen'd VecDots per row, zero
    * shuffle; at write time the cell becomes the partition key the IVF
    * probe ([[cosineTopKIvf]]) prunes on. Returns (vec_id, cell). */
  def assignCells(embs: DataFrame, idCol: String, emb: Column,
      centroids: Seq[Seq[Double]]): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    val v = emb.cast("array<double>")
    embs.select(col(idCol).as("vec_id"),
      nearestCentroid(v, centroids, "cell").as("cell"))
  }

  /** Deterministic random-hyperplane (sign-)LSH planes: `n` unit-free
    * Gaussian vectors of dimension `dim`, fixed seed — every executor and
    * every run derives identical buckets. */
  def lshPlanes(n: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** Sign-LSH bucket id: bit j of the bucket is sign(v · p_j). Nearby
    * vectors (small angle) agree on most hyperplane sides, so they land in
    * the same bucket with high probability — the LSH-bucketed ANN scale
    * path: bucket becomes the shuffle/partition key and candidate
    * generation is bucket×bucket, never corpus×corpus. Each bit is one
    * codegen'd VecDot against a literal plane. No planes is bucket 0 for
    * every vector (the cell-only join). More than 63 are refused:
    * `1L << 64 == 1L` would alias plane 64 onto bit 0, and bit 63 is the
    * sign, so 63 keep every bucket a non-negative long and the DuckDB
    * twin's `1L << j` literal ([[graft.queries.OracleSql.signLshBucketSql]])
    * a positive BIGINT. */
  def signLshBucket(emb: Column, planes: Seq[Seq[Double]]): Column = {
    require(planes.size <= 63,
      s"signLshBucket: ${planes.size} planes, at most 63 fit a non-negative long bucket")
    if (planes.isEmpty) lit(0L)
    else planes.zipWithIndex.map { case (p, j) =>
      when(dot(emb, typedlit(p)) > 0d, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** `numTables` independent fixed-seed plane sets for OR-ed multi-table
    * LSH (table t derives from seed + t). A single table finds a pair at
    * angle θ with probability (1 − θ/π)^planes; OR-ing T independent tables
    * lifts that to 1 − (1 − (1 − θ/π)^planes)^T — the production recall
    * knob when one table's buckets miss true neighbors. Candidate volume
    * grows at most T-fold (before dedup), still density-bounded. */
  def lshTables(numTables: Int, planesPerTable: Int, dim: Int,
      seed: Long = 42L): Seq[Seq[Seq[Double]]] = {
    require(numTables >= 1, "need at least one LSH table")
    (0 until numTables).map(t => lshPlanes(planesPerTable, dim, seed + t))
  }

  /** One (t, b) struct per LSH table for a vector — `explode` it so the
    * (table, bucket) pair becomes an equi-join key: candidates are rows
    * agreeing on ANY table's bucket (the OR), expressed as a plain hash
    * join on the exploded key. Writing the OR as a join condition
    * (`a.b0 = b.b0 OR a.b1 = b.b1`) would veto hash joins entirely and
    * degrade to a nested-loop — the exploded key keeps the shuffle
    * hash-partitioned at any table count. */
  def tableBuckets(v: Column, tables: Seq[Seq[Seq[Double]]]): Column =
    array(tables.zipWithIndex.map { case (p, t) =>
      struct(lit(t).as("t"), signLshBucket(v, p).as("b"))
    }: _*)

  /** The shared per-vector stage of every sign-LSH join
    * ([[graft.operators.DedupOps.embeddingNearDups]], [[knnJoin]],
    * semantic decontamination): one row per (vector, table) —
    * (<prefix>id, cell, <prefix>v, <prefix>nrm, tb) — with the norm
    * computed below the join barrier (per VECTOR, never per pair) and `tb`
    * ready to be the hash-join key. The key's form follows the table
    * count: one table emits its plain long bucket (no explode, and a
    * vector meets a candidate at most once, so the joins skip their
    * dedup); T > 1 tables explode the (t, b) structs of [[tableBuckets]].
    * One definition so a key or norm change can't silently diverge across
    * consumers. */
  def lshCandidateRows(embs: DataFrame, id: String, emb: Column, cellCol: Column,
      tables: Seq[Seq[Seq[Double]]], prefix: String): DataFrame = {
    require(tables.nonEmpty, "need at least one LSH table")
    val v = col(s"${prefix}v")
    embs.select(col(id).as(s"${prefix}id"), cellCol.as("cell"),
        emb.cast("array<double>").as(s"${prefix}v"))
      .withColumn(s"${prefix}nrm", l2norm(v))
      .select(col(s"${prefix}id"), col("cell"), v, col(s"${prefix}nrm"),
        (if (tables.size == 1) signLshBucket(v, tables.head)
         else explode(tableBuckets(v, tables))).as("tb"))
  }

  /** Exact-cosine verifier for candidate pairs whose norms rode up from
    * [[lshCandidateRows]]: one codegen'd VecDot per pair, rounded at 1e-6
    * for cross-engine agreement. */
  def pairCosine(aV: Column, aNrm: Column, bV: Column, bNrm: Column): Column =
    graft.engine.Semantics.roundz(dot(aV, bV) / (aNrm * bNrm), 6)

  /** ANN top-k via sign-LSH buckets: rank only candidates sharing the
    * query's bucket in AT LEAST ONE of `numTables` OR-ed tables
    * ([[lshTables]]). Same output shape as [[cosineTopKIvf]]; recall is
    * tunable by plane count (fewer planes → bigger buckets → higher recall,
    * more compute) and table count (more tables → recall → 1 exponentially
    * while candidates grow at most linearly in T).
    *
    * With T > 1 a corpus row can match through several tables; the cosine
    * is computed per match (one codegen'd VecDot each — map work) and the
    * (vec_id, cosine) projection deduped before ranking, so only scalars
    * ever reach the dedup shuffle — never the vectors. */
  def cosineTopKLsh(corpus: DataFrame, queryRow: DataFrame, k: Int,
      numPlanes: Int = 8, dim: Int = 64, numTables: Int = 1, seed: Long = 42L): DataFrame = {
    val tables = lshTables(numTables, numPlanes, dim, seed)
    val withTb = (df: DataFrame) => df
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .select(col("vec_id"), col("emb"),
        explode(tableBuckets(col("emb"), tables)).as("tb"))
    val q = broadcast(withTb(queryRow)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("tb")))
    val scored = withTb(corpus)
      .join(q, "tb")
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine", graft.engine.Semantics.roundz(cosine(col("emb"), col("q_emb")), 6))
      .select(col("vec_id"), col("cosine"))
    // Single table → each vec_id matches at most once; skip the dedup
    // exchange entirely so the T = 1 plan is unchanged.
    (if (numTables == 1) scored else scored.distinct())
      .orderBy(desc("cosine"), col("vec_id"))
      .limit(k)
  }

  /** Multi-probe sign-LSH ANN top-k: the query probes its OWN bucket plus
    * every Hamming-distance-1 neighbor bucket (one plane-bit flip each) —
    * the bits most likely to be wrong for a true near neighbor are exactly
    * these single flips, so recall approaches an OR of numPlanes+1 tables
    * at the INDEX COST OF ONE (Lv et al.'s multi-probe idea specialized to
    * hyperplane LSH with the full 1-flip ring): the corpus stores a single
    * bucket per vector; only the broadcast QUERY side fans out, to
    * numPlanes+1 probe rows. The probe buckets are pairwise distinct, so a
    * corpus row matches at most one probe — no dedup stage at all, and the
    * join stays a plain hash equi-join on the bucket. Complements
    * [[lshTables]]: multi-table buys recall with T× index state, multi-
    * probe with (p+1)× query fan-out — production composes both. */
  def cosineTopKLshMultiProbe(corpus: DataFrame, queryRow: DataFrame, k: Int,
      numPlanes: Int = 8, dim: Int = 64, seed: Long = 42L): DataFrame = {
    val planes = lshPlanes(numPlanes, dim, seed)
    val withBucket = (df: DataFrame) => df
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("bucket", signLshBucket(col("emb"), planes))
    val flips = lit(0L) +: (0 until numPlanes).map(j => lit(1L << j))
    val q = broadcast(withBucket(queryRow)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        explode(array(flips.map(f => col("bucket").bitwiseXOR(f)): _*)).as("bucket")))
    withBucket(corpus)
      .join(q, "bucket")
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine", graft.engine.Semantics.roundz(cosine(col("emb"), col("q_emb")), 6))
      .select(col("vec_id"), col("cosine"))
      .orderBy(desc("cosine"), col("vec_id"))
      .limit(k)
  }

  /** Johnson–Lindenstrauss random projection: dim → projDim via `projDim`
    * fixed-seed Gaussian planes ([[lshPlanes]]), scaled by 1/√projDim so
    * squared distances are preserved in expectation (the JL estimator).
    * The dimensionality-REDUCTION step upstream of ANN at 100 TB: distance
    * work per pair drops dim/projDim-fold, and the projected vectors are
    * what IVF training / LSH bucketing then consume. Pure map work — one
    * codegen'd [[graft.functions.VecDot]] per output dimension against a
    * literal plane, zero shuffle, and the planes are deterministic so any
    * engine (and the DuckDB oracle) reproduces the projection exactly.
    * Returns (vec_id, p0..p{projDim−1}) — flat double columns, ready to be
    * reassembled with `array()` by consumers that want a vector column. */
  def randomProject(emb: DataFrame, idCol: String, embCol: String,
      projDim: Int, dim: Int, seed: Long = 42L): DataFrame = {
    require(projDim > 0 && dim >= projDim, "need 0 < projDim <= dim")
    val planes = lshPlanes(projDim, dim, seed)
    val scale = 1.0 / math.sqrt(projDim.toDouble)
    val v = col(embCol).cast("array<double>")
    emb.select(col(idCol).as("vec_id") +: planes.zipWithIndex.map { case (p, j) =>
      (dot(v, typedlit(p)) * lit(scale)).as(s"p$j")
    }: _*)
  }

  /** Product-quantization codebooks: `m` subspaces × `k` centroids of
    * dimension `dim/m`, fixed-seed Gaussian — deterministic literals, the
    * same discipline as [[lshPlanes]], so encoding is engine-reproducible
    * and ORACLE-CHECKABLE (production trains them with [[kmeans]] per
    * subspace — q41's spec-covered trainer; the encode/ADC machinery below
    * is identical either way). */
  def pqCodebooks(m: Int, k: Int, dim: Int, seed: Long = 42L): Seq[Seq[Seq[Double]]] = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val rng = new scala.util.Random(seed)
    Seq.fill(m)(Seq.fill(k)(Seq.fill(dim / m)(rng.nextGaussian())))
  }

  /** PQ encode — the compression stage of an IVF-PQ index: each vector
    * becomes `m` small integer codes (the nearest codebook centroid per
    * subspace), shrinking a dim×8-byte vector to m codes — the only way a
    * 100 TB embedding corpus fits an in-memory ANN scan. Returns
    * (vec_id, code_0 .. code_{m-1}).
    *
    * Pure map work, zero shuffle: per subspace the argmin over k centroids
    * evaluates −2·v_j·c + |c|² (the |v_j|² term is constant inside a
    * subspace's argmin and drops), each dot one codegen'd
    * [[graft.functions.VecDot]] against a literal centroid — m×k dots per
    * row, ties on the lower code via the struct ordering. */
  def pqEncode(embs: DataFrame, idCol: String, emb: Column,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val m = codebooks.size
    val sub = codebooks.head.head.size
    val v = emb.cast("array<double>")
    val codeCols = codebooks.zipWithIndex.map { case (book, j) =>
      nearestCentroid(slice(v, j * sub + 1, sub), book, "code")
        .cast("long").as(s"code_$j")
    }
    embs.select(col(idCol).as("vec_id") +: codeCols: _*)
  }

  /** Asymmetric-distance (ADC) lookup tables for one query: table(j)(c) =
    * squared L2 between the query's j-th subvector and codebook centroid c.
    * Computed once driver-side (m×k doubles — the PQ trick: a scan then
    * estimates any vector's distance with m table lookups instead of dim
    * multiplies). Feed to [[pqAdcDistance]]. */
  def pqAdcTables(query: Seq[Double], codebooks: Seq[Seq[Seq[Double]]]): Seq[Seq[Double]] = {
    val sub = codebooks.head.head.size
    codebooks.zipWithIndex.map { case (book, j) =>
      val q = query.slice(j * sub, (j + 1) * sub)
      book.map(c => q.zip(c).foldLeft(0d) { case (acc, (a, b)) => acc + (a - b) * (a - b) })
    }
  }

  /** ADC distance estimate from PQ codes: Σ_j tables(j)(code_j) — m literal-
    * array lookups per row, no vector arithmetic at scan time. */
  def pqAdcDistance(tables: Seq[Seq[Double]], codeCol: Int => Column): Column =
    tables.zipWithIndex.map { case (t, j) =>
      element_at(typedlit(t), (codeCol(j) + lit(1L)).cast("int"))
    }.reduce(_ + _)

  /** Train PQ codebooks with per-subspace Lloyd's k-means — the production
    * path the fixed-seed [[pqCodebooks]] literals stand in for (q81/q82
    * keep literals for oracle-checkability; q90 runs this composition end
    * to end). It is [[lloydFit]] over `m` slices of dim/m coordinates, so
    * book j is exactly [[kmeans]] run on slice j, but all m subspaces
    * train JOINTLY: every iteration is ONE corpus scan + ONE hash
    * aggregate + one k·dim-double collect — the per-iteration job count
    * doesn't grow with m, where m separate trainers would schedule m× the
    * jobs over the same data. Driver state stays k·dim doubles. */
  def pqTrain(embs: DataFrame, idCol: String, emb: Column,
      m: Int, k: Int, dim: Int, iters: Int): Seq[Seq[Seq[Double]]] = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    lloydFit("pqTrain", embs, idCol, emb, m, Some(dim), k, iters, stopAtFixedPoint = false)._2
  }

  /** Squared PQ reconstruction error per vector against the given
    * codebooks: Σ_j min_c ||v_j − c||² — the objective PQ training
    * minimizes. One codegen'd VecDot per (subspace, centroid) plus one per
    * subspace for |v_j|², zero shuffle. Average it to compare codebook
    * quality; PqTrainSpec asserts [[pqTrain]]'s books dominate the random
    * [[pqCodebooks]] literals on this metric. */
  def pqDistortion(embs: DataFrame, idCol: String, emb: Column,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val sub = codebooks.head.head.size
    val v = emb.cast("array<double>")
    val err = codebooks.zipWithIndex.map { case (book, j) =>
      val s = slice(v, j * sub + 1, sub)
      val opts = book.map { c =>
        lit(-2d) * dot(s, typedlit(c)) + lit(c.map(x => x * x).sum)
      }
      dot(s, s) + least(opts: _*)
    }.reduce(_ + _)
    embs.select(col(idCol).as("vec_id"), err.as("sq_err"))
  }

  /** Per-cell centroid distance — the prototypicality score behind
    * embedding-space quality pruning (SemDeDup keeps the member FARTHEST
    * from its cluster centroid; dataset-cartography prunes the farthest):
    * each vector's L2 distance to the mean of its cell. Compose with
    * [[graft.operators.CurationOps.robustOutliers]] over the returned
    * score for a thresholded prune.
    *
    * Plan shape: the centroid is one posexplode + (cell, dim) hash
    * aggregate (the k-means iteration's shape — row volume n·dim, state
    * cells×dim), reassembled into one array row per cell (tiny) and joined
    * back on the CELL key only — the n·dim exploded stream is never
    * joined. The distance is then one codegen'd [[graft.functions.VecDot]]
    * triple per vector: √(v·v − 2·v·c + c·c), the same left-to-right
    * fold DuckDB's list_dot_product evaluates, so engines agree to the
    * last ulp under `roundz`. */
  def centroidDistances(embs: DataFrame, idCol: String, emb: Column,
      cellCol: Column): DataFrame = {
    val v = embs.select(col(idCol).as("vec_id"), cellCol.as("cell"),
      emb.cast("array<double>").as("v"))
    val cent = v.select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim"))
      // Rounded like the k-means centroid update: avg() is summation-order-
      // dependent, and the unrounded mean feeds a distance whose 6-decimal
      // output round could flip on an ulp. Oracle rounds identically.
      .agg(graft.engine.Semantics.roundz(avg(col("x")), 6).as("m"))
      .groupBy(col("cell"))
      // interpreted HOFs are fine here: one row per CELL, not per vector
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        s => s.getField("m")).as("c"))
    v.join(cent, "cell")
      .select(col("vec_id"), col("cell"),
        graft.engine.Semantics.roundz(
          // greatest(0, ·): cancellation can leave −1e-16 for a vector at
          // its centroid, and sqrt of that is NaN (Spark) / error (DuckDB)
          sqrt(greatest(lit(0d),
            dot(col("v"), col("v")) - lit(2d) * dot(col("v"), col("c"))
              + dot(col("c"), col("c")))), 6).as("centroid_dist"))
  }

  /** Batch k-NN join: top-k neighbors for EVERY query row (window ranking
    * per query). Candidates share the coarse cell AND agree on at least
    * ONE table's sign-LSH bucket ([[lshTables]]): the cell is the IVF-style
    * quantizer / partition key, and the hyperplane buckets compose into
    * the join key on top of it — a cell-only corpus×corpus join is
    * quadratic in cell size at scale, while the composed key keeps the
    * candidate volume density-bounded (the same generator
    * [[graft.operators.DedupOps.embeddingNearDups]] uses). Per-table
    * recall (1 − θ/π)^planes becomes 1 − (1 − (1 − θ/π)^planes)^T. A plane
    * set `p` is the one-table list `Seq(p)`; the exact cell-only join is
    * the zero-plane table `lshTables(1, 0, dim)`, which puts every vector
    * in bucket 0.
    *
    * Plan shape ([[lshCandidateRows]]): one hash join on (cell, tb), cosine
    * per match (one codegen'd VecDot), norms per VECTOR below the join's
    * shuffle barrier. With T > 1 a pair can match through several tables,
    * so the scalar (q_id, n_id, cosine) projection is deduped BEFORE
    * ranking — vectors never pass the dedup shuffle, and candidate volume
    * is ≤ T × the single-table join. One table needs no dedup. An equal
    * id on both sides is the same vector (queries ⊆ corpus) and is never
    * its own neighbor. */
  def knnJoin(corpus: DataFrame, queries: DataFrame, cellCol: String, k: Int,
      tables: Seq[Seq[Seq[Double]]]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = lshCandidateRows(corpus, "vec_id", col("embedding"), col(cellCol), tables, "n_")
    val qs = lshCandidateRows(queries, "vec_id", col("embedding"), col(cellCol), tables, "q_")
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cosine"), col("n_id"))
    val scored = qs.join(c, Seq("cell", "tb"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cosine",
        pairCosine(col("n_v"), col("n_nrm"), col("q_v"), col("q_nrm")))
      .select(col("q_id"), col("n_id"), col("cosine"))
    (if (tables.size == 1) scored else scored.distinct()) // each pair ranks once
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("cosine"), col("rank").cast("long").as("rank"))
  }

  /** Recall-targeting LSH auto-tuner: q112 MEASURES one configuration's
    * recall; this operator CHOOSES one. For each candidate operating point
    * (T tables, p planes) it measures, on a sampled query batch, the mean
    * recall@k of the OR-ed multi-table k-NN join ([[knnJoin]])
    * against the exact same-cell neighbor list, alongside the
    * DISTINCT candidate-pair volume (the cost an ANN deployment actually
    * pays — each pair is one cosine evaluation), and flags the CHEAPEST
    * configuration whose measured recall meets `recallTarget` (ties to
    * fewer tables, then fewer planes). The (1−θ/π)^p · table-OR algebra
    * predicts the recall curve; this measures it on the corpus — tuning
    * by measurement, not by formula.
    *
    * Plan shape: one exact truth join plus, per config, one bounded
    * bucket join and one id-distinct — all unioned into a single plan
    * (configs.size 1-row aggregates), no driver-side loop. At 100 TB the
    * batch is a deterministic query sample and every join is the audited
    * density-bounded generator; sweep cost = Σ_T (T × single-table), paid
    * once before an index configuration ships.
    *
    * Output: (n_tables, n_planes, mean_recall, candidate_pairs,
    * meets_target, chosen), one row per config. */
  def lshAutoTune(corpus: DataFrame, queries: DataFrame, cellCol: String,
      k: Int, configs: Seq[(Int, Int)], dim: Int, recallTarget: Double,
      seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(configs.nonEmpty, "need at least one (tables, planes) config")
    val truth = knnJoin(corpus, queries, cellCol, k, lshTables(1, 0, dim))
    // SINGLE-PASS sweep (r15, guide §2.4): [[lshTables]] is PREFIX-CLOSED
    // in the table index (table t is lshPlanes(p, dim, seed + t) regardless
    // of how many tables a config stacks), so config (T, p)'s candidate set
    // is exactly the pairs colliding in some table t < T at depth p. One
    // exploded (p, t, bucket) row set per side — max-tables-per-depth rows
    // per vector — therefore serves EVERY config through ONE join: per
    // joined pair keep min colliding t per depth, then fan the pair out to
    // the configs it qualifies for (an array_remove'd literal array — pure
    // codegen). The per-arm form this replaces built two corpus joins PER
    // CONFIG (one for the ANN list, one for the candidate count) plus a
    // truth re-read per arm: 156 Exchanges / 70 single-task AQE jobs at 6
    // configs (plans/r15/q117_lsh_autotune_before.txt) for work the data
    // supports in one exchange set. Results are bit-identical: same
    // candidate sets, same pairCosine doubles (computed per match, max()
    // over bitwise-equal copies), same rank ordering, same rounded
    // mean-recall arithmetic.
    val depthMaxT: Seq[(Int, Int)] = configs.groupBy(_._2).toSeq
      .map { case (p, cs) => (p, cs.map(_._1).max) }.sortBy(_._1)
    def rows(df: DataFrame, prefix: String): DataFrame = {
      val v = col(s"${prefix}v")
      val buckets = array(depthMaxT.flatMap { case (p, maxT) =>
        lshTables(maxT, p, dim, seed).zipWithIndex.map { case (planes, t) =>
          struct(lit(p).as("p"), lit(t).as("t"), signLshBucket(v, planes).as("b"))
        }
      }: _*)
      df.select(col("vec_id").as(s"${prefix}id"), col(cellCol).as("cell"),
          col("embedding").cast("array<double>").as(s"${prefix}v"))
        .withColumn(s"${prefix}nrm", l2norm(v))
        .select(col(s"${prefix}id"), col("cell"), v, col(s"${prefix}nrm"),
          explode(buckets).as("ptb"))
    }
    // Per-pair reduction: cosine is computed per MATCH (the knnJoin
    // discipline — vectors never cross the dedup shuffle) and max() folds
    // the bitwise-identical per-table copies; min(t) is the earliest table
    // the pair collides in, which decides config membership.
    val pairs = rows(queries, "q_").join(rows(corpus, "n_"), Seq("cell", "ptb"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), col("ptb.p").as("p"), col("ptb.t").as("t"),
        pairCosine(col("n_v"), col("n_nrm"), col("q_v"), col("q_nrm")).as("cosine"))
      .groupBy(col("q_id"), col("n_id"), col("p"))
      .agg(min(col("t")).as("__min_t"), max(col("cosine")).as("cosine"))
    val cfgArms = configs.zipWithIndex.map { case ((t, p), i) =>
      when(col("p") === lit(p) && col("__min_t") < lit(t), lit(i)).otherwise(lit(-1))
    }
    val byCfg = pairs
      .select(col("q_id"), col("n_id"), col("cosine"),
        explode(array_remove(array(cfgArms: _*), -1)).as("cfg"))
    val candCounts = byCfg.groupBy(col("cfg"))
      .agg(count(lit(1)).as("__cand"))
    val wr = Window.partitionBy(col("cfg"), col("q_id"))
      .orderBy(desc("cosine"), col("n_id"))
    val ann = byCfg.withColumn("__rk", row_number().over(wr))
      .filter(col("__rk") <= k)
      .select(col("cfg"), col("q_id"), col("n_id"))
    val spark = corpus.sparkSession
    import spark.implicits._
    val cfgDim = configs.zipWithIndex
      .map { case ((t, p), i) => (i, t, p) }
      .toDF("cfg", "n_tables", "n_planes")
    // recallAtK inlined per config: truth ids are distinct'd once; the ann
    // lists are rank-unique by construction, so the left join cannot fan.
    val rec = truth.select(col("q_id"), col("n_id")).distinct()
      .crossJoin(broadcast(cfgDim.select(col("cfg"))))
      .join(ann.withColumn("__hit", lit(1L)), Seq("cfg", "q_id", "n_id"), "left")
      .groupBy(col("cfg"), col("q_id"))
      .agg(count(lit(1)).as("n_truth"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hit"))
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_truth").cast("double"))
      .groupBy(col("cfg"))
      .agg(graft.engine.Semantics.roundz(avg(col("recall")), 6).as("mean_recall"))
    val per = cfgDim
      .join(rec, Seq("cfg"), "left")
      .join(candCounts, Seq("cfg"), "left")
      .select(col("n_tables"), col("n_planes"), col("mean_recall"),
        coalesce(col("__cand"), lit(0L)).as("candidate_pairs"))
    // Tiny frame (one row per config): the single-partition window is fine.
    val w = Window.orderBy(desc("meets_target"), col("candidate_pairs"),
      col("n_tables"), col("n_planes"))
    per
      .withColumn("meets_target", col("mean_recall") >= lit(recallTarget))
      .withColumn("chosen", col("meets_target") && row_number().over(w) === 1)
  }

  /** Driver-side distillation of [[lshAutoTune]] into a deployable
    * configuration: run the sweep on a (sampled) query batch and return
    * the CHOSEN (tables, planes) — the cheapest operating point whose
    * measured mean recall@k meets `recallTarget`. This is the AUTO-SCALING
    * instrument for sign-LSH defaults: a fixed plane count silently
    * changes meaning as the corpus grows (BASELINE's n²/(cells·2^p) row:
    * fixed 2-plane buckets grew candidates ~100× on a 10× corpus), while
    * a tuner re-run on each corpus keeps the candidate bill pinned to the
    * recall contract — the round-9 sweep certified (8,2) on the sparse
    * corpus and HALF that index cost, (4,2), on the denser one.
    *
    * The collect is bounded by construction: ≤ 1 row (the chosen config)
    * of two ints — the same driver-state class as k-means centroids.
    * Refuses loudly when NO swept config meets the target: silently
    * shipping a below-target index is the one thing a recall-targeting
    * tuner must never do (widen `configs` or lower the target instead). */
  def tunedLshConfig(corpus: DataFrame, queries: DataFrame, cellCol: String,
      k: Int, configs: Seq[(Int, Int)], dim: Int, recallTarget: Double,
      seed: Long = 42L): (Int, Int) = {
    val chosen = lshAutoTune(corpus, queries, cellCol, k, configs, dim,
        recallTarget, seed)
      .filter(col("chosen"))
      .select(col("n_tables"), col("n_planes"))
      .collect()
    require(chosen.nonEmpty,
      s"tunedLshConfig: no swept config $configs reached mean recall@$k >= " +
        s"$recallTarget on this corpus — widen the sweep (more tables / fewer " +
        "planes) or lower the target; refusing to silently ship a " +
        "below-target index configuration")
    (chosen.head.getInt(0), chosen.head.getInt(1))
  }

  /** PAIR-geometry auto-tuner for LSH near-dup SELF-joins — the
    * [[lshAutoTune]] instrument re-targeted at the quantity that actually
    * breaks at scale there. A kNN sweep prices a config by its
    * QUERY-side candidate bill; a near-dup self-join's bill is the bucket
    * PAIR MASS Σ C(n_g, 2) over the whole corpus — the corpus-quadratic
    * floor [[graft.operators.DedupOps.bucketPairMassGuard]] measured at
    * 100× per 10× step for any FIXED geometry (SURVEY §6.2). This sweep
    * scores each (tables, planes) config by:
    *
    *  - `pair_recall` — the fraction of UNAMBIGUOUS duplicate pairs
    *    (exact cosine ≥ `recallBar` within a cell, measured on the
    *    deterministic `vec_id < sampleN` sample — the q141 sample
    *    discipline) that share a bucket in ≥1 of the config's tables.
    *    Closed-form per pair (an OR of bucket-equality expressions over
    *    the sampled pairs), no join. An empty truth sample yields a
    *    vacuous 1.0 (every config meets it; the mass ordering then
    *    decides alone). `recallBar` is deliberately HIGHER than the
    *    downstream verify threshold: pairs barely above the keep
    *    threshold sit near 90° where every sign-LSH plane is a coin
    *    flip, so contracting on them forces wide-bucket (low-plane)
    *    geometry whose pair mass grows quadratically — the exact floor
    *    this tuner exists to remove. The contract covers the pairs a
    *    dedup pass must not lose (true duplicates); marginal pairs are
    *    best-effort, as in any banded-LSH production pipeline.
    *  - `pair_mass` — the exact pre-aggregation size of the self-join the
    *    config would run: Σ C(n, 2) over its (cell, table, bucket) groups,
    *    one count aggregate per config over the corpus. No join is ever
    *    fanned out to measure it.
    *
    * The chosen row is the CHEAPEST-BY-MASS config meeting the recall
    * target (ties to the earlier `cfg` index — tables-then-planes sweep
    * order). Both figures are integer-exact or single-division doubles, so
    * the choice is bit-reproducible in any engine — which is what lets
    * q61/q110 put the whole sweep in their DuckDB hash oracle
    * ([[graft.queries.OracleSql.pairLshSweepCtes]]) instead of weakening
    * to rows-only. As the corpus densifies, the sweep walks the geometry
    * toward more planes/tables, keeping the near-dup bill pinned to the
    * recall contract — the auto-scaling answer to the fixed-2-plane floor
    * the r14 bench measured at 504.3 M pairs (sf10). */
  def pairLshAutoTune(embs: DataFrame, id: String, emb: Column, cellCol: Column,
      recallBar: Double, configs: Seq[(Int, Int)], dim: Int,
      recallTarget: Double, sampleN: Long, seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(configs.nonEmpty, "need at least one config to sweep")
    val e = embs.select(col(id).as("vec_id"), cellCol.as("cell"),
      emb.cast("array<double>").as("v"))
    val smp = e.filter(col("vec_id") < sampleN)
    val truth = smp.toDF("a_id", "cell", "a_v")
      .join(smp.toDF("b_id", "cell", "b_v"), "cell")
      .filter(col("a_id") < col("b_id"))
      .filter(graft.engine.Semantics.roundz(
        dot(col("a_v"), col("b_v")) / (l2norm(col("a_v")) * l2norm(col("b_v"))),
        6) >= recallBar)
      .select(col("a_v"), col("b_v"))
    val per = configs.zipWithIndex.map { case ((t, p), i) =>
      val tables = lshTables(t, p, dim, seed)
      val hit = tables.map(pl =>
          signLshBucket(col("a_v"), pl) === signLshBucket(col("b_v"), pl))
        .reduce(_ || _)
      // avg of 0/1 doubles: integer partial sums + one division — exact
      // and order-independent in every engine, no rounding needed.
      val rec = truth.agg(coalesce(
        avg(when(hit, 1.0).otherwise(0.0)), lit(1.0)).as("pair_recall"))
      val mass = DedupOps.pairMass(
        e.select(col("cell"), explode(tableBuckets(col("v"), tables)).as("tb")),
        Seq("cell", "tb")).toDF("pair_mass")
      rec.crossJoin(mass) // two 1-row aggregates
        .select(lit(i).as("cfg"), lit(t).as("n_tables"), lit(p).as("n_planes"),
          col("pair_recall"), col("pair_mass"))
    }.reduce(_ union _)
    // Tiny frame (one row per config): the single-partition window is fine.
    val w = Window.orderBy(desc("meets_target"), col("pair_mass"), col("cfg"))
    per
      .withColumn("meets_target", col("pair_recall") >= lit(recallTarget))
      .withColumn("chosen", col("meets_target") && row_number().over(w) === 1)
  }

  /** OCCUPANCY-PINNED sign-LSH depth — the semantic family's production
    * geometry rule: the shallowest plane count p ∈ [pMin, pMax] with
    * n ≤ nCells · targetOccupancy · 2^p, i.e. expected bucket occupancy at
    * most `targetOccupancy` rows. With occupancy pinned, the bucket
    * self-join's pair mass is Θ(n · occupancy · tables) — LINEAR in the
    * corpus at every scale, the embedding-space twin of the lexical
    * quantile cap (both pin a RELATIVE quantity; a fixed plane count, like
    * a fixed df cap, silently turns quadratic as the corpus grows — the
    * §6.2 floor). Integer arithmetic only (compare n against shifted
    * products), so the data-dependent choice replays bit-identically in
    * any engine — q61/q110 put the whole depth ladder in their hash
    * oracle. Recall at wide angles declines with depth and must be
    * MEASURED ([[pairLshAutoTune]]); pairs of identical vectors share
    * every bucket at every depth, so exact-duplicate recall is 1.0 by
    * construction. Above the pMax clamp the mass is quadratic again —
    * keep [[graft.operators.DedupOps.bucketPairMassGuard]] downstream as
    * the priced backstop. */
  def occupancyLshDepth(n: Long, nCells: Long, targetOccupancy: Long,
      pMin: Int = 2, pMax: Int = 12): Int = {
    require(nCells >= 1 && targetOccupancy >= 1 && pMin >= 1 && pMax >= pMin,
      s"occupancyLshDepth: bad arguments ($n, $nCells, $targetOccupancy, $pMin, $pMax)")
    (pMin to pMax).find(p => n <= nCells * targetOccupancy * (1L << p))
      .getOrElse(pMax)
  }

  /** Hard-negative mining for retriever/embedding training: from scored
    * k-NN candidates ([[knnJoin]] output), drop every neighbor that
    * shares a duplicate CLUSTER with its query
    * ([[GraphOps.connectedComponents]] over the near-dup pair graph — those
    * are positives/self-copies, not negatives), then keep the top
    * `k` most-similar survivors per query: the "close but known-different"
    * examples contrastive training wants. A pipeline that mines negatives
    * WITHOUT the cluster exclusion trains on false negatives — the
    * composition is the point.
    *
    * Plan shape: two id-only left joins of the (already bounded) candidate
    * stream against the (node, comp) table — embeddings never re-enter —
    * and one per-query window that reuses the candidates' q_id hash
    * partitioning. Vectors with no near-dup cluster have NULL comp: never
    * co-members, always eligible. Output: (q_id, n_id, cosine, neg_rank). */
  def hardNegatives(knn: DataFrame, components: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cq = components.select(col("node").as("q_id"), col("comp").as("q_comp"))
    val cn = components.select(col("node").as("n_id"), col("comp").as("n_comp"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cosine"), col("n_id"))
    knn.join(cq, Seq("q_id"), "left").join(cn, Seq("n_id"), "left")
      .filter(col("q_comp").isNull || col("n_comp").isNull ||
        col("q_comp") =!= col("n_comp"))
      .withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= k)
      .select(col("q_id"), col("n_id"), col("cosine"),
        col("neg_rank").cast("long").as("neg_rank"))
  }

  /** ANN recall audit: per-query recall@k of an approximate neighbor list
    * against the exact one — the quality report an ANN deployment ships
    * BEFORE its bucket/table/probe configuration is trusted ("measure,
    * don't guess": the (1−θ/π)^p algebra predicts recall, this measures
    * it). Both inputs are (q_id, n_id, …) neighbor lists ([[knnJoin]] with
    * and without planes, multi-probe, PQ/ADC — anything ranked); output is
    * one row per query: truth size, hits, recall. The join ships ids only
    * — at 100 TB the audit costs two top-k lists and an id equi-join,
    * run on a sampled query batch. */
  def recallAtK(truth: DataFrame, approx: DataFrame): DataFrame =
    // distinct() both id projections: a duplicate row in either input would
    // fan out the join and inflate n_truth and n_hit — silently corrupting
    // the recall figure this audit exists to certify.
    truth.select(col("q_id"), col("n_id")).distinct()
      .join(approx.select(col("q_id"), col("n_id")).distinct()
          .withColumn("__hit", lit(1L)),
        Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_truth"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hit"))
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_truth").cast("double"))

  /** Per-dimension (min, max) calibration for scalar quantization — the
    * training pass of an SQ8 index (FAISS `IndexScalarQuantizer` shape):
    * one posexplode + one (dim)-keyed aggregate, state = `dim` rows. At
    * 100 TB the same pass runs on a deterministic sample; the code range
    * only needs approximate coverage (out-of-range values clamp). Returns
    * (d, mn, mx) with d in 0..dim−1. */
  def sq8Stats(embs: DataFrame, emb: Column): DataFrame =
    embs.select(posexplode(emb.cast("array<double>")).as(Seq("d", "v")))
      .groupBy(col("d"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))

  /** SQ8 encode + asymmetric-distance top-k: quantize every vector to one
    * byte per dimension against the [[sq8Stats]] calibration —
    * code = ⌊(v−mn)·255/(mx−mn) + ½⌋, a 4× (float) / 8× (double) memory
    * cut with ~0.2% full-range error — then rank the corpus against a
    * LITERAL query by the squared L2 distance between the query and each
    * vector's RECONSTRUCTION (mn + code·(mx−mn)/255): the asymmetric
    * estimate (query stays exact) that makes SQ competitive with PQ at
    * far simpler training. Between [[pqEncode]] (coarser, m codes) and raw
    * vectors, SQ8 is the middle rung of the compression ladder.
    *
    * Plan shape: the calibration is a `dim`-row broadcast dim table; the
    * scan explodes each vector once, joins the broadcast on the dimension
    * key (map-side), and folds one (vec_id)-keyed aggregate —
    * TakeOrderedAndProject takes the k best. Float-op order is pinned
    * left-to-right per dimension so the oracle reproduces every code
    * bit-for-bit; only the final sum crosses partitions (rounded 1e-6).
    * Output: (vec_id, adist) — ascending reconstructed distance, ties on
    * vec_id. */
  def sq8TopK(embs: DataFrame, idCol: String, emb: Column,
      query: Seq[Double], k: Int): DataFrame = {
    val stats = broadcast(sq8Stats(embs, emb))
    val q = typedlit(query)
    val scale = col("mx") - col("mn")
    // Degenerate dimension (mx == mn): every value reconstructs to mn —
    // code 0 with zero scale, no division by zero in either engine.
    val code = when(scale === 0d, 0d)
      .otherwise(floor((col("v") - col("mn")) * 255d / scale + 0.5d))
    val recon = col("mn") + code * scale / 255d
    val qd = element_at(q, (col("d") + 1).cast("int"))
    embs.select(col(idCol).as("vec_id"),
        posexplode(emb.cast("array<double>")).as(Seq("d", "v")))
      .join(stats, "d")
      .withColumn("__sq", (recon - qd) * (recon - qd))
      .groupBy(col("vec_id"))
      .agg(graft.engine.Semantics.roundz(sum(col("__sq")), 6).as("adist"))
      .orderBy(col("adist"), col("vec_id"))
      .limit(k)
  }

  /** Top principal component by FIXED-ITERATION power iteration — the
    * dimensionality-reduction trainer of the embedding family (whiten
    * before PQ, project before IVF), with the same exact-oracle
    * discipline as [[kmeans]]: deterministic seed (e₀), each iteration
    * one aggregate pass (u = Σ x'·(x'·v)/n over mean-centered vectors,
    * per-dim sums ROUNDED 1e-6 — the only order-dependent float step),
    * then a normalization whose arithmetic is exactly reproducible: the
    * norm is Σu² accumulated left-to-right (the [[graft.functions.VecDot]]
    * / list_dot_product order both engines share), sqrt and divide are
    * IEEE-exactly-rounded, and the quotient re-rounds 1e-6 with Spark's
    * HALF_UP semantics. Driver state = the (μ, v) pair — 2·dim doubles;
    * the corpus is touched once per iteration plus one stats pass.
    * Degenerate input (u = 0) yields the zero vector on both engines
    * rather than NaN. Returns (rounded mean vector, rounded component). */
  def powerIterationTop(emb: DataFrame, embCol: Column, dim: Int,
      iters: Int): (Seq[Double], Seq[Double]) = {
    val (mu, comps) = powerIterationComponents(emb, embCol, dim, iters, k = 1)
    (mu, comps.head)
  }

  /** k leading principal components by power iteration with DEFLATION —
    * component c seeds at axis e_c and, each iteration, subtracts its
    * projection onto every already-extracted component (u ← u − (u·vⱼ)vⱼ
    * in extraction order) before normalizing, the classic orthogonal
    * iteration. Same exact-oracle arithmetic as the single-component
    * form; the deflation adds only exactly-rounded dot/multiply/subtract
    * steps, so the oracle mirrors it term for term. Returns (rounded
    * mean, components in extraction order). */
  def powerIterationComponents(emb: DataFrame, embCol: Column, dim: Int,
      iters: Int, k: Int): (Seq[Double], Seq[Seq[Double]]) = {
    val (mu, comps, _) = powerFit(emb, embCol, dim, iters, k, tol = None)
    (mu, comps)
  }

  /** The ONE fit body behind [[powerIterationComponents]] (tol = None →
    * exactly `maxIters` steps per component, the oracle-unrollable form)
    * and [[powerIterationConvergedComponents]] (Some(ε) → stop on
    * movement < ε) — preamble AND loop shared, so a storage-level or
    * rounding change cannot drift between the siblings and break their
    * spec-asserted bit-identity. Per-dim stats run as ONE wide no-shuffle
    * aggregate (dim sum columns with map-side partials) instead of
    * posexplode + groupBy(dim): the values are the same rounded per-dim
    * sums, but the explode form pays an exchange and an extra stage PER
    * JOB — and these trainers are scheduler-floor-bound at test scale
    * (measured: the 2-component 4-iteration fit dropped ~40% wall-clock
    * from this change alone). */
  private def powerFit(emb: DataFrame, embCol: Column, dim: Int, maxIters: Int,
      k: Int, tol: Option[Double]): (Seq[Double], Seq[Seq[Double]], Seq[Int]) = {
    require(dim >= 1 && maxIters >= 1 && k >= 1 && k <= dim,
      s"need dim, maxIters >= 1 and 1 <= k <= dim; got $dim, $maxIters, $k")
    graft.engine.Materialize.scoped(emb.select(embCol.cast("array<double>").as("v"))) { vecs =>
      val n = vecs.count().toDouble
      require(n > 0, "cannot fit a principal component on an empty input")
      val muAggs = (0 until dim).map(i =>
        graft.engine.Semantics.roundz(avg(element_at(col("v"), i + 1)), 6).as(s"m$i"))
      val muRow = vecs.agg(muAggs.head, muAggs.tail: _*).head()
      val mu = Array.tabulate(dim)(muRow.getDouble)
      val comps = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      val iters = scala.collection.mutable.ArrayBuffer.empty[Int]
      for (c <- 0 until k) {
        val (w, m) = iterateComponent(vecs, mu, dim, n, comps.toSeq, c, maxIters, tol)
        comps += w
        iters += m
      }
      (mu.toSeq, comps.map(_.toSeq).toSeq, iters.toSeq)
    }
  }

  /** One component's power-iteration loop, shared by the fixed-count
    * ([[powerIterationComponents]], the oracle-driven form) and the
    * convergence-gated ([[powerIterationConvergedComponents]], the
    * production form) trainers — one body, so the two CANNOT drift: a
    * converged run that stopped after m iterations is BIT-IDENTICAL to a
    * fixed-count run with iters = m (spec-asserted). Returns (component,
    * iterations actually run). `tol` = None iterates exactly `maxIters`
    * times; Some(ε) stops once ‖v_t − v_{t−1}‖ < ε (after at least one
    * iteration, so the axis seed never leaks out as a "component"). */
  private def iterateComponent(vecs: DataFrame, mu: Array[Double], dim: Int,
      n: Double, priorComps: Seq[Array[Double]], c: Int, maxIters: Int,
      tol: Option[Double]): (Array[Double], Int) = {
    def round6(x: Double): Double = {
      val r = java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      if (r == 0.0) 0.0 else r
    }
    var w = Array.tabulate(dim)(i => if (i == c) 1.0 else 0.0)
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      val prev = w
      val centered = zip_with(col("v"), typedlit(mu.toSeq), (a, b) => a - b)
      val uAggs = (0 until dim).map(i =>
        graft.engine.Semantics.roundz(
          sum(element_at(col("c"), i + 1) * col("s")) / lit(n), 6).as(s"u$i"))
      val uRow = vecs
        .select(centered.as("c"), dot(centered, typedlit(w.toSeq)).as("s"))
        .agg(uAggs.head, uAggs.tail: _*).head()
      var u = Array.tabulate(dim)(uRow.getDouble)
      // Deflate against prior components in extraction order; each dot
      // accumulates left-to-right (the list_dot_product order), each
      // element update is one multiply + one subtract — all
      // exactly-rounded IEEE ops the oracle reproduces literally.
      for (p <- priorComps) {
        val d = u.zip(p).foldLeft(0.0) { case (acc, (ui, pi)) => acc + ui * pi }
        u = u.zip(p).map { case (ui, pi) => ui - d * pi }
      }
      // Left-to-right Σu² — the same accumulation order as the SQL side's
      // list_dot_product(ul, ul), so the norm (and every loading) is
      // bit-identical across engines.
      val norm = math.sqrt(u.foldLeft(0.0)((acc, x) => acc + x * x))
      w = if (norm == 0.0) Array.fill(dim)(0.0) else u.map(x => round6(x / norm))
      it += 1
      converged = tol.exists { t =>
        math.sqrt(w.zip(prev).foldLeft(0.0) { case (acc, (a, b)) =>
          acc + (a - b) * (a - b)
        }) < t
      }
    }
    (w, it)
  }

  /** [[powerIterationComponents]] iterated TO TOLERANCE instead of a fixed
    * count — the production trainer (q132/q133's fixed-count loops exist
    * to stay oracle-unrollable, the same relationship q109 has to q125):
    * each component stops once ‖v_t − v_{t−1}‖ < `tol`, capped at
    * `maxIters`. Sign flips count as movement (a component oscillating in
    * sign under a near-degenerate spectrum runs to the cap rather than
    * "converging" to either sign — the honest outcome). Per-iteration
    * work is identical to the fixed-count form (shared body); what the
    * gate buys at 100 TB is not doing corpus passes a well-separated
    * spectrum doesn't need, and not UNDER-iterating a hard one. Returns
    * (rounded mean, components, iterations each component actually
    * ran — an entry equal to `maxIters` flags non-convergence). */
  def powerIterationConvergedComponents(emb: DataFrame, embCol: Column, dim: Int,
      tol: Double, maxIters: Int, k: Int): (Seq[Double], Seq[Seq[Double]], Seq[Int]) = {
    require(tol > 0, s"need tol > 0, got $tol")
    powerFit(emb, embCol, dim, maxIters, k, Some(tol))
  }

  /** Persisted ANN serving index — the cross-run artifact that closes the
    * train/serve split (the [[graft.operators.DedupOps.BloomIndex]]
    * discipline applied to similarity): the IVF coarse centroids (trained
    * once by [[kmeans]]/[[kmeansConverged]] over the corpus) plus the
    * sign-LSH geometry as (tables, planesPerTable, seed) — the plane
    * MATRICES are derived, not stored, because [[lshPlanes]] is a
    * deterministic function of (count, dim, seed); the artifact is
    * k·dim doubles + four ints no matter the corpus size. A serving job
    * [[readAnnIndex]]s it and runs [[serveAnn]] with zero training work. */
  final case class AnnIndex(dim: Int, tables: Int, planesPerTable: Int,
      seed: Long, centroids: Seq[Seq[Double]]) {
    require(dim > 0, s"dim must be positive, got $dim")
    require(tables > 0 && planesPerTable > 0,
      s"LSH geometry must be positive, got ($tables, $planesPerTable)")
    require(centroids.nonEmpty, "need at least one centroid")
    require(centroids.forall(_.size == dim),
      s"every centroid must have dim=$dim")
    /** The derived per-table plane matrices the serving join keys on. */
    def planes: Seq[Seq[Seq[Double]]] = lshTables(tables, planesPerTable, dim, seed)
  }

  /** Persist an [[AnnIndex]]: a 1-row meta parquet + a (cid, vec) centroid
    * parquet under `path`. */
  def writeAnnIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      idx: AnnIndex): Unit = {
    import spark.implicits._
    Seq((idx.dim, idx.tables, idx.planesPerTable, idx.seed))
      .toDF("dim", "tables", "planes_per_table", "seed")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    idx.centroids.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cid", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Reload a persisted [[AnnIndex]]; refuses loudly on malformed artifacts
    * (wrong meta row count, gapped/duplicated centroid ids) rather than
    * serving nearest-neighbor results from a corrupt index. */
  def readAnnIndex(spark: org.apache.spark.sql.SparkSession, path: String): AnnIndex = {
    val m = spark.read.parquet(s"$path/meta")
      .select(col("dim"), col("tables"), col("planes_per_table"), col("seed")).collect()
    require(m.length == 1,
      s"ann index meta at $path must hold exactly 1 row, found ${m.length}")
    val cents = spark.read.parquet(s"$path/centroids")
      .select(col("cid"), col("vec")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toIndexedSeq).sortBy(_._1)
    require(cents.map(_._1).toSeq == cents.indices.toSeq,
      s"ann index centroids at $path must be ids 0..${cents.length - 1} with no gaps")
    AnnIndex(m(0).getInt(0), m(0).getInt(1), m(0).getInt(2), m(0).getLong(3),
      cents.map(_._2).toSeq)
  }

  /** Serve a k-NN join under a persisted [[AnnIndex]]: assign both sides
    * to the index's IVF cells (the centroids are plan literals inside
    * [[nearestCentroid]] — a narrow map in the same scan, no join, nothing
    * corpus-sized ever moves) and run the OR-ed multi-table join under
    * the index's derived LSH geometry. The serving job carries NO
    * training state — exactly what a 1000-executor query fleet loads at
    * startup. `corpus`/`queries` need (idCol, emb); queries share the
    * corpus's id space, so an equal id is a self-pair and is excluded. */
  def serveAnn(corpus: DataFrame, queries: DataFrame, idCol: String,
      emb: Column, idx: AnnIndex, k: Int): DataFrame = {
    def withCell(df: DataFrame) = {
      val v = emb.cast("array<double>")
      df.select(col(idCol).as("vec_id"), v.as("embedding"),
        nearestCentroid(v, idx.centroids, "cell").as("cell"))
    }
    knnJoin(withCell(corpus), withCell(queries), "cell", k, idx.planes)
  }

  /** Train the COMPLETE tuned serving artifact in one call — the round-10
    * verdict finding closed as API: q141 demonstrated the data-dependent
    * (tables, planes) choice inside an oracle hash, but re-priced the full
    * [[lshAutoTune]] sweep on every execution (4.5 s steady, the surface's
    * 2nd-most-expensive query). This runs the sweep ONCE, at TRAIN time:
    * Lloyd-train the IVF coarse centroids over the corpus, assign corpus +
    * query batch to those cells, run [[tunedLshConfig]]'s recall-targeted
    * sweep under them, and return an [[AnnIndex]] carrying the tuner's
    * chosen geometry. [[writeAnnIndex]] persists it; a serving fleet
    * [[readAnnIndex]]s + [[serveAnn]]s and never pays the sweep again —
    * serve-time cost is the k-NN join only (the split is measured by the
    * q141_serve_from_artifact rows in BASELINE.md and
    * `SCALE_AUDIT_FINAL.jsonl`).
    *
    * `queries` is the train-time recall probe (a sampled query batch drawn
    * from the corpus — ids shared, self-pairs excluded, exactly
    * [[lshAutoTune]]'s contract). Driver state: k·dim centroids + the
    * chosen (tables, planes) — nothing corpus-sized. Refuses (via
    * [[tunedLshConfig]]) when no swept config meets `recallTarget`. */
  def trainTunedAnnIndex(corpus: DataFrame, idCol: String, emb: Column,
      dim: Int, kCells: Int, lloydIters: Int, queries: DataFrame, k: Int,
      configs: Seq[(Int, Int)], recallTarget: Double,
      seed: Long = 42L): AnnIndex = {
    val v = emb.cast("array<double>")
    val (_, centroids) = {
      val named = corpus.select(col(idCol).as("vec_id"), v.as("embedding"))
      kmeans(named, "vec_id", "embedding", kCells, lloydIters)
    }
    def withCell(df: DataFrame): DataFrame =
      df.select(col(idCol).as("vec_id"), v.as("embedding"),
        nearestCentroid(v, centroids, "cell").as("cell"))
    val (t, p) = tunedLshConfig(withCell(corpus), withCell(queries), "cell",
      k, configs, dim, recallTarget, seed)
    AnnIndex(dim, t, p, seed, centroids)
  }

  /** Per-cell assignment-distortion profile of `df` under plan-literal
    * `centroids`: (cell, n, md) where `md` is the 1e-6-rounded mean
    * SQUARED euclidean distance of the cell's vectors to their assigned
    * centroid — d² = |v|² + min(−2·v·c + |c|²), the argmin's score with
    * the dropped |v|² added back, so assignment and distance come from ONE
    * [[nearestCentroidScored]] evaluation per row. Scale shape: one
    * linear scan (narrow map — centroids are plan literals, nothing
    * joins), one hash aggregate to ≤ k rows. The rounding is the trainer
    * convention ([[lloydFit]]): avg() sums floats in shuffle-fetch order,
    * so only the rounded mean is engine- and partitioning-reproducible. */
  def cellDistortion(df: DataFrame, emb: Column,
      centroids: Seq[Seq[Double]]): DataFrame = {
    import graft.engine.Semantics.roundz
    val v = emb.cast("array<double>")
    val m = nearestCentroidScored(v, centroids, "cell")
    df.select(m.getField("cell").as("cell"),
        (dot(v, v) + m.getField("d")).as("d2"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), roundz(avg(col("d2")), 6).as("md"))
  }

  /** ANN index staleness monitor — the serving-lifecycle gate beside
    * [[AnnIndex]]: compare the per-cell distortion of the TRAINING
    * snapshot `ref` against a fresh batch `cur` under the same (persisted)
    * centroids, and flag cells whose fresh mean squared distance exceeds
    * `threshold` × the training-time distortion — the signal that the
    * coarse quantizer no longer fits the data it is indexing and a
    * retrain is due (q151's PSI discipline applied to embedding space).
    *
    * Output: (cell, n_ref, md_ref, n_cur, md_cur, drift_ratio, drifted)
    * — one row per cell present in EITHER snapshot (a cell that lost all
    * fresh mass is itself drift signal, so absent-on-one-side cells stay,
    * with the missing md NULL and counts 0). `drift_ratio` is the rounded
    * md_cur/md_ref (NULL when md_ref = 0 or either side is absent);
    * `drifted` (0/1) compares md_cur > threshold·md_ref directly — one
    * exactly-rounded multiply, no division edge — and is 0 whenever
    * either side is absent. Degenerate md_ref = 0 (a collapsed cell)
    * flags any positive fresh distortion.
    *
    * Scale shape: each snapshot is one [[cellDistortion]] scan; the join
    * runs on two ≤ k-row aggregates. Driver state: the k·dim centroid
    * literals — nothing else. */
  def annIndexDrift(ref: DataFrame, cur: DataFrame, emb: Column,
      centroids: Seq[Seq[Double]], threshold: Double = 1.5): DataFrame = {
    import graft.engine.Semantics.roundz
    require(threshold > 0, s"threshold must be positive, got $threshold")
    val r = cellDistortion(ref, emb, centroids)
      .select(col("cell"), col("n").as("n_ref"), col("md").as("md_ref"))
    val c = cellDistortion(cur, emb, centroids)
      .select(col("cell"), col("n").as("n_cur"), col("md").as("md_cur"))
    r.join(c, Seq("cell"), "full_outer")
      .na.fill(0L, Seq("n_ref", "n_cur"))
      .withColumn("drift_ratio",
        when(col("md_ref") > 0, roundz(col("md_cur") / col("md_ref"), 6)))
      .withColumn("drifted",
        coalesce((col("n_ref") > 0 && col("n_cur") > 0 &&
          col("md_cur") > lit(threshold) * col("md_ref")).cast("long"), lit(0L)))
  }

  /** [[annIndexDrift]] against a persisted [[AnnIndex]] — the monitoring
    * job loads the same artifact the serving fleet does. */
  def annIndexDrift(ref: DataFrame, cur: DataFrame, emb: Column,
      idx: AnnIndex, threshold: Double): DataFrame =
    annIndexDrift(ref, cur, emb, idx.centroids, threshold)

  /** Staleness-gated retrain — the composition that closes the
    * train→persist→serve→monitor→retrain loop (round-10 verdict task #2):
    * load the artifact at `path`, [[annIndexDrift]]-check the fresh batch
    * against the training snapshot under ITS centroids, and only when some
    * cell drifted run `retrain` (typically a [[trainTunedAnnIndex]] thunk —
    * so a drift flag re-triggers the TUNER, not just Lloyd) and persist
    * the new artifact over the old. Returns (index to serve with,
    * whether a retrain ran). The cheap path — no drift — costs two
    * [[cellDistortion]] scans and zero training work; the sweep is only
    * ever re-priced when the monitor says the geometry no longer fits. */
  def retrainAnnIndexOnDrift(spark: org.apache.spark.sql.SparkSession,
      path: String, ref: DataFrame, cur: DataFrame, emb: Column,
      threshold: Double, retrain: () => AnnIndex): (AnnIndex, Boolean) = {
    val idx = readAnnIndex(spark, path)
    val drifted = annIndexDrift(ref, cur, emb, idx, threshold)
      .agg(coalesce(sum(col("drifted")), lit(0L))).head.getLong(0) > 0L
    if (!drifted) (idx, false)
    else {
      val fresh = retrain()
      writeAnnIndex(spark, path, fresh)
      (fresh, true)
    }
  }

  /** Cluster skeleton — the corpus "map" a curation operator reads before
    * deciding what to keep: one row per populated coarse cell with its
    * mass, mean squared distortion, and the REPRESENTATIVE member (the
    * vector closest to the centroid, ties to the lower id). The
    * representative is a real corpus member, so the k-row skeleton is a
    * browsable digest of a 100 TB embedding table — inspect k documents,
    * not n.
    *
    * Output: (cell, n, md, rep_id, rep_d2). The argmin runs as
    * min(struct(d2, id)) inside the same hash aggregate as the mass/mean —
    * ONE scan, ONE aggregate to ≤ k rows, no window and no second pass.
    * Raw d² doubles order identically cross-engine (both engines compute
    * the same two dot products in the same left-to-right order — the
    * [[kmeans]] assignment argument), so the struct-min tie-break is
    * deterministic without pre-rounding; only the OUTPUT statistics are
    * rounded (avg is partition-order-sensitive; the rep's single d² is
    * exact but rounded for a uniform surface). */
  /** The (cell, d2, id) scored projection [[clusterSkeleton]] and
    * [[clusterBalancedSelect]] both rank over — one narrow map, cell and
    * d² from a single [[nearestCentroidScored]] evaluation per row. */
  private def assignScored(df: DataFrame, idCol: String, emb: Column,
      centroids: Seq[Seq[Double]]): DataFrame = {
    val v = emb.cast("array<double>")
    val m = nearestCentroidScored(v, centroids, "cell")
    df.select(m.getField("cell").as("cell"),
      (dot(v, v) + m.getField("d")).as("d2"), col(idCol).as("id"))
  }

  def clusterSkeleton(df: DataFrame, idCol: String, emb: Column,
      centroids: Seq[Seq[Double]]): DataFrame = {
    import graft.engine.Semantics.roundz
    assignScored(df, idCol, emb, centroids)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), roundz(avg(col("d2")), 6).as("md"),
        min(struct(col("d2"), col("id"))).as("rep"))
      .select(col("cell"), col("n"), col("md"),
        col("rep.id").as("rep_id"), roundz(col("rep.d2"), 6).as("rep_d2"))
  }

  /** Cluster-balanced selection — diversity-preserving corpus pruning:
    * every coarse cell contributes at most `quota` members, so dense
    * regions stop dominating the kept set (the failure mode of global
    * score cuts). `keepFarthest = false` keeps each cell's PROTOTYPES
    * (closest to centroid — the SemDeDup-flavored "one canonical doc per
    * semantic region" policy); `keepFarthest = true` keeps the cell's
    * HARDEST members (farthest from centroid — the keep-hard-examples
    * policy for abundant data, per the data-pruning scaling literature).
    * Ties break to the lower id under both policies.
    *
    * Output: (cell, rank, id, d2) with rank 1..quota per cell (fewer if
    * the cell is smaller). Scale shape: one narrow scan, then a window
    * partitioned by cell. The partition count is k — NOT a skew trap,
    * because IVF k is scaled with the corpus (that is the
    * [[lshAutoTune]]/[[kmeansConverged]] contract: per-cell mass n/k is
    * held roughly constant), so each cell's sort is a bounded task; the
    * quota filter then rides the same stage. No collect, no global sort. */
  /** The rank-and-cut a scored projection feeds — split out so
    * [[clusterBalancedSelectBoth]] can apply both policies to ONE scan. */
  private def rankQuota(scored: DataFrame, quota: Int,
      keepFarthest: Boolean): DataFrame = {
    import graft.engine.Semantics.roundz
    import org.apache.spark.sql.expressions.Window
    require(quota > 0, s"quota must be positive, got $quota")
    val order =
      if (keepFarthest) Seq(col("d2").desc, col("id").asc)
      else Seq(col("d2").asc, col("id").asc)
    scored
      .withColumn("rank",
        row_number().over(Window.partitionBy(col("cell")).orderBy(order: _*))
          .cast("long"))
      .filter(col("rank") <= quota)
      .select(col("cell"), col("rank"), col("id"), roundz(col("d2"), 6).as("d2"))
  }

  def clusterBalancedSelect(df: DataFrame, idCol: String, emb: Column,
      centroids: Seq[Seq[Double]], quota: Int,
      keepFarthest: Boolean = false): DataFrame =
    rankQuota(assignScored(df, idCol, emb, centroids), quota, keepFarthest)

  /** Both policies from ONE pass — a union of two single-policy calls
    * would scan and k·dim-score the corpus twice (and Spark 4's
    * WindowGroupLimit pushes a per-policy partial sort below the
    * exchange, so not even the shuffle is reusable). Instead: one scan,
    * one hash exchange on cell, two CHAINED windows (same partition key,
    * opposite orders — Catalyst plans them back-to-back after the single
    * exchange), then each row explodes into the (policy, rank) pairs
    * that survive the quota. Output adds `policy` ('proto' | 'hard');
    * per-policy rows are identical to [[clusterBalancedSelect]]'s
    * (spec-asserted), ties to the lower id under BOTH orders. */
  def clusterBalancedSelectBoth(df: DataFrame, idCol: String, emb: Column,
      centroids: Seq[Seq[Double]], quota: Int): DataFrame = {
    import graft.engine.Semantics.roundz
    import org.apache.spark.sql.expressions.Window
    require(quota > 0, s"quota must be positive, got $quota")
    val byCell = Window.partitionBy(col("cell"))
    val rnP = row_number()
      .over(byCell.orderBy(col("d2").asc, col("id").asc)).cast("long")
    val rnH = row_number()
      .over(byCell.orderBy(col("d2").desc, col("id").asc)).cast("long")
    assignScored(df, idCol, emb, centroids)
      .withColumn("rn_p", rnP)
      .withColumn("rn_h", rnH)
      .select(col("cell"), col("id"), col("d2"),
        explode(filter(
          array(struct(lit("proto").as("policy"), col("rn_p").as("rank")),
            struct(lit("hard").as("policy"), col("rn_h").as("rank"))),
          s => s.getField("rank") <= quota)).as("pr"))
      .select(col("cell"), col("pr.rank").as("rank"), col("id"),
        roundz(col("d2"), 6).as("d2"), col("pr.policy").as("policy"))
  }
}
