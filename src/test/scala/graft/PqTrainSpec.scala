package graft

import graft.operators.SimilarityOps
import org.apache.spark.sql.functions._

/** Trained product quantization (pqTrain → pqEncode → ADC): the training
  * composition must (a) produce well-shaped codebooks, (b) encode a vector
  * assembled from per-subspace centroids back to exactly those codes
  * (distance 0 wins the argmin), and (c) beat the random literal codebooks
  * on the reconstruction-error objective k-means minimizes. */
class PqTrainSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  private val m = 4
  private val k = 4
  private val rng = new scala.util.Random(5)
  private lazy val emb = (0L until 80L).map { i =>
    (i, Array.fill(dim)(rng.nextGaussian()))
  }.toDF("vec_id", "embedding").cache()

  private lazy val books =
    SimilarityOps.pqTrain(emb, "vec_id", col("embedding"), m, k, dim, iters = 3)

  test("pqTrain shape: m books of k centroids of dim/m values") {
    assert(books.size === m)
    books.foreach { book =>
      assert(book.size === k)
      book.foreach(c => assert(c.size === dim / m))
    }
    // training moved the centroids off their k lowest-id seeds
    val seeds = emb.orderBy("vec_id").limit(k).collect().map(_.getSeq[Double](1))
    assert(books.head !== seeds.map(_.take(dim / m)).toSeq)
  }

  test("exact-on-centroid: a vector assembled from centroids encodes to those codes") {
    val want = Seq(1, 2, 3, 0)
    val v = want.zipWithIndex.flatMap { case (c, j) => books(j)(c) }.toArray
    val got = SimilarityOps.pqEncode(
        Seq((0L, v)).toDF("vec_id", "embedding"), "vec_id", col("embedding"), books)
      .collect().head
    val codes = (0 until m).map(j => got.getLong(j + 1).toInt)
    assert(codes === want)
  }

  test("trained codebooks dominate random literals on reconstruction error") {
    def avgErr(cb: Seq[Seq[Seq[Double]]]): Double =
      SimilarityOps.pqDistortion(emb, "vec_id", col("embedding"), cb)
        .agg(avg(col("sq_err"))).head.getDouble(0)
    val trained = avgErr(books)
    val literal = avgErr(SimilarityOps.pqCodebooks(m, k, dim))
    assert(trained < literal,
      s"trained distortion $trained should beat random literals $literal")
    assert(trained > 0d) // corpus is not degenerate
  }

  test("pqTrain survives a training sample smaller than k (fewer centroids, no crash)") {
    val tiny = emb.filter(col("vec_id") < 3) // 3 vectors, k = 4
    val small = SimilarityOps.pqTrain(tiny, "vec_id", col("embedding"), m, k, dim, iters = 2)
    assert(small.size === m)
    small.foreach { book =>
      assert(book.size === 3) // seeds bound the codebook, not k
      book.foreach(c => assert(c.size === dim / m))
    }
    // and the shrunken books still encode
    val codes = SimilarityOps.pqEncode(emb, "vec_id", col("embedding"), small)
    assert(codes.count() === 80L)
  }

  test("pqTrain is kmeans per subspace: book j equals kmeans over slice j (sf0.001)") {
    val e = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def kmeansOn(v: org.apache.spark.sql.Column, iters: Int) = SimilarityOps.kmeans(
      e.select(col("vec_id"), v.as("embedding")), "vec_id", "embedding", k = 8, iters)._2
    // q90's shape: 4 subspaces of 16 dims, k = 8, 2 iterations
    val books =
      SimilarityOps.pqTrain(e, "vec_id", col("embedding"), m = 4, k = 8, dim = 64, iters = 2)
    (0 until 4).foreach { j =>
      val sliced = kmeansOn(slice(col("embedding"), j * 16 + 1, 16), iters = 2)
      assert(books(j) === sliced, s"subspace $j")
    }
    // q41's shape: one subspace is the whole vector
    val one =
      SimilarityOps.pqTrain(e, "vec_id", col("embedding"), m = 1, k = 8, dim = 64, iters = 3)
    assert(one.head === kmeansOn(col("embedding"), iters = 3))
  }

  test("every trainer refuses an empty training input, k = 0 and iters = 0, naming itself") {
    val empty = emb.filter(lit(false))
    val trainers: Seq[(String, (org.apache.spark.sql.DataFrame, Int, Int) => Any)] = Seq(
      "kmeans" -> ((df, k, it) => SimilarityOps.kmeans(df, "vec_id", "embedding", k, it)),
      "kmeansConverged" -> ((df, k, it) =>
        SimilarityOps.kmeansConverged(df, "vec_id", "embedding", k, it)),
      "pqTrain" -> ((df, k, it) =>
        SimilarityOps.pqTrain(df, "vec_id", col("embedding"), m, k, dim, it)))
    trainers.foreach { case (name, train) =>
      val noRows = intercept[IllegalArgumentException](train(empty, 3, 2)).getMessage
      assert(noRows.contains(name) && noRows.contains("empty training input") &&
        noRows.contains("k = 3"), noRows)
      val noK = intercept[IllegalArgumentException](train(emb, 0, 2)).getMessage
      assert(noK.contains(name) && noK.contains("k = 0"), noK)
      val noIters = intercept[IllegalArgumentException](train(emb, 3, 0)).getMessage
      assert(noIters.contains(name) && noIters.contains("iters >= 1"), noIters)
    }
  }

  test("assignCells: a vector equal to a centroid lands in that cell; assignment matches kmeans") {
    val (assign, centroids) = SimilarityOps.kmeans(emb, "vec_id", "embedding", k = 3, iters = 2)
    val viaInference = SimilarityOps.assignCells(emb, "vec_id", col("embedding"), centroids)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // kmeans' returned assignment is computed lazily from its FINAL
    // centroids, so standalone inference against those centroids must
    // agree row-for-row
    val viaTraining = assign.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaInference === viaTraining)
    val c1 = centroids(1)
    val got = SimilarityOps.assignCells(
        Seq((99L, c1.toArray)).toDF("vec_id", "embedding"), "vec_id", col("embedding"), centroids)
      .collect().head.getInt(1)
    assert(got === 1)
  }

  test("trained IVF probe == brute force restricted to the query's cell") {
    val (_, centroids) = SimilarityOps.kmeans(emb, "vec_id", "embedding", k = 3, iters = 2)
    val cells = emb.join(
      SimilarityOps.assignCells(emb, "vec_id", col("embedding"), centroids), "vec_id")
    val q = cells.filter(col("vec_id") === 0)
    val probe = SimilarityOps.cosineTopKIvf(cells, q, "cell", 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val qCell = q.select(col("cell")).head().getInt(0)
    val brute = SimilarityOps.cosineTopK(
        cells.filter(col("cell") === qCell), q, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probe === brute)
  }

  test("ADC distance with trained books is exact on the encoded centroids") {
    // For a vector that IS its per-subspace centroids, ADC to itself-as-query
    // returns 0 (each table lookup is the centroid-to-query distance, and the
    // query equals the centroid assembly).
    val v = (0 until m).flatMap(j => books(j)(2))
    val tables = SimilarityOps.pqAdcTables(v, books)
    val df = Seq((0L, v.toArray)).toDF("vec_id", "embedding")
    val adc = SimilarityOps.pqEncode(df, "vec_id", col("embedding"), books)
      .select(SimilarityOps.pqAdcDistance(tables, j => col(s"code_$j")))
      .collect().head.getDouble(0)
    assert(math.abs(adc) < 1e-9)
  }
}
