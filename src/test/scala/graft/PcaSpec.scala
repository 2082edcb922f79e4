package graft

import graft.operators.SimilarityOps
import org.apache.spark.sql.functions._

/** Laws of the power-iteration principal component (q132): recovery of a
  * planted dominant direction, unit normalization, and degenerate-input
  * behavior. The cross-engine exactness itself is proven by the q132
  * oracle; these cover the math. */
class PcaSpec extends SparkSpec {
  import spark.implicits._

  private def planted(n: Int, dim: Int, axis: Int, strength: Double): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(5)
    (1 to n).map { _ =>
      val noise = Seq.fill(dim)(rnd.nextGaussian() * 0.1)
      val t = rnd.nextGaussian() * strength
      noise.zipWithIndex.map { case (x, i) => if (i == axis) x + t else x }
    }
  }

  test("X3: power iteration recovers a planted dominant axis") {
    val df = planted(2000, 8, axis = 3, strength = 2.0).map(Tuple1(_)).toDF("embedding")
    val (_, v) = SimilarityOps.powerIterationTop(df, col("embedding"), dim = 8, iters = 6)
    assert(math.abs(v(3)) > 0.99, s"loading on the planted axis was ${v(3)}")
    v.zipWithIndex.filter(_._2 != 3).foreach { case (x, i) =>
      assert(math.abs(x) < 0.1, s"off-axis dim $i loading $x")
    }
  }

  test("X3: the returned component is unit-norm up to rounding") {
    val df = planted(500, 6, axis = 0, strength = 1.0).map(Tuple1(_)).toDF("embedding")
    val (_, v) = SimilarityOps.powerIterationTop(df, col("embedding"), dim = 6, iters = 4)
    val norm = math.sqrt(v.map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-4, s"norm $norm")
  }

  test("X3: deflation extracts two planted axes in variance order, orthogonal") {
    val rnd = new scala.util.Random(9)
    val data = (1 to 3000).map { _ =>
      val noise = Seq.fill(8)(rnd.nextGaussian() * 0.05)
      val t1 = rnd.nextGaussian() * 3.0 // dominant on axis 2
      val t2 = rnd.nextGaussian() * 1.5 // second on axis 6
      noise.zipWithIndex.map { case (x, i) =>
        if (i == 2) x + t1 else if (i == 6) x + t2 else x
      }
    }
    val df = data.map(Tuple1(_)).toDF("embedding")
    val (_, comps) = SimilarityOps.powerIterationComponents(
      df, col("embedding"), dim = 8, iters = 8, k = 2)
    assert(math.abs(comps(0)(2)) > 0.99, s"c1 on planted axis 2: ${comps(0)(2)}")
    assert(math.abs(comps(1)(6)) > 0.99, s"c2 on planted axis 6: ${comps(1)(6)}")
    val ortho = comps(0).zip(comps(1)).map { case (a, b) => a * b }.sum
    assert(math.abs(ortho) < 1e-3, s"components not orthogonal: $ortho")
  }

  test("X3: convergence-gated iteration stops early on a well-separated spectrum and " +
    "equals the fixed-count run at its stopping iteration bit-for-bit") {
    val df = planted(2000, 8, axis = 3, strength = 2.0).map(Tuple1(_)).toDF("embedding")
    val (muC, compsC, itersC) = SimilarityOps.powerIterationConvergedComponents(
      df, col("embedding"), dim = 8, tol = 1e-6, maxIters = 50, k = 1)
    // A strongly dominant axis converges long before the cap.
    assert(itersC.head < 50, s"did not converge within the cap: ${itersC.head}")
    assert(itersC.head >= 2, "convergence needs at least two iterations to compare v_t, v_t-1")
    // The gate changes WHEN to stop, never the math: a fixed-count run of
    // exactly that many iterations is bit-identical (shared loop body).
    val (muF, compF) = SimilarityOps.powerIterationTop(
      df, col("embedding"), dim = 8, iters = itersC.head)
    assert(muC === muF)
    assert(compsC.head === compF)
    // And it found the planted axis.
    assert(math.abs(compsC.head(3)) > 0.99)
  }

  test("X3: the convergence gate reports the cap when the spectrum never settles") {
    // Two EQUAL planted variances: power iteration oscillates between the
    // degenerate pair's directions, so the honest outcome is iters == cap.
    val rnd = new scala.util.Random(13)
    val data = (1 to 1500).map { _ =>
      val noise = Seq.fill(4)(rnd.nextGaussian() * 0.01)
      val t1 = rnd.nextGaussian() * 2.0
      val t2 = rnd.nextGaussian() * 2.0
      noise.zipWithIndex.map { case (x, i) =>
        if (i == 0) x + t1 else if (i == 1) x + t2 else x
      }
    }
    val df = data.map(Tuple1(_)).toDF("embedding")
    val (_, _, iters) = SimilarityOps.powerIterationConvergedComponents(
      df, col("embedding"), dim = 4, tol = 1e-9, maxIters = 5, k = 1)
    assert(iters.head === 5, s"degenerate spectrum must run to the cap, ran ${iters.head}")
  }

  test("X3: identical vectors (zero covariance) yield the zero vector, not NaN") {
    val df = Seq.fill(50)(Tuple1(Seq(1.0, 2.0, 3.0))).toDF("embedding")
    val (mu, v) = SimilarityOps.powerIterationTop(df, col("embedding"), dim = 3, iters = 3)
    assert(mu === Seq(1.0, 2.0, 3.0))
    assert(v === Seq(0.0, 0.0, 0.0))
  }

  test("X3: an empty input refuses and leaves no cached vectors behind") {
    val df = Seq.empty[Tuple1[Seq[Double]]].toDF("embedding")
    val err = intercept[IllegalArgumentException] {
      SimilarityOps.powerIterationTop(df, col("embedding"), dim = 3, iters = 2)
    }
    assert(err.getMessage.contains("empty input"))
    // The trainer's persisted projection, rebuilt: no cache entry may match
    // it once the refusal has propagated.
    val vecs = df.select(col("embedding").cast("array<double>").as("v"))
    assert(spark.sharedState.cacheManager
      .lookupCachedData(vecs.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isEmpty)
  }
}
