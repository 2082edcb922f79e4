package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based quality filtering — the classifier rung of the curation
  * ladder (builder prompt; SURVEY §2.10 X7): heuristic gates (q19) and
  * LM-surprisal filters (q69/q97) score documents against fixed rules; a
  * trained linear classifier scores them against EXAMPLES ("looks like the
  * trusted set"), the GPT-3/CCNet quality-filter shape and the supervised
  * sibling of q100's DSIR importance weights.
  *
  * Both training and scoring are engine-distributed: scoring is a pure
  * codegen'd column expression, and each training iteration is ONE linear
  * scan folding a (d+1)-value gradient aggregate — driver state is the
  * weight vector only, exactly [[SimilarityOps.kmeans]]'s discipline. At
  * 100 TB the trainer runs on a deterministic sample (hash-split, q45's
  * idiom) and the trained weights score the full corpus as map work.
  */
object ClassifierOps {

  /** Batch-gradient logistic regression over feature COLUMNS (engineered
    * in-engine — length, stopword ratio, repetition, … — never raw text).
    * Deterministic by construction: zero-init weights, fixed learning rate
    * and iteration count, features standardized against one (mean, std)
    * pass so the fixed `lr` is well-conditioned regardless of feature
    * units.
    *
    * Each iteration computes the FULL batch gradient with one aggregate:
    * ∂L/∂wⱼ = Σ (σ(w·z) − y)·zⱼ / n over standardized features z — d+1
    * sums (plain partial-aggregated doubles), no per-row state, no
    * driver-side data beyond the d+1 weights. The standardized projection
    * is persisted across iterations (MEMORY_AND_DISK — `iters` scans must
    * not re-read source parquet). Returns RAW-feature weights (bias last):
    * standardization is folded back in, so callers score unstandardized
    * columns directly with [[score]]. */
  def logisticTrain(df: DataFrame, features: Seq[Column], label: Column,
      lr: Double = 1.0, iters: Int = 20): Seq[Double] = {
    require(features.nonEmpty, "need at least one feature")
    require(iters >= 0 && lr > 0, s"need iters >= 0 and lr > 0, got $iters, $lr")
    val d = features.size
    // Complete-case training set: a row with ANY null feature or a null
    // label is dropped BEFORE the stats pass, so n, the (mean, std)
    // standardization and every gradient sum are computed over the same
    // rows. (Without this, null cells silently drop out of individual
    // aggregate sums while n still counts their rows, and each column's
    // mean/std is taken over its own non-null subset — silent
    // training-set skew instead of a visible row-count change.)
    val data = df.select(
      features.zipWithIndex.map { case (f, i) => f.cast("double").as(s"f$i") }
        :+ label.cast("boolean").cast("double").as("y"): _*)
      .na.drop()
    val statAggs = (0 until d).flatMap(i =>
      Seq(avg(col(s"f$i")).as(s"m$i"), stddev_pop(col(s"f$i")).as(s"s$i")))
    val st = data.agg(statAggs.head, statAggs.tail: _*).head()
    // Empty input or an all-null feature column yields NULL stats — fail
    // with a diagnosis, not an NPE from getDouble.
    (0 until d).foreach { i =>
      require(!st.isNullAt(2 * i),
        s"cannot train: input is empty or feature $i is all-null " +
          "(e.g. log() of a non-positive column returns NULL)")
    }
    val mean = Array.tabulate(d)(i => st.getDouble(2 * i))
    // A constant feature standardizes to all-zeros (sd floor), contributing
    // nothing rather than dividing by zero.
    val sd = Array.tabulate(d)(i => math.max(st.getDouble(2 * i + 1), 1e-12))
    val w = Array.fill(d + 1)(0.0) // bias last
    graft.engine.Materialize.scoped(data.select(
        (0 until d).map(i => ((col(s"f$i") - mean(i)) / sd(i)).as(s"z$i"))
          :+ col("y"): _*)) { z =>
      val n = z.count().toDouble
      for (_ <- 0 until iters) {
        val margin = (0 until d).map(i => col(s"z$i") * lit(w(i)))
          .foldLeft(lit(w(d)))(_ + _)
        val resid = lit(1d) / (lit(1d) + exp(-margin)) - col("y")
        val g = z.agg(
          sum(resid).as("gb"),
          (0 until d).map(i => sum(resid * col(s"z$i")).as(s"g$i")): _*).head()
        w(d) -= lr / n * g.getDouble(0)
        for (i <- 0 until d) w(i) -= lr / n * g.getDouble(i + 1)
      }
    }
    // Fold standardization into the weights: w·(x−m)/s + b = (w/s)·x + (b − w·m/s).
    val raw = Array.tabulate(d)(i => w(i) / sd(i))
    val bias = w(d) - (0 until d).map(i => w(i) * mean(i) / sd(i)).sum
    (raw :+ bias).toSeq
  }

  /** The rational ("fast") sigmoid σ̃(t) = 0.5·(1 + h/(1+|h|)), h = t/2 —
    * same shape as the logistic curve (σ̃(0)=0.5, monotone, saturating,
    * σ̃'(0)=0.25=σ'(0)) but built ONLY from IEEE-exact operations (÷2, abs,
    * +, ÷, ×), each of which is correctly rounded by the standard. Two
    * engines evaluating this expression over identical inputs in the
    * written order produce BIT-IDENTICAL doubles — unlike exp(), whose
    * libm implementations (JVM StrictMath vs C++ std::exp) may differ in
    * the last ulp per call. This is what lets [[logisticTrainExact]] carry
    * a hard cross-engine hash oracle instead of a rows-only check. */
  def rationalSigmoid(t: Column): Column = {
    val h = t / lit(2d)
    lit(0.5) * (lit(1d) + h / (lit(1d) + abs(h)))
  }

  /** [[logisticTrain]]'s by-construction-deterministic sibling — the
    * variant whose fixed-iteration training loop is EXACTLY reproducible
    * by another engine (the DuckDB oracle unrolls it as a CTE chain,
    * [[graft.queries.OracleSql.logisticCtes]]), the same discipline that
    * took the k-means family (q41/q90/q95) from rows-check to hash-match:
    *
    *  - the link is [[rationalSigmoid]] (IEEE-exact ops only, no exp);
    *  - standardization stats are ROUNDED (1e-6, −0.0-normalized; sd
    *    floored at 1e-6) before any z is computed — avg/stddev sum floats
    *    in engine-specific order, so only rounding both sides makes the
    *    standardized features identical by construction;
    *  - each iteration's MEAN gradient is rounded the same way before the
    *    update, so the weight trajectory is a sequence of exactly-equal
    *    doubles on both engines (w' = w − lr·g is one exactly-rounded
    *    multiply-subtract over identical operands).
    *
    * Scale posture is [[logisticTrain]]'s unchanged: persisted
    * standardized projection, one (d+1)-sum aggregate per iteration,
    * driver state = the weights. Returns (weights over STANDARDIZED
    * features with bias last, rounded means, rounded floored sds) — score
    * with the same standardization, e.g. via [[scoreStandardized]]. */
  def logisticTrainExact(df: DataFrame, features: Seq[Column], label: Column,
      lr: Double = 1.0, iters: Int = 10): (Seq[Double], Seq[Double], Seq[Double]) = {
    require(features.nonEmpty, "need at least one feature")
    require(iters >= 0 && lr > 0, s"need iters >= 0 and lr > 0, got $iters, $lr")
    val d = features.size
    val data = df.select(
      features.zipWithIndex.map { case (f, i) => f.cast("double").as(s"f$i") }
        :+ label.cast("boolean").cast("double").as("y"): _*)
      .na.drop()
    val statAggs = (0 until d).flatMap(i => Seq(
      graft.engine.Semantics.roundz(avg(col(s"f$i")), 6).as(s"m$i"),
      greatest(graft.engine.Semantics.roundz(stddev_pop(col(s"f$i")), 6), lit(1e-6)).as(s"s$i")))
    val st = data.agg(statAggs.head, statAggs.tail: _*).head()
    (0 until d).foreach { i =>
      require(!st.isNullAt(2 * i),
        s"cannot train: input is empty or feature $i is all-null")
    }
    val mean = Array.tabulate(d)(i => st.getDouble(2 * i))
    val sd = Array.tabulate(d)(i => st.getDouble(2 * i + 1))
    val w = Array.fill(d + 1)(0.0) // bias last
    graft.engine.Materialize.scoped(data.select(
        (0 until d).map(i => ((col(s"f$i") - mean(i)) / sd(i)).as(s"z$i"))
          :+ col("y"): _*)) { z =>
      val n = z.count().toDouble
      for (_ <- 0 until iters) {
        // Margin accumulates bias-first then features in order — the oracle
        // writes the same parenthesisation, so each per-row margin (and the
        // rational-sigmoid residual it feeds) is bit-identical cross-engine.
        val margin = (0 until d).map(i => col(s"z$i") * lit(w(i)))
          .foldLeft(lit(w(d)))(_ + _)
        val resid = rationalSigmoid(margin) - col("y")
        val g = z.agg(
          graft.engine.Semantics.roundz(sum(resid) / lit(n), 6).as("gb"),
          (0 until d).map(i =>
            graft.engine.Semantics.roundz(sum(resid * col(s"z$i")) / lit(n), 6).as(s"g$i")): _*)
          .head()
        w(d) -= lr * g.getDouble(0)
        for (i <- 0 until d) w(i) -= lr * g.getDouble(i + 1)
      }
    }
    (w.toSeq, mean.toSeq, sd.toSeq)
  }

  /** σ̃(w·z + b) over RAW feature columns, standardizing with the (mean,
    * sd) [[logisticTrainExact]] returned — the exact-variant's scoring
    * expression, pure codegen'd map work like [[score]]. The z-terms and
    * the margin accumulate in the same order as training, so the oracle's
    * scoring CTE reproduces every probability bit-for-bit. */
  def scoreStandardized(features: Seq[Column], weights: Seq[Double],
      means: Seq[Double], sds: Seq[Double]): Column = {
    require(weights.size == features.size + 1,
      s"need ${features.size + 1} weights (bias last), got ${weights.size}")
    val margin = features.zipWithIndex
      .map { case (f, i) => (f.cast("double") - lit(means(i))) / lit(sds(i)) * lit(weights(i)) }
      .foldLeft(lit(weights.last))(_ + _)
    rationalSigmoid(margin)
  }

  /** σ(w·x + b) over RAW feature columns with [[logisticTrain]]'s returned
    * weights (bias last) — a pure codegen'd expression: the full-corpus
    * scoring pass is map work, zero shuffle. */
  def score(features: Seq[Column], weights: Seq[Double]): Column = {
    require(weights.size == features.size + 1,
      s"need ${features.size + 1} weights (bias last), got ${weights.size}")
    val margin = features.zipWithIndex
      .map { case (f, i) => f.cast("double") * lit(weights(i)) }
      .foldLeft(lit(weights.last))(_ + _)
    lit(1d) / (lit(1d) + exp(-margin))
  }

  /** Mean log-loss of `probCol` against boolean `label` — the training
    * objective, exposed so convergence is checkable (specs assert loss
    * decreases with iterations; production monitors it per epoch). Clamped
    * away from {0,1} so a saturated probability never yields ±∞. */
  def logLoss(df: DataFrame, probCol: Column, label: Column): Double = {
    val p = least(greatest(probCol, lit(1e-15)), lit(1d - 1e-15))
    val y = label.cast("boolean").cast("double")
    df.agg(avg(-(y * log(p) + (lit(1d) - y) * log(lit(1d) - p)))).head().getDouble(0)
  }
}
