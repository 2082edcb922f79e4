package graft

/** Partition-invariance gate over the ENTIRE query surface.
  *
  * The oracle compare hashes VALUES, so every query's results must be
  * bit-identical regardless of how Spark happens to partition the work —
  * otherwise a config change (shuffle partitions, AQE coalescing, executor
  * count on a real cluster) can flip a float ulp or a tie and break the
  * correctness gate nondeterministically. The library's defenses are
  * deliberate (rounded aggregates feeding comparisons, full tie-break sort
  * keys, md5-derived — never rand() — sampling); this spec PROVES the
  * property instead of asserting it: every registered query runs under two
  * different shuffle-partition settings (3 and 13 — both different from the
  * suite's 4 and from each other, odd so ranges split unevenly) and must
  * return the identical row sequence from the plan `collect()` runs.
  *
  * Session-shared pipeline prefixes ([[graft.engine.Shared]]) are cleared
  * between passes so the CC-family prefixes genuinely REBUILD under the new
  * partitioning instead of replaying pinned blocks from the first pass.
  *
  * Exempt: the two engine-specific mergeable sketches whose values
  * legitimately depend on merge fan-in — q36 (HyperLogLog) and q108
  * (percentile_approx's GK sketch). The driver's gate checks those
  * rows-only for exactly the same reason.
  */
class DeterminismSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val sketchExempt = Set("q36_approx_distinct_users", "q108_approx_quantiles")

  /** The rows a caller's `collect()` gets, in order, rendered on the
    * driver. `toJSON` would plan a different root (`SerializeFromObject`),
    * so root-only rules such as the small-sort gather would never run.
    * Doubles render as Jackson numbers: -0.0 and 0.0 differ, and so does
    * NaN from any number. */
  private def rendered(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().toSeq.map(_.json)

  test("the rendering separates -0.0 from 0.0 and NaN from every number") {
    import spark.implicits._
    val r = rendered(Seq(0.0, -0.0, Double.NaN, 1.0).toDF("x"))
    assert(r.distinct.size === 4, r)
  }

  private def runAll(partitions: Int): Seq[(String, Seq[String])] = {
    spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    // Shared prefixes were materialized under the previous partitioning;
    // a pinned replay would make this pass vacuous for the CC family.
    graft.engine.Shared.clear(spark)
    SparkEntry.queries.toSeq.sortBy(_._1).collect {
      case (name, build) if !sketchExempt(name) =>
        val rows = rendered(build(spark, dir))
        graft.engine.Hygiene.sweep(spark)
        name -> rows
    }
  }

  test("every query's rows are identical under 3 vs 13 shuffle partitions") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val a = runAll(3).toMap
      val b = runAll(13).toMap
      assert(a.keySet === b.keySet)
      val diff = a.keySet.toSeq.sorted.filter(n => a(n) != b(n))
      assert(diff.isEmpty,
        s"partitioning-dependent results from: ${diff.mkString(", ")} — " +
          "an unrounded aggregate feeding a comparison, a missing sort " +
          "tie-break, or rand()-derived sampling")
      // the gate must not have been vacuous
      assert(a.nonEmpty && a.valuesIterator.map(_.size).sum > 0)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", before)
      graft.engine.Shared.clear(spark)
    }
  }
}
