package graft

import org.apache.spark.sql.DataFrame
import scala.collection.immutable.SortedMap

/** Plan-shape regression gate over the ENTIRE query surface.
  *
  * Correctness is gated per-query by the DuckDB oracle; this spec gates the
  * property the oracle can't see: the PLAN. At 100 TB the difference between
  * a broadcast nested-loop against a 1-row aggregate and a true cartesian
  * product is the difference between a scan and a job that never finishes —
  * and a refactor can flip one into the other without changing a single
  * result row at test scale. Building every registered query against the
  * sf0.001 tables and walking its physical plan catches that class of
  * regression at test time instead of at bench (or cluster) time.
  *
  * The audit is deliberately conservative: `CartesianProductExec` is never
  * acceptable (every intentional cross join in the library broadcasts a
  * bounded side, which plans as BroadcastNestedLoopJoin instead), so there
  * is no allowlist to rot.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Every query built once, in name order, for both surface audits:
    * construction runs the trainers' eager jobs, so it is most of the
    * suite's time. */
  private lazy val built: SortedMap[String, DataFrame] =
    SortedMap.from(SparkEntry.queries).map { case (name, build) => name -> build(spark, dir) }

  test("query ledger matches the documented surface (176 queries, 173 oracles)") {
    assert(SparkEntry.queries.size >= 176,
      s"query surface shrank: ${SparkEntry.queries.size} < 176")
    assert(SparkEntry.oracleSql.size >= 173,
      s"oracle surface shrank: ${SparkEntry.oracleSql.size} < 173")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: ${orphans.mkString(", ")}")
  }

  test("no query plans an UNPARTITIONED window over unbounded input") {
    // A Window with an empty partitionSpec funnels its whole input through
    // ONE task — the straggler shuffleRank/groupedTokenPrefixSum exist to
    // avoid. It is acceptable ONLY over provably BOUNDED input (a window
    // over an already-aggregated handful of rows — the window-over-
    // aggregate pattern); every allowlisted query names its bound, and a
    // rot guard deletes entries whose query stops planning the window.
    //
    // Inspected on the OPTIMIZED LOGICAL plan, not executedPlan: with AQE
    // on (the default), executedPlan is an AdaptiveSparkPlanExec — a LEAF
    // node whose collect() sees no WindowExec at all, which made the first
    // version of this audit silently vacuous. The logical Window node
    // carries the same partitionSpec and is never AQE-wrapped.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    def globalWindows(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }.size
    // Canary: the detector must FIRE on a deliberately global window —
    // guards the audit itself against going vacuous under a future plan
    // representation change (the failure mode the executedPlan version had).
    val bad = spark.range(10).withColumn("r",
      org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("id")))
    assert(globalWindows(bad) === 1, "window audit canary failed to detect a global window")
    val bounded = Map(
      "q77_length_histogram" -> "cumulative share over the 4-bin histogram aggregate",
      "q116_hybrid_rrf" -> "RRF ranks over two top-k candidate lists (≤ 2k rows)",
      "q117_lsh_autotune" -> "cheapest-config choice over the 6-row sweep summary",
      "q118_minhash_quantile_cap" -> "df threshold over the distinct-df histogram (|distinct df values| rows)",
      "q107_minhash_calibration" -> "same distinct-df histogram threshold as q118 (the calibrated capped universe)",
      "q120_banded_minhash" -> "same distinct-df histogram threshold as q118",
      "q127_shuffle_shards" -> "prefix-sum over shuffleRank's 256-bucket offset aggregate (constant group folds away)",
      "q128_length_bucket_batches" -> "prefix-sum over the per-bucket offset aggregate + batch-stats windows (|buckets×batches| rows)",
      "q160_sorted_neighborhood" -> "prefix-sum + lag over the per-bucket offset aggregate (≤|n_chars DIV 8 buckets| rows)",
      "q162_weighted_jaccard" -> "same distinct-df histogram threshold as q118 (over the expanded multiset universe)",
      "q163_blocking_recall_ab" -> "q160's per-bucket offset prefix-sum + q118's distinct-df histogram threshold",
      "q164_snm_multipass" -> "two SNM per-bucket offset prefix-sums (length buckets; 2-char prefix buckets)",
      "q167_snm_range_bucketed" -> "SNM per-bucket offset prefix-sum over the 16 quantile buckets",
      "q176_pair_lsh_sweep" -> "chosen-config choice over the 9-row sweep summary (q117's pattern)")
    val globalWindowed = built.collect {
      case (name, df) if globalWindows(df) > 0 => name
    }.toSeq
    val offenders = globalWindowed.filterNot(bounded.contains)
    assert(offenders.isEmpty,
      s"unpartitioned window over unbounded input planned by: ${offenders.mkString(", ")} — " +
        "range-bucket the key space (shuffleRank pattern) or document the bound here")
    val stale = bounded.keySet -- globalWindowed.toSet
    assert(stale.isEmpty, s"window allowlist entries no longer needed: ${stale.mkString(", ")}")
  }

  test("no query plans a CartesianProduct") {
    // Trainer queries execute their (bounded, driver-state) iteration during
    // construction; at sf0.001 that is cheap and it means the plan inspected
    // here is exactly the one the driver's Verify/Bench run executes.
    val offenders = built.collect {
      case (name, df) if df.queryExecution.executedPlan.toString.contains("CartesianProduct") =>
        name
    }
    assert(offenders.isEmpty,
      s"cartesian product planned by: ${offenders.mkString(", ")} — " +
        "broadcast the bounded side (or bound it) instead")
  }
}
