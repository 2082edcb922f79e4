package graft

import java.nio.file.Files

import graft.engine.Engine
import graft.plans.{Gather, GatherExec, GatherSmallSorts}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** The ordered-result contract of `graft.plans.GatherSmallSorts`: a global
  * sort at the plan root whose input is estimated at most
  * `spark.sql.autoBroadcastJoinThreshold` sorts in one task, without the
  * range-sampling job, and returns the range form's rows in the same
  * order. Every other sort keeps its plan. The range form is the same
  * session with the threshold at -1, which turns the contract off.
  */
class OrderedResultSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** Walks adaptive plans through their current stages. */
  private object Plans extends AdaptiveSparkPlanHelper

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def rangeForm[T](body: => T): T = withConf(threshold -> "-1")(body)

  private def planText(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def gathers(plan: SparkPlan): Seq[GatherExec] =
    Plans.collect(plan) { case g: GatherExec => g }

  /** A grouped count over four input partitions, sorted by its key. */
  private def smallSorted(): DataFrame =
    spark.range(0, 2000, 1, 4).selectExpr("id % 13 AS k", "id")
      .groupBy("k").count().orderBy(desc("k"))

  test("a small root sort plans no range partitioning and its collect runs one job fewer") {
    Engine.ensureInitialized(spark)
    val gathered = smallSorted()
    assert(!planText(gathered).contains("rangepartitioning"), planText(gathered))
    assert(gathers(gathered.queryExecution.executedPlan).size === 1)
    var rows = Array.empty[Row]
    val jobs = jobsOf { rows = gathered.collect() }
    val (rangeJobs, rangeRows) = rangeForm {
      val ranged = smallSorted()
      assert(planText(ranged).contains("rangepartitioning"), planText(ranged))
      var r = Array.empty[Row]
      (jobsOf { r = ranged.collect() }, r)
    }
    assert(rangeJobs - jobs === 1, s"range form $rangeJobs jobs, gathered $jobs")
    assert(rows.toSeq === rangeRows.toSeq)
    assert(rows.map(_.getLong(0)).toSeq === (12L to 0L by -1L))
  }

  test("q01-q16 return the range form's rows in order at 3 and 13 shuffle partitions") {
    Engine.ensureInitialized(spark)
    val names = SparkEntry.queries.keys.filter(_.matches("q(0[1-9]|1[0-6])_.*")).toSeq.sorted
    assert(names.size === 16)
    for (parts <- Seq("3", "13")) withConf("spark.sql.shuffle.partitions" -> parts) {
      val gatheredNames = names.filter { n =>
        val df = SparkEntry.queries(n)(spark, dir)
        val rows = df.collect().toSeq
        val (want, rangePlan) = rangeForm {
          val r = SparkEntry.queries(n)(spark, dir)
          (r.collect().toSeq, r.queryExecution.executedPlan)
        }
        assert(gathers(rangePlan).isEmpty, s"$n at $parts partitions: range form gathered")
        assert(rows === want, s"$n at $parts partitions")
        gathers(df.queryExecution.executedPlan).nonEmpty
      }
      // q05's join estimate is over the bound; q01/q02/q06 end in a global
      // aggregate and q08/q11 in a top-k, which have no root sort.
      assert(gatheredNames.map(_.take(3)) === Seq("q03", "q04", "q07", "q09", "q10", "q12",
        "q13", "q14", "q15", "q16"), s"at $parts partitions")
    }
  }

  test("a root sort over a single-partition child gets no new exchange (the q09 shape)") {
    Engine.ensureInitialized(spark)
    val df = SparkEntry.queries("q09_union3_dates")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val gather = gathers(plan)
    assert(gather.size === 1, plan.toString)
    assert(gather.head.child.isInstanceOf[UnionExec], plan.toString)
    // one exchange per branch's global aggregate, none above the union
    assert(Plans.collect(plan) { case e: ShuffleExchangeLike => e }.size === 3, plan.toString)
  }

  test("a sort whose input estimate is over the bound keeps range partitioning") {
    Engine.ensureInitialized(spark)
    withConf(threshold -> "64") {
      val df = smallSorted()
      assert(planText(df).contains("rangepartitioning"), planText(df))
      assert(gathers(df.queryExecution.executedPlan).isEmpty)
    }
    // the real over-bound case: q05's join estimate at the default bound
    val q05 = SparkEntry.queries("q05_join_dow_filter")(spark, dir)
    assert(planText(q05).contains("rangepartitioning"), planText(q05))
  }

  test("a non-root sort, a sort under limit, a write and a streaming plan are untouched") {
    Engine.ensureInitialized(spark)
    def untouched(df: DataFrame): Unit = {
      val optimized = df.queryExecution.optimizedPlan
      assert(optimized.collect { case g: Gather => g }.isEmpty, optimized.toString)
      assert(gathers(df.queryExecution.executedPlan).isEmpty)
    }
    val nonRoot = smallSorted().repartition(3)
    untouched(nonRoot)
    assert(planText(nonRoot).contains("rangepartitioning"))
    untouched(smallSorted().limit(5))
    untouched(smallSorted().union(smallSorted()))
    // the rule alone leaves a sort under a limit as it is
    val limited = smallSorted().limit(5).queryExecution.analyzed
    assert(GatherSmallSorts(limited) eq limited)

    // a write: the root is the write command, not the sort
    val written = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = written.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val out = Files.createTempDirectory("ordered-write")
    spark.listenerManager.register(listener)
    try {
      smallSorted().write.mode("overwrite").parquet(out.resolve("w").toString)
      drainListenerBus()
    } finally spark.listenerManager.unregister(listener)
    val plans = written.toArray(Array.empty[QueryExecution]).map(_.executedPlan.toString)
    assert(plans.exists(_.contains("rangepartitioning")), plans.mkString("\n"))
    assert(!plans.exists(_.contains("Gather")), plans.mkString("\n"))
    org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)

    // a streaming plan: a complete-mode aggregate sorted for its sink
    val input = MemoryStream[Int](spark)
    val q = input.toDF().groupBy("value").count().orderBy("value")
      .writeStream.format("memory").queryName("ordered_result_stream")
      .outputMode("complete").start()
    try {
      input.addData(3, 1, 2, 3)
      q.processAllAvailable()
      val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      assert(exec.optimizedPlan.collect { case g: Gather => g }.isEmpty, exec.optimizedPlan.toString)
      assert(!exec.executedPlan.toString.contains("Gather"), exec.executedPlan.toString)
      assert(spark.table("ordered_result_stream").as[(Int, Long)].collect().toSeq ===
        Seq((1, 1L), (2, 1L), (3, 2L)))
    } finally q.stop()
  }
}
