package graft

import graft.engine.{Engine, Hygiene}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

import scala.collection.mutable

/** Diagnostics CLI over named queries, in a session built by
  * [[Engine.session]] — the same confs Bench and Verify run:
  *
  * {{{
  * graft.Diag time      <sfDir> <name…>  — two timed runs each, with the
  *                                          Spark jobs each launched
  *                                          (run1 − run2 ≈ codegen/JIT)
  * graft.Diag profile   <sfDir> <name…>  — one warm run per name plus
  *                                          a per-stage cost table
  * graft.Diag plan      <sfDir> <name…>  — explain("formatted")
  * graft.Diag plan-exec <sfDir> <name…>  — collect(), then the post-AQE
  *                                          executed plan (ReusedExchange,
  *                                          skew splits, coalescing)
  * }}}
  *
  * A run ([[drain]]) executes the name's own result plan, as `collect()`
  * would, and drops the rows on the executors. `count()` would time a
  * different plan: Catalyst prunes its final sort and projections.
  *
  * A name is a `SparkEntry.queries` key or `shared:<build>` for a
  * SharedPipelines build reconstructed without its session cache (see
  * [[sharedBuilds]]), so a second run measures the build, not a cache hit.
  * `SPARK_GRAFT_CONF="k=v;k=v"` adds ad-hoc session confs for A/B
  * experiments; Bench and Verify never read it.
  */
object Diag {

  /** The un-cached shared-build DataFrames: the bodies
    * [[graft.queries.SharedPipelines]] hands to `Shared.cached`, without
    * the cache wrapper so the full lineage is visible instead of a
    * checkpoint scan. */
  def sharedBuilds(spark: SparkSession, dir: String): Map[String, () => DataFrame] = {
    import graft.queries.SharedPipelines._
    Map(
      "calib_candidates" -> (() => buildCalibratedCandidates(spark, dir)),
      "calib_pairs" -> (() => buildCalibratedPairs(buildCalibratedCandidates(spark, dir),
        spark, dir)),
      "semantic_edges" -> (() => buildSemanticEdges(spark, dir)),
      "semantic_cc" -> (() => buildSemanticComps(spark, dir)))
  }

  private final case class StageRow(name: String, tasks: Int, runMs: Long,
      cpuMs: Long, shufReadB: Long, shufWriteB: Long, spillB: Long,
      inputB: Long)

  private val usage = "usage: graft.Diag time|profile|plan|plan-exec <sfDir> <name...>"

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, usage)
    val Array(mode, dir) = args.take(2)
    val names = args.drop(2).toSeq
    require(Set("time", "profile", "plan", "plan-exec")(mode), s"unknown mode '$mode'; $usage")
    val overrides = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }
    val spark = Engine.session(overrides = overrides)
    lazy val shared = sharedBuilds(spark, dir)
    def resolve(n: String): DataFrame = n match {
      case s if s.startsWith("shared:") =>
        val b = s.stripPrefix("shared:")
        require(shared.contains(b),
          s"unknown shared build '$b'; known: ${shared.keys.toSeq.sorted.mkString(", ")}")
        shared(b)()
      case q =>
        SparkEntry.knownQueries(Set(q), "the name list")
        SparkEntry.queries(q)(spark, dir)
    }
    // Untimed warm-up (JVM/codegen/catalog init) so the first name is not
    // charged the session's cold start; tolerant of partial tiers (a
    // generated tier may carry only documents + embeddings).
    try SparkEntry.queries("q02_count_all")(spark, dir).count()
    catch { case _: Throwable => () }
    mode match {
      case "time" => for (n <- names; i <- 1 to 2) {
        val listener = new StageListener
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        drain(resolve(n))
        val sec = (System.nanoTime() - t0) / 1e9
        val (jobs, _) = listener.drained(spark)
        println(f"TIME $n run$i $sec%.3f jobs=$jobs")
        // Same untimed between-run hygiene as Bench, so isolated Diag
        // numbers and in-bench numbers measure the same thing.
        Hygiene.sweep(spark)
      }
      case "profile" => names.foreach(profile(spark, _, resolve))
      case "plan" => names.foreach { n =>
        println(s"===== $n =====")
        resolve(n).explain("formatted")
      }
      case "plan-exec" => names.foreach { n =>
        println(s"===== $n =====")
        val df = resolve(n)
        // collect() drives THIS df's QueryExecution (count() would build a
        // different one), so the printed adaptive plan is the final one.
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      }
    }
    spark.stop()
  }

  /** Runs `df`'s own result plan to the end and drops its rows on the
    * executors: the jobs and stages of `collect()` without shipping the
    * result to the driver. */
  private def drain(df: DataFrame): Unit = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("drain"))(
      qe.executedPlan.execute().foreach(_ => ()))
  }

  /** Counts the jobs and keeps one [[StageRow]] per completed stage while
    * it is attached. Written on the listener bus thread. */
  private final class StageListener extends SparkListener {
    private val stages = mutable.Map[Int, StageRow]()
    private var jobs = 0
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      val si = sc.stageInfo
      val m = si.taskMetrics
      if (m != null) stages(si.stageId) = StageRow(
        si.name, si.numTasks, m.executorRunTime, m.executorCpuTime / 1000000L,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead)
    }

    /** Detaches once the bus has delivered every event posted so far;
      * returns the job count and the stage rows. */
    def drained(spark: SparkSession): (Int, Seq[StageRow]) = {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(30000L))
      sc.removeSparkListener(this)
      synchronized((jobs, stages.values.toSeq))
    }
  }

  /** One warm-up run, then one listened run printing a PER-STAGE cost
    * table — executor run and CPU time, shuffle read/write, input, spill,
    * task count and the stage's name (its last call site) — plus the job
    * count, the scheduler-overhead proxy that dominates tiny tiers. */
  private def profile(spark: SparkSession, n: String, resolve: String => DataFrame): Unit = {
    drain(resolve(n)) // warm run (codegen/JIT), not profiled
    Hygiene.sweep(spark)
    val listener = new StageListener
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    drain(resolve(n))
    val wall = (System.nanoTime() - t0) / 1e9
    val (jobs, rows) = listener.drained(spark)
    println(f"\n===== $n wall=$wall%.3f s jobs=$jobs stages=${rows.size} =====")
    println(f"${"runMs"}%7s ${"cpuMs"}%7s ${"tasks"}%5s ${"shR_KB"}%8s ${"shW_KB"}%8s ${"in_KB"}%8s ${"spill"}%6s  name")
    rows.sortBy(-_.runMs).take(25).foreach { r =>
      println(f"${r.runMs}%7d ${r.cpuMs}%7d ${r.tasks}%5d ${r.shufReadB / 1024}%8d ${r.shufWriteB / 1024}%8d ${r.inputB / 1024}%8d ${r.spillB / 1024}%6d  ${r.name.take(110)}")
    }
    val totRun = rows.map(_.runMs).sum
    val totCpu = rows.map(_.cpuMs).sum
    // The gap is wall time not explained by task time spread perfectly
    // over the session's cores.
    val cores = spark.sparkContext.defaultParallelism
    println(f"TOTAL runMs=$totRun cpuMs=$totCpu (wall ${wall * 1000}%.0f ms; sched/plan gap = ${wall * 1000 - totRun.toDouble / cores}%.0f ms if perfectly parallel over $cores cores)")
    Hygiene.sweep(spark, gc = true)
  }
}
