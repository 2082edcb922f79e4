package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.util.Random


import graft.SparkEntry
import graft.engine.Hygiene

/** Expected result of each query: a DuckDB oracle fingerprint, or only a
  * row count where the query is checked by rows (see fingerprints.py). */
object Expected {
  def load(path: Path): Map[String, (Long, Option[String])] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
    val it = root.get("queries").properties().iterator()
    val b = Map.newBuilder[String, (Long, Option[String])]
    while (it.hasNext) {
      val e = it.next()
      val v = e.getValue
      b += e.getKey -> ((v.get("rows").asLong(), Option(v.get("sha")).map(_.asText())))
    }
    b.result()
  }
}

/** A closed loop with one client: passes over a fixed query set, each pass
  * in an order shuffled by the seed, the next op sent when the previous
  * one returned. Every op constructs its query's DataFrame and collects the
  * rows to the client; each result is checked against its expected
  * fingerprint after the pass's wall time is taken, so the check counts
  * neither in an op's latency nor in the pass.
  *
  * Pass 0 runs in the fresh session (first_pass_s). Pass 1 is a warm-up:
  * the JIT is still compiling, so it is reported only in the detail. Then
  * come `--seconds / PassSeconds` measured passes (at least two; four in a
  * traced run): a fixed amount of work, so a faster commit does not get
  * more or different samples, and each tail percentile lands on the same
  * queries. */
final class ClosedLoop(name: String, val queries: Seq[String]) extends Workload {
  /** Nominal seconds of one measured `analytic` pass on a 4-core box. */
  val PassSeconds = 5

  def run(o: Main.Opts, entryNs: Long): Main.Outcome = {
    val expected = Expected.load(o.fingerprints)
    val fns = SparkEntry.queries
    val unknown = queries.filterNot(q => fns.contains(q) && expected.contains(q))
    require(unknown.isEmpty, s"$name: no query or no expected result for ${unknown.mkString(", ")}")

    val spark = Session.create(o.work)
    val initMs = Workloads.initEngine(spark)
    val tracer = new Tracer(spark)
    val rng = new Random(o.seed)
    val failures = mutable.ArrayBuffer[String]()
    var attempted = 0

    /** Results of the current pass, checked when the pass has ended. */
    val unchecked = mutable.ArrayBuffer[(String, Seq[String], Array[org.apache.spark.sql.Row])]()

    /** One op: construct the query's DataFrame and collect its rows, then
      * sweep session state outside the op's latency. Returns the latency in
      * ms, or None if the op failed. */
    def op(pass: Int, q: String): Option[Double] = {
      attempted += 1
      val id = s"p$pass:$q"
      val ((result, lat), _) = tracer.span(0, id, "op") { opId =>
        val r = try {
          val (df, cMs) = tracer.span(opId, id, "construct")(_ => fns(q)(spark, o.data))
          val (rows, aMs) = tracer.span(opId, id, "action")(_ => df.collect())
          (Some((df.columns.toSeq, rows)), Some(cMs + aMs))
        } catch { case e: Exception =>
          failures += s"$q: ${e.getClass.getName}: ${e.getMessage}"
          (None, None)
        }
        tracer.span(opId, id, "sweep")(_ => Hygiene.sweep(spark))
        r
      }
      result.foreach { case (columns, rows) => unchecked += ((q, columns, rows)) }
      lat
    }

    def check(): Unit = {
      unchecked.foreach { case (q, columns, rows) =>
        val (n, sha) = expected(q)
        val got = Fingerprint.of(columns, rows)
        if (got.rows != n || sha.exists(_ != got.sha))
          failures += s"$q: expected $n rows ${sha.getOrElse("")}, got ${got.rows} rows ${got.sha}"
      }
      unchecked.clear()
    }

    val passWalls = mutable.ArrayBuffer[Double]()
    val latencies = mutable.ArrayBuffer[Double]()
    val tracedPass = mutable.ArrayBuffer[Boolean]()
    var compilations = 0L
    def pass(p: Int, traced: Boolean): Unit = {
      if (o.trace) { if (traced) tracer.start() else tracer.stop() }
      val c0 = Tracer.codegenCompilations()
      val t0 = System.nanoTime()
      val lats = rng.shuffle(queries).flatMap(q => op(p, q))
      passWalls += (System.nanoTime() - t0) / 1e9
      if (traced) compilations += Tracer.codegenCompilations() - c0
      tracedPass += traced
      if (p > 1) latencies ++= lats
      check()
      // Between passes: drop broadcast and shuffle state whose cleanup
      // rides on GC, so every pass starts from the same heap state.
      Hygiene.sweep(spark, gc = true)
    }

    val setups = Workloads.setupDone(o, spark, entryNs)
    pass(0, traced = o.trace)
    pass(1, traced = false)
    // A traced run traces measured passes in the order untraced, traced,
    // traced, untraced, ..., so the tracing overhead is measured within the
    // run, from as many traced as untraced passes, without the JIT's warming
    // favouring either side.
    val n = math.max(if (o.trace) 4 else 2, o.seconds / PassSeconds)
    val nMeasured = if (o.trace) n + n % 2 else n
    for (p <- 2 until 2 + nMeasured)
      pass(p, traced = o.trace && Set(1, 2)((p - 2) % 4))
    tracer.stop()
    val measured = passWalls.drop(2)
    if (o.trace) tracer.write(o.work.resolve(s"trace-$name-${o.seed}.jsonl"))
    failures.foreach(f => System.err.println(s"perfbench FAIL $f"))

    val tail = Stats.tail(latencies.toSeq)
    val detail = Map[String, Any](
      "setups_s" -> setups, "pass_walls_s" -> passWalls, "passes_traced" -> tracedPass,
      "latency_samples" -> latencies.size, "latency_tail_percentile" -> tail.map(_._1).getOrElse(100.0),
      "peak_rss_mb" -> Box.peakRssMb(), "failures" -> failures)
    spark.stop()

    val metrics =
      if (!o.trace) Seq(
        ("setup_s", Stats.median(setups), "s"),
        ("first_pass_s", passWalls.head, "s"),
        ("batch_s", Stats.median(measured.toSeq), "s"),
        ("latency_p50_ms", Stats.median(latencies.toSeq), "ms"),
        ("latency_tail_ms", tail.map(_._2).getOrElse(latencies.max), "ms"),
        ("throughput_ops_s", latencies.size / measured.sum, "ops/s"))
      else {
        val traced = measured.indices.filter(i => tracedPass(i + 2)).map(measured(_))
        val untraced = measured.indices.filterNot(i => tracedPass(i + 2)).map(measured(_))
        Layers.closedLoop(tracer.spans, tracer.blockBytes, compilations) ++ Seq(
          ("engine.init_ms", initMs, "ms"),
          ("jvm.peak_rss_mb", Box.peakRssMb(), "MB"),
          ("trace.overhead_share", Stats.median(traced) / Stats.median(untraced) - 1, "ratio")) ++
          Layers.idleIngest
      }
    Main.Outcome(metrics, attempted, failures.size, detail)
  }
}

object ClosedLoop {
  /** The reference's own query surface: the 13 analytic.sql queries plus
    * the transform ops (speed derivation, timestamp synthesis, upsert). */
  val analytic = new ClosedLoop("analytic", Seq(
    "q01_count_on_date", "q02_count_all", "q03_events_per_dow",
    "q04_distinct_users_in_range", "q05_join_dow_filter", "q06_max_value",
    "q07_users_per_type", "q08_longest_span_top1", "q09_union3_dates",
    "q10_rush_hour_vs_offpeak", "q11_top5_users_by_avg", "q12_quadrant_case",
    "q13_dim_extract_first_event", "q14_speed_derivation",
    "q15_timestamp_synthesis", "q16_upsert_anti_join"))

  /** Fixed-iteration driver loops (trainers, PageRank, PCA): most of their
    * wall is DataFrame construction and the jobs it launches. */
  val iterative = new ClosedLoop("iterative", Seq(
    "q96_bpe_train", "q98_trained_subword", "q109_quality_classifier",
    "q125_logistic_exact", "q131_vocab_coverage", "q132_pca_power_iteration",
    "q133_pca_projection_map", "q141_tuned_ann", "q159_pagerank"))

  /** Near-duplicate detection: executor- and shuffle-dense similarity
    * joins (n-gram Jaccard top-k, sorted neighbourhood). The rest of the
    * family, and the queries that read SharedPipelines prefixes, do not fit
    * the run's time on a 4-core box. */
  val neardup = new ClosedLoop("neardup", Seq(
    "q22_ngram_jaccard_topk", "q160_sorted_neighborhood"))
}

/** Prints, as one JSON object, each closed-loop query's oracle SQL, or for
  * a query without one its row count on this commit (`--data` tier). Read
  * by fingerprints.py, which computes the committed fingerprints. */
object OracleDump {
  def main(argv: Array[String]): Unit = {
    val data = argv(0)
    val oracle = SparkEntry.oracleSql
    val qs = Seq(ClosedLoop.analytic, ClosedLoop.iterative, ClosedLoop.neardup).flatMap(_.queries).distinct.sorted
    lazy val spark = Session.create(java.nio.file.Paths.get(argv(1)))
    val entries = qs.map { q =>
      q -> (oracle.get(q) match {
        case Some(sql) => Map("sql" -> sql)
        case None => Map("rows" -> SparkEntry.queries(q)(spark, data).collect().length.toLong)
      })
    }
    println(Json(entries.toMap))
  }
}
