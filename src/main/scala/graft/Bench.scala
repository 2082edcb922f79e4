package graft
object Bench {
  /** Bench-drift adjudication, codified from the house rule the round-9/10
    * verdicts applied by hand: per-query steady ratios against a prior
    * run, with the verdict read off their CONCENTRATION —
    *  - a query whose ratio is ≥ 1.5× the run's MEDIAN ratio (and whose
    *    prior steady is ≥ 0.6 s — sub-0.6 s rows are scheduler-latency
    *    noise, the documented contention band) is a CONCENTRATED outlier:
    *    code changed something (round 9 caught a 2× q41 exactly here);
    *  - no outliers but median ≥ 1.25 → the whole bench moved together:
    *    machine contention, not a regression (ratios normalize it away);
    *  - otherwise no_regression.
    * Returns (medianRatio, outliers sorted worst-first, verdict). */
  /** Cross-run drift adjudication. `envFactor` is the machine-state
    * control: the median ratio of the SHARED pipeline builds (identical
    * code in both runs, so any shift there measures the box, not the
    * engine). When the box itself moved ≥1.5× either way, per-query
    * ratios are void — a query can look "concentratedly regressed"
    * purely because its cost is hypersensitive to machine state (the
    * 2026-08-15 q141 misfire: flagged 3.75×, same-commit A/B on the
    * shifted box reproduced the slowdown bit for bit on OLD code) — so
    * the verdict is `environment_shift`: rerun when quiet, or A/B the
    * prior commit on the same machine in the same hour.
    *
    * VALIDITY LIMIT (round-11 advice): the control is engine code under
    * test, not a fixed workload — it is only a machine-state probe across
    * runs of the SAME commit, or commits that do not touch the shared
    * pipelines (graft.queries.SharedPipelines and everything they call).
    * A commit that genuinely slows those pipelines ≥1.5× would inflate
    * envFactor and void every per-query outlier as `environment_shift`,
    * masking a real regression. Before accepting an `environment_shift`
    * verdict, corroborate with the `load_before`/`load_after` stamps the
    * record already carries (a load1 far above the CPU count at bench
    * time confirms contention; a quiet stamp plus envFactor ≥ 1.5 across
    * a shared-pipeline-touching commit means A/B the prior commit on the
    * same box instead). */
  def adjudicate(cur: Map[String, Double], prior: Map[String, Double],
      envFactor: Double = 1.0)
      : (Double, Seq[(String, Double)], String) = {
    val shared = cur.keySet.intersect(prior.keySet).toSeq
      .filter(k => prior(k) > 0)
    require(shared.nonEmpty, "adjudicate: no shared queries with prior steady > 0")
    val ratios = shared.map(k => k -> cur(k) / prior(k))
    val med = median(ratios.map(_._2))
    val outliers = ratios
      .filter { case (k, r) => prior(k) >= 0.6 && med > 0 && r / med >= 1.5 }
      .sortBy(-_._2)
    val verdict =
      if (envFactor >= 1.5 || envFactor <= 0.67) "environment_shift"
      else if (outliers.nonEmpty) "concentrated_regression"
      else if (med >= 1.25) "broad_contention"
      else "no_regression"
    (med, outliers, verdict)
  }

  /** The shared-build map out of a prior bench_full.json (absent in
    * pre-round-10 records → empty). */
  def parseShared(path: String): Map[String, Double] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    val sh = root.get("shared")
    if (sh == null || !sh.isObject) return Map.empty
    val it = sh.properties().iterator()
    val b = Map.newBuilder[String, Double]
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.isNumber) b += e.getKey -> e.getValue.asDouble()
    }
    b.result()
  }

  /** queries_steady map out of a prior bench_full.json (non-numeric /
    * null entries — failed queries — are skipped). */
  def parseSteady(path: String): Map[String, Double] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    val qs = root.get("queries_steady")
    require(qs != null && qs.isObject,
      s"$path has no queries_steady object — not a bench_full record")
    val it = qs.properties().iterator()
    val b = Map.newBuilder[String, Double]
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.isNumber) b += e.getKey -> e.getValue.asDouble()
    }
    b.result()
  }
  /** Median of a non-empty sequence; for even sizes, the lower-middle element
    * (order statistic, not interpolation — keeps the figure an actually
    * observed elapsed time). */
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s((s.size - 1) / 2)
  }

  /** One-line machine-contention snapshot stamped into the bench record so a
    * contended run self-identifies: `/proc/loadavg` 1-minute figure plus the
    * runnable/total process counts it carries, and the JVM's CPU count. A
    * loadavg far above the CPU count at bench time means the numbers measure
    * the machine, not the engine. */
  private def loadavgStamp(): String = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val raw =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").trim
      catch { case _: Throwable => "" }
    // "/proc/loadavg" = "0.52 0.58 0.59 1/1290 12345". Each numeric field
    // is validated before being spliced UNQUOTED into the JSON — a missing
    // /proc (macOS, minimal containers) must degrade to nulls, never to a
    // syntactically invalid record.
    val parts = raw.split("\\s+")
    def num(i: Int): String =
      if (parts.length > i && parts(i).matches("""\d+(\.\d+)?""")) parts(i) else "null"
    val procs = if (parts.length > 3 && parts(3).nonEmpty) "\"" + parts(3) + "\"" else "null"
    s"""{"load1":${num(0)},"load5":${num(1)},"runnable":$procs,"cpus":$cpus}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_BENCH_SKIP: comma-separated query names to EXCLUDE from
    // the run, itemized in the record as "skipped". Exists for the sf10
    // tier, where q22/q24's priced pre-flight refusals (DedupOps mass
    // guards — the asserted behavior at that mass) would otherwise turn
    // the whole bench into a nonzero exit; default empty, so every other
    // tier still runs the full surface and a typo'd name fails loudly.
    val skip = SparkEntry.knownQueries(sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty),
      "SPARK_GRAFT_BENCH_SKIP")
    val spark = graft.engine.Engine.session()
    val loadBefore = loadavgStamp()
    // Untimed session warmup (JVM/codegen/catalog init) so whichever query
    // runs first isn't charged ~6 s of cold start; then time in sorted name
    // order for run-to-run comparability.
    try SparkEntry.queries.get("q02_count_all").foreach(_(spark, sfDir).count())
    catch { case _: Throwable => () }
    // Session-shared pipeline prefixes (graft.queries.SharedPipelines) are
    // built BEFORE any query is timed, each as its own named bench row:
    // pinned materializations otherwise charge their build to whichever
    // consumer query happens to run first (skewing that query's cold figure
    // and breaking per-query comparability across rounds) while every other
    // consumer reads blocks. Build order follows the dependency chain, so
    // each row times only its OWN increment (comps = CC over already-built
    // pairs). Their sum is added to the headline cold "value" — the work is
    // real and paid once per session — and itemized under "shared".
    val sharedBuilds: Seq[(String, () => Unit)] = {
      import graft.queries.SharedPipelines
      Seq(
        "shared_calib_candidates" -> (() => { SharedPipelines.calibratedCandidates(spark, sfDir); () }),
        "shared_calib_pairs" -> (() => { SharedPipelines.calibratedPairs(spark, sfDir); () }),
        "shared_calib_cc" -> (() => { SharedPipelines.calibratedComps(spark, sfDir); () }),
        "shared_calib_oldcc3" -> (() => { SharedPipelines.calibratedOldCompsMod3(spark, sfDir); () }),
        "shared_semantic_cc" -> (() => { SharedPipelines.semanticComps(spark, sfDir); () }),
        "shared_tuned_ann" -> (() => { SharedPipelines.tunedAnnIndex(spark, sfDir); () }))
    }
    val shared: Seq[(String, Option[Double])] = sharedBuilds.map { case (name, build) =>
      val t0 = System.nanoTime()
      val r = try { build(); Some((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        System.err.println(s"BENCH FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
        None
      }
      (name, r)
    }
    // A thrown query must never IMPROVE the bench: failures are recorded by
    // name, reported in the JSON, and fail the process (nonzero exit).
    // Each query is timed 4×: run1 (cold — includes its one-time codegen/JIT,
    // the number comparable to the frozen baseline and the headline "value")
    // then 3 steady-state runs whose MEDIAN is the steady figure. Min would
    // hide a systematically loaded machine; mean lets one GC/contention spike
    // poison the record; median-of-3 is robust to a single outlier in either
    // direction while staying an observed time.
    // A failed run's elapsed time (often a fast exception) is reported as
    // null and EXCLUDED from the totals — so the headline value is only
    // comparable when every query succeeded, and a broken query can never
    // shrink the bench. Failures also exit nonzero.
    val steadyRuns = 3
    val results = SparkEntry.queries.toSeq.filterNot(kv => skip(kv._1))
      .sortBy(_._1).map { case (name, fn) =>
      def one(): Option[Double] = {
        val t0 = System.nanoTime()
        val r = try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          System.err.println(s"BENCH FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
          None
        }
        // UNTIMED between-run sweep: drop this run's leftover state
        // (localCheckpoint blocks, cache entries) so run N+1 measures the
        // query, not the session's accumulated debris — the round-6 bench
        // measured 6–50× mid-session degradation from exactly this.
        // Session-scoped shared materializations (graft.engine.Shared) are
        // pinned and survive, as they would in any long-lived driver.
        graft.engine.Hygiene.sweep(spark)
        r
      }
      val cold = one()
      val steadies = Seq.fill(steadyRuns)(one())
      // One full GC + ContextCleaner drain per QUERY (not per run): frees
      // broadcast/shuffle state whose cleanup rides on GC, without paying
      // 4 collections per query.
      graft.engine.Hygiene.sweep(spark, gc = true)
      // Steady figure = median of the SUCCESSFUL steady runs (a transient
      // single-run failure with 2 valid observations still yields a
      // figure); only a query whose every steady run failed reports null
      // and lands in `failed`.
      val okSteadies = steadies.flatten
      val steady = if (okSteadies.nonEmpty) Some(median(okSteadies)) else None
      (name, cold, steady, okSteadies)
    }
    val loadAfter = loadavgStamp()
    // Millisecond precision: sub-ms digits are machine noise and only
    // bloat the JSON line past log-tail windows.
    def fmt(v: Option[Double]): String = v.fold("null")(d => (math.rint(d * 1000) / 1000).toString)
    val qs = results.map { case (k, v, _, _) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val qsSteady = results.map { case (k, _, v, _) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // Per-query spread of the SUCCESSFUL steady runs as [min, median, max]:
    // the integrity signal a single median hides — a wide spread (or a
    // median above the cold run) flags contention/leak on THAT query
    // without re-running the whole bench. Empty array when every steady
    // run failed (the query is also in `failed`).
    val qsSpread = results.map { case (k, _, _, runs) =>
      val arr =
        if (runs.isEmpty) "[]"
        else s"[${fmt(Some(runs.min))},${fmt(Some(median(runs)))},${fmt(Some(runs.max))}]"
      s"\"" + k + "\":" + arr
    }.mkString("{", ",", "}")
    val failed = (shared.collect { case (k, None) => "\"" + k + "\"" } ++
        results.collect { case (k, c, s, _) if c.isEmpty || s.isEmpty => "\"" + k + "\"" })
      .mkString("[", ",", "]")
    val sharedTotal = shared.flatMap(_._2).sum
    // Headline cold value INCLUDES the shared-prefix builds: a session pays
    // them exactly once, and before round 8 they were hidden inside the
    // first consumer query's cold figure — excluding them now would make
    // the total look faster than any real cold session.
    val total = results.flatMap(_._2).sum + sharedTotal
    val steadyTotal = results.flatMap(_._3).sum
    val sharedJson = shared.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // `--baseline <prior bench_full.json>`: emit the drift adjudication
    // (per-query steady ratios, median, concentration verdict) the
    // round-9/10 verdicts computed by hand. Parse/shape errors in the
    // baseline surface as a "baseline_error" field, never a failed bench.
    val baselineJson = args.sliding(2).collectFirst {
      case Array("--baseline", p) => p
    }.map { p =>
      try {
        val prior = parseSteady(p)
        val curSteady = results.collect { case (k, _, Some(s), _) => k -> s }.toMap
        val priorShared = parseShared(p)
        val curShared = shared.collect { case (k, Some(v)) => k -> v }.toMap
        val envKeys = curShared.keySet.intersect(priorShared.keySet).toSeq
          .filter(k => priorShared(k) > 0)
        val envFactor = if (envKeys.nonEmpty)
          median(envKeys.map(k => curShared(k) / priorShared(k))) else 1.0
        val (med, outliers, verdict) = adjudicate(curSteady, prior, envFactor)
        val outJson = outliers.map { case (k, r) =>
          s"\"" + k + "\":" + (math.rint(r * 1000) / 1000) }.mkString("{", ",", "}")
        s""","baseline":{"path":"$p","n_shared":${
          curSteady.keySet.intersect(prior.keySet).size
        },"median_ratio":${math.rint(med * 1000) / 1000},""" +
          s""""env_factor":${math.rint(envFactor * 1000) / 1000},"outliers":$outJson,""" +
          s""""verdict":"$verdict"}"""
      } catch { case e: Throwable =>
        s""","baseline_error":"${e.getMessage.replaceAll("[\"\\\\\\n\\r\\t]", " ")}""""
      }
    }.getOrElse("")
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""steady_total":$steadyTotal,"steady_runs":$steadyRuns,"steady_stat":"median",""" +
      s""""queries_steady":$qsSteady,"queries_spread":$qsSpread,""" +
      s""""shared":$sharedJson,"shared_total":${fmt(Some(sharedTotal))},""" +
      s""""failed":$failed,"skipped":${
        skip.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")},"sf":"$sfDir",""" +
      s""""load_before":$loadBefore,"load_after":$loadAfter$baselineJson}"""
    // Full line first (humans, files), COMPACT line last: a log-tail window
    // shorter than the per-query dicts cuts the full line mid-JSON, so the
    // final line a tail parser sees must be short enough to always fit.
    println(fullJson)
    try {
      val p = java.nio.file.Paths.get("target", "bench_full.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, (fullJson + "\n").getBytes("UTF-8"))
    } catch { case _: java.io.IOException => () } // best-effort copy, never fails the bench
    println(s"""{"metric":"total","value":$total,"unit":"sec","steady_total":$steadyTotal,""" +
      s""""failed":$failed,"sf":"$sfDir","load_after":$loadAfter,"detail":"target/bench_full.json"}""")
    spark.stop()
    if (shared.exists(_._2.isEmpty) ||
      results.exists(r => r._2.isEmpty || r._3.isEmpty)) sys.exit(1)
  }
}
