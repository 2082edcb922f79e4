package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** One-time session preparation: nanos-as-long parquet reading, and
  * graft's native functions, optimizer rules and planner strategies
  * (`GraftFunctions.table`, `.rules` and `.strategies`, the ones
  * `graft.GraftExtensions` injects into a session it builds).
  *
  * A prepared session sorts a small query result in one task: a global
  * sort at the plan root whose input is estimated at most
  * `spark.sql.autoBroadcastJoinThreshold` runs without the range-sampling
  * job (`graft.plans.GatherSmallSorts`); setting the threshold to -1 turns
  * that off with broadcast joins.
  *
  * The driver CONSTRUCTS the SparkSession (the contract hands
  * `SparkEntry.queries` a ready session), so there is no builder hook to
  * attach `SparkSessionExtensions` to — session preparation has to happen on
  * first use instead. It lives here, explicitly, rather than as a hidden
  * side effect sprinkled through readers; [[Tables.table]] runs it through
  * [[schemaCache]], and library users with their own sessions can call
  * [[ensureInitialized]] directly. Guarded per-session (weak refs — sessions
  * are never pinned), so repeated reads never re-mutate shared state; the
  * same registry holds each session's table schemas.
  *
  * Entry points that do construct their own session (Bench, Verify, the
  * generators and the diagnostics) all go through [[session]], so every
  * in-repo session runs the same confs.
  */
object Engine {

  /** [[Tables.table]]'s schema cache: qualified path -> (version, schema). */
  private[engine] type SchemaCache =
    java.util.concurrent.ConcurrentHashMap[String, (Tables.Version, StructType)]

  /** Prepared sessions, each with its own schema cache: the inferred schema
    * depends on session confs (`nanosAsLong`, `inferTimestampNTZ`). Nothing
    * in a cache refers to its session, so the weak keys pin none. */
  private val sessions = new java.util.WeakHashMap[SparkSession, SchemaCache]()

  /** Local parallelism for in-repo sessions: `SPARK_GRAFT_CPUS` when set,
    * else the cores this JVM may use. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The confs of every in-repo session, pure so a spec can pin them. */
  private[graft] def sessionConf(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // Task-memory page size pinned to 1m (r15, guide §5): Spark derives
    // the default page from heap/cores — ~16m under a 16g local heap —
    // so EVERY sort/agg task preallocates ~16m, and wide tiny-partition
    // stages churn gigabytes of short-lived pages (measured as the
    // multi-second steady spikes the r15 baseline caught on q162/q141).
    // 1m pages cost only more page-table entries for genuinely large
    // per-task state. Static conf, so it rides the builder (the engine's
    // runtime confs live in ensureInitialized); it is also what arms the
    // paired 64k AQE floor there (aqeFloorFor).
    "spark.buffer.pageSize" -> "1m",
    // Whole-stage-codegen compile cache 100 -> 5000 entries (r15): a
    // 176-query session generates far more than 100 codegen units, and
    // many queries share fragment shapes (table scans, shingle windows,
    // minhash aggregates) - at the default size the cache thrashes
    // between queries and every cold run recompiles shapes the session
    // already compiled. Measured: median per-query COLD ratio 0.949 and
    // shared builds 2.4->1.5 / 4.2->2.9 s on a busier box (full-bench
    // A/B, OPTIMIZATION_r15.md). Cost: compiled classes live in
    // metaspace (~tens of MB at this surface).
    "spark.sql.codegen.cache.maxEntries" -> "5000")

  /** The one session builder of the repo's entry points: [[sessionConf]]
    * plus `overrides` (last wins), log level WARN, engine initialized. */
  def session(cpus: Int = defaultCpus,
      overrides: Seq[(String, String)] = Nil): SparkSession = {
    val spark = (sessionConf(cpus).toSeq ++ overrides)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensureInitialized(spark)
    spark
  }

  /** The AQE-floor decision, pure so the pairing contract is testable:
    * Some("64k") only when the session pinned `spark.buffer.pageSize` at or
    * below 4m ([[session]] pins 1m) — never for a session with
    * auto-derived task pages. */
  private[graft] def aqeFloorFor(pageSize: Option[String]): Option[String] =
    if (pageSize.exists(p =>
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(p) <= 4L * 1024 * 1024))
      Some("64k")
    else None

  def ensureInitialized(spark: SparkSession): Unit = schemaCache(spark)

  /** The session's schema cache, preparing the session on its first call. */
  private[engine] def schemaCache(spark: SparkSession): SchemaCache = synchronized {
    val known = sessions.get(spark)
    if (known != null) known
    else {
      // The current tiers stamp events.ts as TIMESTAMP(MICROS) (read as
      // NTZ); the nanos form is still read. TIMESTAMP(NANOS) is
      // unrepresentable in Spark's µs TimestampType, so it is read as raw
      // int64 nanos (Tables.events derives µs).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // AQE coalescing floor 1m → 64k (r15, guide §2.5): this engine's hot
      // operators are CPU-DENSE PER BYTE (shingle md5/minhash folds, banded
      // DP, VecDot) — a few MB of shuffle carries seconds of compute, and
      // the byte-based floor was measured squeezing such stages to 1-5
      // tasks on a 32-core box. With parallelismFirst=true (default) the
      // coalescing target is max(totalBytes/parallelism, THIS floor), so at
      // cluster scale — where totalBytes/parallelism ≫ 64k — the setting is
      // inert; it only stops the degenerate small-shuffle case from
      // serializing compute-bound stages. Interleaved same-box A/B
      // (OPTIMIZATION_r15.md): wins 10-20% steady on the minhash family and
      // removes multi-second steady spikes, PROVIDED spark.buffer.pageSize
      // is not left to auto-scale with a large heap — the r15 A/B measured
      // the floor ALONE making the minhash family 3-4× WORSE under a 16g
      // heap (32 concurrent tiny-partition sort tasks each preallocating
      // ~16m auto-derived task pages). r16 (verdict "what's wrong" #1):
      // the floor therefore engages ONLY when the session pinned
      // spark.buffer.pageSize to a small value (≤ 4m — Engine.session
      // pins 1m), i.e. the two knobs now live or die TOGETHER; a
      // session without the page pin (an external consumer, a bare spark-
      // shell) keeps Spark's default floor and can never inherit the
      // measured floor-without-pages pathology. Results are partition-
      // count-invariant by construction (bitwise invariance gate).
      aqeFloorFor(spark.sparkContext.getConf.getOption("spark.buffer.pageSize")).foreach(
        spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", _))
      // Let AQE rewrite sort-merge joins to shuffled-hash at runtime when
      // every post-shuffle build partition fits under this bound (r16,
      // guide §3.1 — default 0 disables the rewrite entirely). The cap's
      // semi-join filter (capShingleDfQuantile) is the motivating case:
      // with a small survivor set AQE broadcasts it, with a large one this
      // rewrite gives a hash join — and without it the planner's SMJ
      // re-sorts the full exploded shingle stream (sf10 A/B: the shared
      // calibrated build 14.0 s hash vs 16.9 s sort-merge, q118 89 s
      // broadcast vs 103 s when a hint pinned shuffle-hash and blocked the
      // broadcast). 64m bounds per-task build memory (× cores = well under
      // any sane executor heap).
      spark.conf.set("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      graft.functions.GraftFunctions.register(spark)
      spark.experimental.extraOptimizations ++= graft.functions.GraftFunctions.rules
        .filterNot(spark.experimental.extraOptimizations.contains)
      spark.experimental.extraStrategies = graft.functions.GraftFunctions.strategies
        .filterNot(spark.experimental.extraStrategies.contains) ++ spark.experimental.extraStrategies
      val fresh = new SchemaCache
      sessions.put(spark, fresh)
      fresh
    }
  }
}
