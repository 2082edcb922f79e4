package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Session-state hygiene for long-lived drivers.
  *
  * A single long-lived SparkSession that executes hundreds of queries (a
  * benchmark pass, a query service, a 100 TB pipeline driver) accumulates
  * state the queries themselves never see: `localCheckpoint` RDD blocks
  * (freed only when the ContextCleaner notices the RDD object was GC'd —
  * which under a large, mostly-idle heap can lag by HOURS), CacheManager
  * entries, broadcast blocks, and shuffle files. Round 6's bench measured
  * the cost: composite queries ran 6–50× slower mid-session than in a
  * fresh session, purely from this accumulation. The fix is twofold:
  * operators release superseded iteration state eagerly (the
  * [[Materialize]] policy's `scoped` and `rounds`), and session drivers
  * call [[sweep]] between queries.
  */
object Hygiene {

  /** Between-query state reset for a long-lived session. Unpersists every
    * persistent RDD (localCheckpoint leftovers included) but the
    * checkpoints behind this application's [[Shared]] entries (later
    * queries re-read them, and a dropped one cannot be recomputed),
    * clears the CacheManager, and — when `gc` — runs a full GC plus a
    * short pause so the ContextCleaner drains its reference queue
    * (broadcast and shuffle cleanup ride on GC noticing dead references;
    * an idle 128 GiB heap may otherwise not collect for the whole run).
    * Call it OUTSIDE any timed window, and never concurrently with a
    * running query (it would unpersist mid-flight iteration state). */
  def sweep(spark: SparkSession, gc: Boolean = false): Unit = {
    spark.catalog.clearCache()
    val shared = Shared.backing(spark)
    Materialize.free(spark.sparkContext.getPersistentRDDs.collect {
      case (id, rdd) if !shared(id) => rdd
    })
    if (gc) {
      System.gc()
      // The ContextCleaner's keepCleaning thread polls a ReferenceQueue the
      // GC just populated; give it one beat to issue the unpersist/remove
      // RPCs before the next query starts allocating.
      Thread.sleep(50L)
    }
  }
}

/** Session-scoped shared materializations: deterministic intermediates
  * several queries rebuild identically (the minhash candidate-pair list
  * feeding q53/q101/q111, the semantic near-dup clusters feeding q61/q110)
  * are computed ONCE per (application, key) and served from an eager
  * localCheckpoint. Each query's RESULT is unchanged — only the shared
  * prefix's recomputation is elided — so oracle semantics are untouched.
  * [[Hygiene.sweep]] keeps the entries; [[Shared.clear]] drops
  * and frees them (end of session, or tests). */
object Shared {

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()

  /** The shared materialization for `key`, building it from `build` on
    * first use. The build is cut eagerly ([[Materialize.checkpoint]]) so
    * every consumer — including the first — reads blocks, not a live plan
    * whose lineage would re-run per consumer. Keyed by applicationId so a
    * new SparkContext in the same JVM never reads a dead context's blocks.
    *
    * The build runs OUTSIDE any map lock: an eager localCheckpoint is a
    * full Spark job (potentially minutes for a CC prefix), and running it
    * inside `computeIfAbsent` would hold the bin lock for the duration —
    * blocking unrelated keys on the same stripe and deadlocking a build
    * that re-enters the map. Two racing threads may both build; the
    * publish is `putIfAbsent` and the loser releases its duplicate. */
  def cached(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val k = (spark.sparkContext.applicationId, key)
    val hit = cache.get(k)
    if (hit != null) hit
    else {
      val out = Materialize.checkpoint(build)
      val prior = cache.putIfAbsent(k, out)
      if (prior == null) out
      else {
        Materialize.release(out)
        prior
      }
    }
  }

  private val valueCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), AnyRef]()

  /** [[cached]] for small DRIVER-side artifacts that are not DataFrames —
    * a trained [[graft.operators.SimilarityOps.AnnIndex]], a fitted config
    * tuple: values whose whole point is to be computed once per session
    * (training is the expensive step) and then consulted cheaply. Same
    * build-outside-the-lock / publish-with-putIfAbsent discipline as
    * [[cached]]; the loser's duplicate needs no release (plain JVM value,
    * no blocks). Keyed by applicationId like the DataFrame cache so
    * a value derived from one context's data is never served to another. */
  def cachedValue[T <: AnyRef](spark: SparkSession, key: String)(build: => T): T = {
    val k = (spark.sparkContext.applicationId, key)
    val hit = valueCache.get(k)
    if (hit != null) hit.asInstanceOf[T]
    else {
      val out = build
      val prior = valueCache.putIfAbsent(k, out)
      if (prior == null) out else prior.asInstanceOf[T]
    }
  }

  /** The ids of the RDDs behind this application's entries. */
  private[engine] def backing(spark: SparkSession): Set[Int] = {
    val app = spark.sparkContext.applicationId
    cache.asScala.collect { case ((`app`, _), df) => Materialize.backingRdds(df) }
      .flatten.map(_.id).toSet
  }

  /** Drop and free every shared entry of this application. */
  def clear(spark: SparkSession): Unit = {
    val app = spark.sparkContext.applicationId
    val it = cache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 == app) {
        Materialize.release(e.getValue)
        it.remove()
      }
    }
    val vit = valueCache.entrySet().iterator()
    while (vit.hasNext) {
      if (vit.next().getKey._1 == app) vit.remove()
    }
  }
}
