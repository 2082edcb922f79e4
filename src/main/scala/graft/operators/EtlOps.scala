package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's batch-ETL operators (/root/reference/transform.py),
  * re-expressed as declarative Spark plans.
  *
  * Scale posture: every operator here is a window over
  * `partitionBy(entity).orderBy(time)` or a key-partitioned join — both
  * shuffle exactly once on the entity key and then stream; no driver-side
  * loops, no collect. At 100 TB the trip/entity key is high-cardinality, so
  * the shuffle is well-spread; AQE handles residual skew.
  */
object EtlOps {

  /** F6 (transform.py:28-37, 149-157): parse the reference's
    * `"25DEC2022:00:00:00"` OPD_DATE format. Done reference-faithfully with
    * substring + month-name map (Java's `MMM` pattern is case-sensitive and
    * would reject the uppercase month), all codegen-friendly built-ins. */
  def parseOpdDate(opd: Column): Column = {
    val datePart = substring_index(opd, ":", 1) // "25DEC2022"
    val day = substring(datePart, 1, 2).cast("int")
    val monName = substring(datePart, 3, 3)
    val year = substring(datePart, 6, 4).cast("int")
    val mon = Seq("JAN" -> 1, "FEB" -> 2, "MAR" -> 3, "APR" -> 4, "MAY" -> 5, "JUN" -> 6,
      "JUL" -> 7, "AUG" -> 8, "SEP" -> 9, "OCT" -> 10, "NOV" -> 11, "DEC" -> 12)
      .foldLeft(lit(null).cast("int")) { case (acc, (n, v)) =>
        when(upper(monName) === n, v).otherwise(acc)
      }
    make_date(year, mon, day)
  }

  /** F7 (transform.py:40-59): OPD_DATE + ACT_TIME seconds-since-midnight →
    * timestamp, where ACT_TIME may exceed 86400 (service day rolls past
    * midnight). Interval addition handles the >24 h rollover natively. */
  def synthesizeTimestamp(opdDate: Column, actTimeSec: Column): Column =
    to_timestamp(opdDate) + make_dt_interval(lit(0), lit(0), lit(0), actTimeSec.cast("double"))

  /** W1+W2 (transform.py:204-259): per-entity speed derivation.
    *
    * Within `partitionCol` ordered by `orderCols`:
    * speed[i] = (meters[i] − meters[i−1]) / (timeSec[i] − timeSec[i−1]),
    * NULL when there is no previous row or Δt ≤ 0 (transform.py:225);
    * then the FIRST row of each entity backfills with the SECOND row's
    * computed speed (transform.py:252-259) — singleton entities stay NULL.
    *
    * One shuffle on the entity key; everything after is a streaming window.
    *
    * `dtToSeconds` converts the raw Δtime to seconds AFTER the lag
    * subtraction. Pass the time column in its native integer unit (e.g.
    * int64 nanos) and convert the small delta here: casting absolute epoch
    * nanos to double BEFORE differencing quantizes to 256 ns at 2024-epoch
    * magnitudes and visibly corrupts the derivative's 6th decimal.
    */
  def deriveSpeed(df: DataFrame, partitionCol: Column, orderCols: Seq[Column],
      meters: Column, timeSec: Column, out: String = "speed",
      dtToSeconds: Column => Column = identity): DataFrame = {
    val w = Window.partitionBy(partitionCol).orderBy(orderCols: _*)
    val dv = meters - lag(meters, 1).over(w)
    val dt = dtToSeconds(timeSec - lag(timeSec, 1).over(w))
    val raw = when(dt > 0, dv / dt) // NULL on first row (lag null) or Δt<=0
    df.withColumn("__speed_raw", raw)
      .withColumn(out,
        when(row_number().over(w) === 1, lead(col("__speed_raw"), 1).over(w))
          .otherwise(col("__speed_raw")))
      .drop("__speed_raw")
  }

  /** A8+F11+F16 (transform.py:146-183): dimension extraction — the first
    * record per entity (deterministic order) defines the dim row. */
  def extractDim(df: DataFrame, key: Column, orderCols: Seq[Column], dimCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .select(dimCols: _*)
  }

  /** J2 (transform.py:190-195): `ON CONFLICT DO NOTHING` ≙ left-anti join of
    * incoming against existing keys, then append. No transactional sink in
    * Spark — idempotency comes from re-runnable anti-join + partition
    * overwrite (S9). The existing side is keys-only (pruned to the join
    * columns), so at scale it broadcast- or shuffle-joins on the key alone.
    *
    * '''Verified against real PostgreSQL 15''' (round 13,
    * `PostgresUpsertParitySpec`: throwaway initdb'd cluster, the
    * reference's exact statement replayed via psql, end states compared
    * bit-for-bit). Caveat the parity run surfaced: PG's DO NOTHING also
    * arbitrates IN-BATCH duplicate keys (first physical row wins), which a
    * bare anti-join does not — feed batches through
    * [[extractDim]](key, batch order) first when the incoming stream can
    * carry same-key rows; the spec asserts both the faithful composition's
    * parity and the naive form's divergence. */
  def upsertNewKeys(incoming: DataFrame, existingKeys: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(existingKeys.select(keys.map(col): _*).distinct(), keys, "left_anti")

  /** S7 (transform.py:114-126): corrupt-line-tolerant JSONL scan. PERMISSIVE
    * mode mirrors the reference's skip-and-log loop: bad lines land in
    * `_corrupt_record` instead of failing the job. Returns (good, corrupt),
    * one lazily checkpointed scan under both: free it with
    * [[graft.engine.Materialize.release]] of either once both are read. */
  def readJsonlTolerant(spark: SparkSession, path: String, schema: StructType): (DataFrame, DataFrame) = {
    val raw = graft.engine.Materialize.checkpoint(spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path), eager = false)
    val good = raw.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
    val bad = raw.filter(col("_corrupt_record").isNotNull).select(col("_corrupt_record"))
    (good, bad)
  }

  /** S9 (transform.py:62-83): idempotent partition reload — the reference's
    * DELETE-day-then-INSERT becomes dynamic partition overwrite: only the
    * date partitions present in `df` are replaced, the rest untouched. */
  def overwriteDatePartitions(df: DataFrame, dateCol: Column, path: String): Unit =
    // Per-write option, NOT spark.conf.set: mutating the session conf would
    // silently make every later partitioned overwrite in the session dynamic.
    df.withColumn("date", to_date(dateCol))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("date").parquet(path)

  /** S8 (transform.py:263-288): the reference streams 1000-row
    * `execute_values` batches into PostgreSQL. Spark-native equivalent:
    * `df.write.jdbc` with `batchsize` — every executor writes its own
    * partitions in `batchSize`-row round trips, so load parallelism equals
    * the partition count (the reference's batching, at cluster width).
    * Spec-verified offline against an embedded file-backed Derby database
    * (EtlOpsSpec) — the same `write.jdbc` code path the reference's
    * PostgreSQL target exercises, no network needed. */
  def writeJdbcBatched(df: DataFrame, url: String, table: String,
      props: java.util.Properties, batchSize: Int = 1000): Unit = {
    // Never mutate the caller's Properties: stamping batchsize into a shared
    // connection-props object would leak into every later jdbc write.
    val p = new java.util.Properties()
    p.putAll(props)
    p.setProperty("batchsize", batchSize.toString)
    df.write.mode("append").jdbc(url, table, p)
  }

  /** S3 analogue (data_collector.py:68-79): raw ingest sink partitioned by
    * vehicle and event date. */
  def writeRawPartitioned(df: DataFrame, vehicleCol: Column, dateCol: Column, path: String): Unit =
    df.withColumn("vehicle_id", vehicleCol).withColumn("date", to_date(dateCol))
      .write.mode("append").partitionBy("vehicle_id", "date").json(path)

  /** Slowly-changing-dimension TYPE-2 merge — the versioned upgrade of
    * [[upsertNewKeys]]' Type-1 discipline (transform.py:190-195 keeps only
    * the latest row; a warehouse that must answer "what was this dimension
    * worth when the fact happened" keeps every version with validity
    * intervals instead). One batch of updates is applied to a standing
    * dimension `dim` (key cols + `tracked` cols + `validFrom`/`validTo`,
    * current rows marked by NULL `validTo`):
    *
    *  - a CHANGED current row (any tracked column differs, null-safely) is
    *    closed (`validTo` = `effective`) and a new current version opens
    *    at `effective`;
    *  - an unchanged current row, a current row with no update, and every
    *    closed history row pass through untouched;
    *  - an update for an absent key inserts its first current row.
    *
    * Callers must feed ONE update row per key per batch (collapse a CDC
    * stream to last-per-key first — [[graft.streaming.StreamingOps]]'
    * dedup does exactly that); two same-key updates at one effective date
    * have no defined version order.
    *
    * Plan shape: history rows take a filter-only path that never enters
    * the join; current rows FULL-OUTER-join the batch on the key (the
    * batch is typically ≪ dim and broadcastable, but full-outer forces a
    * shuffle join — at 100 TB both sides hash-partition on the key once
    * and the two output branches reuse that one exchange). The changed
    * flag is a null-safe column comparison, the closed/opened variants are
    * two projections of the SAME joined frame unioned back with history —
    * no second join, no window. */
  def scd2Apply(dim: DataFrame, updates: DataFrame, keys: Seq[String],
      tracked: Seq[String], effective: Column,
      validFrom: String = "valid_from", validTo: String = "valid_to"): DataFrame = {
    require(keys.nonEmpty && tracked.nonEmpty, "need key and tracked columns")
    val outCols = (keys ++ tracked :+ validFrom :+ validTo).map(col)
    val hist = dim.filter(col(validTo).isNotNull).select(outCols: _*)
    val cur = dim.filter(col(validTo).isNull)
      .withColumn("__has_c", lit(true))
    val u = updates.select(
      keys.map(col) ++ tracked.map(c => col(c).as(s"__u_$c")) :+
        lit(true).as("__has_u"): _*)
    val j = cur.join(u, keys, "full_outer")
    val changed = col("__has_c").isNotNull && col("__has_u").isNotNull &&
      tracked.map(c => !(col(c) <=> col(s"__u_$c"))).reduce(_ || _)
    val toType = dim.schema(validTo).dataType
    val closedOrKept = j.filter(col("__has_c").isNotNull)
      .select(keys.map(col) ++ tracked.map(col) :+ col(validFrom) :+
        when(changed, effective).otherwise(lit(null)).cast(toType).as(validTo): _*)
    val opened = j.filter(col("__has_u").isNotNull &&
        (col("__has_c").isNull || changed))
      .select(keys.map(col) ++ tracked.map(c => col(s"__u_$c").as(c)) :+
        effective.as(validFrom) :+ lit(null).cast(toType).as(validTo): _*)
    hist.unionByName(closedOrKept).unionByName(opened)
  }

  /** MERGEABLE rollup state — the materialized-summary-table pattern: a
    * standing (keys..., n_rows, sum_v, min_v, max_v) aggregate whose
    * fields form a commutative monoid, so a fresh batch's partial state
    * merges into the standing table WITHOUT rescanning history (the
    * insert-only incremental-view-maintenance case; updates/deletes need
    * the SCD or delete-before-load operators). At 100 TB this is the
    * difference between a dashboard refresh costing one batch scan and
    * costing one fact-table scan. AVG is derived (sum/n), never stored —
    * averages don't merge; exact COUNT(DISTINCT) doesn't either, which
    * is precisely what the mergeable HLL register state
    * ([[SketchOps]], q136) exists for. NULL measures follow SQL
    * aggregate semantics (skipped by min/max, null-safe 0 in sums)
    * via count/sum/min/max themselves. */
  def rollupState(df: DataFrame, keys: Seq[String], value: Column): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(value).as("n_rows"), sum(value).as("sum_v"),
        min(value).as("min_v"), max(value).as("max_v"))

  /** Merge two [[rollupState]] frames by the same keys: counts and sums
    * add, min/max fold — `mergeRollup(rollupState(a), rollupState(b)) ≡
    * rollupState(a ∪ b)` (bit-exact for integral measures; float sums
    * re-associate, so queries round at OUTPUT, never in state). Keys in
    * only one side pass through unchanged (sum/min/max over the single
    * present row). */
  def mergeRollup(standing: DataFrame, fresh: DataFrame,
      keys: Seq[String]): DataFrame = {
    val cols = keys ++ Seq("n_rows", "sum_v", "min_v", "max_v")
    require(cols.forall(standing.columns.contains) && cols.forall(fresh.columns.contains),
      s"mergeRollup expects rollupState schema (${cols.mkString(", ")})")
    standing.select(cols.map(col): _*)
      .unionByName(fresh.select(cols.map(col): _*))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("n_rows")).as("n_rows"), sum(col("sum_v")).as("sum_v"),
        min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"))
  }
}
