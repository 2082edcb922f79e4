package graft.queries

import graft.engine.Semantics._
import graft.engine.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's 13-query analytic surface (/root/reference/analytic.sql:1-191)
  * re-hosted onto the testdata fixtures per FIXTURES.md: BreadCrumb fact →
  * `events`/`lineitem`, Trip dim → `orders`. Pure Catalyst — every query is a
  * declarative DataFrame plan; pushdown/pruning/broadcast come from the
  * optimizer, not hand-scheduling.
  *
  * Determinism contract: every query ends in a full-tie-break ORDER BY and
  * rounds float aggregates, so Spark and the DuckDB oracle agree row-for-row
  * (SURVEY §4 gotchas).
  */
object Relational extends QueryGroup {

  /** Q1 (analytic.sql:2-4): COUNT(*) on one event-date. P2+A1. The date
    * filter is a sargable ts range (pushed to the parquet scan; at 100 TB it
    * prunes date partitions). */
  /** A3 scale variant: HyperLogLog++ distinct count beside the exact
    * expand+two-phase one — at 100 TB the approx form is one pass with
    * constant state instead of a full shuffle of the distinct keys. No ANSI
    * oracle (HLL sketches are engine-specific) → driver rows-only check;
    * the <3% relative-error property is ScalaTest-verified. */
  private val q36 = QueryDef(
    "q36_approx_distinct_users",
    (s, dir) => Tables.events(s, dir)
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users")),
    None)

  /** A3's deterministic-sketch rung: q36's HyperLogLog re-expressed in
    * engine-portable arithmetic ([[graft.operators.SketchOps]] — md5
    * buckets, bin()-length ranks, FIXED-POINT harmonic sum) so the DuckDB
    * oracle re-executes the whole sketch and the estimate hash-matches
    * bit-for-bit — the first oracle-checked sketch in the surface (q36 and
    * q108 stay rows-checked because their sketches are engine-internal).
    * Raw estimator only (no linear-counting correction: its ln() is libm-
    * dependent); `rel_err` reports the resulting bias against the exact
    * count honestly. One hash-aggregate pass to 256 registers — constant
    * state at any corpus size, same posture as the native HLL. */
  private val q126 = QueryDef(
    "q126_hll_exact_oracle",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val est = graft.operators.SketchOps.hllEstimate(
        graft.operators.SketchOps.hllRegisters(ev, col("user_id"), p = 8), p = 8)
      est.crossJoin(broadcast(ev.agg(countDistinct(col("user_id")).as("exact_users"))))
        .withColumn("rel_err", roundz(
          col("hll_estimate") / col("exact_users").cast("double") - lit(1.0), 6))
    },
    Some(s"""WITH hx AS (SELECT md5(user_id::VARCHAR) AS h FROM events),
           |pr AS (SELECT ('0x' || substr(h, 1, 2))::BIGINT AS bucket,
           |    ('0x' || substr(h, 3, 13))::BIGINT AS w FROM hx),
           |rg AS (SELECT bucket,
           |    max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS reg
           |  FROM pr GROUP BY 1),
           |regs AS (SELECT sp.bucket, coalesce(rg.reg, 0) AS reg
           |  FROM (SELECT range AS bucket FROM range(256)) sp
           |  LEFT JOIN rg USING (bucket)),
           |agg AS (SELECT CAST(count(*) AS BIGINT) AS m,
           |    CAST(sum(CASE WHEN reg > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonzero_regs,
           |    CAST(sum(CAST(1 AS BIGINT) << CAST(53 - reg AS INTEGER)) AS BIGINT)
           |      AS harmonic_fp
           |  FROM regs),
           |est AS (SELECT m, nonzero_regs, harmonic_fp,
           |    ${OracleSql.hllEstimateSql("harmonic_fp")} AS hll_estimate
           |  FROM agg)
           |SELECT m, nonzero_regs, harmonic_fp, hll_estimate, exact_users,
           |  round(hll_estimate / CAST(exact_users AS DOUBLE) - 1, 6) + 0.0 AS rel_err
           |FROM est CROSS JOIN (SELECT CAST(count(DISTINCT user_id) AS BIGINT)
           |  AS exact_users FROM events)""".stripMargin))

  /** q126 per GROUP — the sketch a per-partition cardinality monitor
    * actually keeps (one register table per event type / source / tenant,
    * |groups|·2^p rows of state at any corpus size), via
    * [[graft.operators.SketchOps.hllRegistersGrouped]]. The oracle
    * re-executes the whole grouped sketch (group-keyed registers over a
    * DISTINCT-groups × range(2^p) frame) so every group's estimate
    * hash-matches bit-for-bit; `rel_err` per group reports the raw
    * estimator's small-range bias honestly (the sf0.01 per-type
    * cardinalities sit below the raw regime — the estimates still match
    * EXACTLY, which is the point of the exact-oracle discipline). */
  private val q136 = QueryDef(
    "q136_hll_grouped",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val est = graft.operators.SketchOps.hllEstimateGrouped(
        graft.operators.SketchOps.hllRegistersGrouped(
          ev, col("event_type"), col("user_id"), p = 8), p = 8)
        .withColumnRenamed("g", "event_type")
      // Null-safe exact join: hllRegistersGrouped deliberately preserves a
      // NULL group's sketch — an equi-join here would silently drop it at
      // the last step (the fixture has no NULL event_type; the contract
      // must not depend on that). Oracle mirrors with IS NOT DISTINCT FROM.
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
        .withColumnRenamed("event_type", "__et")
      est.join(exact, col("event_type") <=> col("__et")).drop("__et")
        .withColumn("rel_err", roundz(
          col("hll_estimate") / col("exact_users").cast("double") - lit(1.0), 6))
        // nulls LAST to match DuckDB's ascending default — the correctness
        // gate sorts rows before hashing so this is presentation-only, but
        // a user diffing raw outputs should see one order.
        .orderBy(asc_nulls_last("event_type"))
    },
    Some(s"""${OracleSql.hllGroupedRegsCtes},
           |agg AS (SELECT g, CAST(count(*) AS BIGINT) AS m,
           |    CAST(sum(CASE WHEN reg > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonzero_regs,
           |    CAST(sum(CAST(1 AS BIGINT) << CAST(53 - reg AS INTEGER)) AS BIGINT)
           |      AS harmonic_fp
           |  FROM regs GROUP BY 1),
           |est AS (SELECT g, m, nonzero_regs, harmonic_fp,
           |    ${OracleSql.hllEstimateSql("harmonic_fp")} AS hll_estimate
           |  FROM agg),
           |ex AS (SELECT event_type AS g, CAST(count(DISTINCT user_id) AS BIGINT)
           |    AS exact_users FROM events GROUP BY 1)
           |SELECT est.g AS event_type, m, nonzero_regs, harmonic_fp, hll_estimate,
           |  exact_users,
           |  round(hll_estimate / CAST(exact_users AS DOUBLE) - 1, 6) + 0.0 AS rel_err
           |FROM est JOIN ex ON est.g IS NOT DISTINCT FROM ex.g
           |ORDER BY event_type""".stripMargin))

  /** q136's PAIRWISE payoff — the reason the sketches exist: per pair of
    * event types, estimate the shared-user audience WITHOUT rescanning
    * events ([[graft.operators.SketchOps.hllOverlapEstimates]]: union =
    * bucket-wise register max, overlap = inclusion–exclusion over the
    * rounded estimates). `exact_overlap` (a distinct-pair self-join, the
    * cost the sketch path avoids at scale) sits beside each estimate so
    * the error is visible per pair; the whole construction — registers,
    * maxes, harmonic sums, the add/subtract — re-executes in DuckDB and
    * hash-matches. */
  private val q140 = QueryDef(
    "q140_hll_overlap",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      // r16 (guide §2.4): the register build rides the SAME distinct
      // (event_type, user_id) stream the exact path joins — HLL registers
      // are a max over md5(user_id), so duplicate rows cannot change any
      // register and the estimates are bit-identical to building from raw
      // events (the oracle still replays from raw events). One events scan
      // + one distinct exchange (ReusedExchange serves both consumers)
      // instead of two full scans, and 20× fewer md5 evaluations.
      val t = ev.select(col("event_type").as("g"), col("user_id")).distinct()
      val est = graft.operators.SketchOps.hllOverlapEstimates(
        graft.operators.SketchOps.hllRegistersGrouped(
          t, col("g"), col("user_id"), p = 8), p = 8)
      val exact = t.as("x").join(t.as("y"),
          col("x.user_id") === col("y.user_id") && col("x.g") < col("y.g"))
        .groupBy(col("x.g").as("ga"), col("y.g").as("gb"))
        .agg(count(lit(1)).as("exact_overlap"))
      est.join(exact, Seq("ga", "gb"), "left")
        .withColumn("exact_overlap", coalesce(col("exact_overlap"), lit(0L)))
        .withColumnRenamed("ga", "type_a").withColumnRenamed("gb", "type_b")
        .orderBy(asc_nulls_last("type_a"), asc_nulls_last("type_b"))
    },
    Some(s"""${OracleSql.hllGroupedRegsCtes},
           |marg AS (SELECT g,
           |    ${OracleSql.hllEstimateSql("sum(CAST(1 AS BIGINT) << CAST(53 - reg AS INTEGER))")} AS est
           |  FROM regs GROUP BY 1),
           |un AS (SELECT a.g AS ga, b.g AS gb,
           |    ${OracleSql.hllEstimateSql(
                  "sum(CAST(1 AS BIGINT) << CAST(53 - greatest(a.reg, b.reg) AS INTEGER))")} AS union_est
           |  FROM regs a JOIN regs b ON a.bucket = b.bucket AND a.g < b.g
           |  GROUP BY 1, 2),
           |ex AS (SELECT ta.g AS ga, tb.g AS gb, CAST(count(*) AS BIGINT) AS exact_overlap
           |  FROM (SELECT DISTINCT event_type AS g, user_id FROM events) ta
           |  JOIN (SELECT DISTINCT event_type AS g, user_id FROM events) tb
           |    ON ta.user_id = tb.user_id AND ta.g < tb.g
           |  GROUP BY 1, 2)
           |SELECT un.ga AS type_a, un.gb AS type_b,
           |  ma.est AS est_a, mb.est AS est_b, union_est,
           |  round((ma.est + mb.est) - union_est, 6) + 0.0 AS overlap_est,
           |  coalesce(ex.exact_overlap, 0) AS exact_overlap
           |FROM un
           |JOIN marg ma ON ma.g = un.ga
           |JOIN marg mb ON mb.g = un.gb
           |LEFT JOIN ex ON ex.ga = un.ga AND ex.gb = un.gb
           |ORDER BY type_a, type_b""".stripMargin))

  private val q01 = QueryDef(
    "q01_count_on_date",
    (s, dir) => Tables.events(s, dir)
      .filter(onDate(col("ts"), "2024-01-05"))
      .agg(count(lit(1)).as("cnt")),
    Some("SELECT count(*) AS cnt FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-05'"))

  /** Q2 (analytic.sql:6-9): ungrouped COUNT(*) over the whole fact. A1. */
  private val q02 = QueryDef(
    "q02_count_all",
    (s, dir) => Tables.events(s, dir).agg(count(lit(1)).as("cnt")),
    Some("SELECT count(*) AS cnt FROM events"))

  /** Q3 (analytic.sql:12-25): per-day-of-week average daily volume — grouped
    * count, COUNT(DISTINCT date), PG integer division (A2/A3/A6/A7), CASE
    * day-name labeling (F4), ORDER BY expression (O3). */
  private val q03 = QueryDef(
    "q03_events_per_dow",
    (s, dir) => Tables.events(s, dir)
      .groupBy(pgDow(col("ts")).as("dow"))
      .agg(
        intDiv(count(lit(1)), countDistinct(to_date(col("ts")))).as("events_per_day"),
        count(lit(1)).as("cnt"))
      .select(col("dow"), dayName(col("dow")).as("day_name"), col("events_per_day"), col("cnt"))
      .orderBy(col("dow")),
    Some("""SELECT extract(dow FROM ts) AS dow,
           |  CASE extract(dow FROM ts)
           |    WHEN 0 THEN 'Sunday' WHEN 1 THEN 'Monday' WHEN 2 THEN 'Tuesday'
           |    WHEN 3 THEN 'Wednesday' WHEN 4 THEN 'Thursday' WHEN 5 THEN 'Friday'
           |    ELSE 'Saturday' END AS day_name,
           |  count(*) // count(DISTINCT CAST(ts AS DATE)) AS events_per_day,
           |  count(*) AS cnt
           |FROM events GROUP BY 1, 2 ORDER BY dow""".stripMargin))

  /** Q4 (analytic.sql:28-34): DISTINCT entity ids inside a value range on one
    * date (P2/P3, U3, O1). The reference's lat/lon bounding box becomes a
    * range on `value`. */
  private val q04 = QueryDef(
    "q04_distinct_users_in_range",
    (s, dir) => Tables.events(s, dir)
      .filter(onDate(col("ts"), "2024-01-10") && col("value").between(50.0, 250.0))
      .select(col("user_id")).distinct()
      .orderBy(col("user_id")),
    Some("""SELECT DISTINCT user_id FROM events
           |WHERE CAST(ts AS DATE) = DATE '2024-01-10' AND value BETWEEN 50.0 AND 250.0
           |ORDER BY user_id""".stripMargin))

  /** Q5 (analytic.sql:38-57): fact⋈dim inner equi-join with extract-equality
    * and range predicates (J1, P3, P6). orders is the small side — Catalyst
    * broadcasts it (BHJ); at 100 TB rely on AQE + broadcast threshold. */
  private val q05 = QueryDef(
    "q05_join_dow_filter",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val ord = Tables.orders(s, dir)
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .filter(pgDow(col("o_orderdate")) === 1 && col("l_quantity").between(10.0, 30.0))
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity"), col("o_totalprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
    Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity, o_totalprice
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |WHERE extract(dow FROM o_orderdate) = 1 AND l_quantity BETWEEN 10.0 AND 30.0
           |ORDER BY l_orderkey, l_linenumber""".stripMargin))

  /** Q6 (analytic.sql:81-83): MAX over a nullable measure with IS NOT NULL
    * (A4, P4). */
  private val q06 = QueryDef(
    "q06_max_value",
    (s, dir) => Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .agg(max(col("value")).as("max_value")),
    Some("SELECT max(value) AS max_value FROM events WHERE value IS NOT NULL"))

  /** Q7 (analytic.sql:86-93): grouped COUNT(DISTINCT) with multi-key
    * mixed-direction ordering (A3, O2). */
  private val q07 = QueryDef(
    "q07_users_per_type",
    (s, dir) => Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("cnt"))
      .orderBy(desc("n_users"), asc("event_type")),
    Some("""SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS cnt
           |FROM events GROUP BY event_type ORDER BY n_users DESC, event_type""".stripMargin))

  /** Q8 (analytic.sql:96-104): longest per-entity time span, top-1 (A4, A9,
    * O4). Interval compared as whole seconds so all engines order alike;
    * user_id tie-break keeps top-k deterministic. Catalyst plans
    * TakeOrderedAndProject — no global sort. */
  private val q08 = QueryDef(
    "q08_longest_span_top1",
    (s, dir) => Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(secondsBetween(max(col("ts")), min(col("ts"))).as("span_sec"))
      .orderBy(desc("span_sec"), asc("user_id"))
      .limit(1),
    Some("""SELECT user_id,
           |  epoch_us(max(CAST(ts AS TIMESTAMP)))//1000000 - epoch_us(min(CAST(ts AS TIMESTAMP)))//1000000 AS span_sec
           |FROM events GROUP BY user_id ORDER BY span_sec DESC, user_id LIMIT 1""".stripMargin))

  /** Q9 (analytic.sql:107-126): UNION ALL of three labeled single-date counts
    * (U2, F15, P2). */
  private val q09 = QueryDef(
    "q09_union3_dates",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      def branch(d: String, label: String) =
        ev.filter(onDate(col("ts"), d))
          .agg(count(lit(1)).as("cnt"))
          .select(lit(label).as("which_date"), col("cnt"))
      branch("2024-01-05", "jan05")
        .union(branch("2024-01-15", "jan15"))
        .union(branch("2024-01-25", "jan25"))
        .orderBy(col("which_date"))
    },
    Some("""SELECT 'jan05' AS which_date, count(*) AS cnt FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-05'
           |UNION ALL
           |SELECT 'jan15' AS which_date, count(*) AS cnt FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'
           |UNION ALL
           |SELECT 'jan25' AS which_date, count(*) AS cnt FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-25'
           |ORDER BY which_date""".stripMargin))

  /** Q10.1 (analytic.sql:130-154): rush-hour vs off-peak labeled averages —
    * boolean combinators incl. NOT over OR-of-ranges (P5), hour extract (F3),
    * NULL-skipping AVG (A5), UNION ALL (U1). Float aggregate rounded for
    * cross-engine stability. */
  private val q10 = QueryDef(
    "q10_rush_hour_vs_offpeak",
    (s, dir) => {
      val ev = Tables.events(s, dir).filter(col("value").isNotNull)
      val rush = hourOf(col("ts")).between(7, 8) || hourOf(col("ts")).between(16, 17)
      def branch(cond: org.apache.spark.sql.Column, label: String) =
        ev.filter(cond)
          .agg(round(avg(col("value")), 4).as("avg_value"), count(lit(1)).as("cnt"))
          .select(lit(label).as("time_period"), col("avg_value"), col("cnt"))
      branch(rush, "Rush Hour").union(branch(!rush, "Off Peak"))
        .orderBy(col("time_period"))
    },
    Some("""SELECT 'Rush Hour' AS time_period, round(avg(value), 4) AS avg_value, count(*) AS cnt
           |FROM events WHERE value IS NOT NULL
           |  AND (extract(hour FROM ts) BETWEEN 7 AND 8 OR extract(hour FROM ts) BETWEEN 16 AND 17)
           |UNION ALL
           |SELECT 'Off Peak' AS time_period, round(avg(value), 4) AS avg_value, count(*) AS cnt
           |FROM events WHERE value IS NOT NULL
           |  AND NOT (extract(hour FROM ts) BETWEEN 7 AND 8 OR extract(hour FROM ts) BETWEEN 16 AND 17)
           |ORDER BY time_period""".stripMargin))

  /** Q10.2 (analytic.sql:156-169): top-5 entities by average measure (A5, O4)
    * with rounded sort key + id tie-break so both engines cut the same top-k. */
  private val q11 = QueryDef(
    "q11_top5_users_by_avg",
    (s, dir) => Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("user_id"))
      .agg(round(avg(col("value")), 4).as("avg_value"), count(lit(1)).as("cnt"))
      .orderBy(desc("avg_value"), asc("user_id"))
      .limit(5),
    Some("""SELECT user_id, round(avg(value), 4) AS avg_value, count(*) AS cnt
           |FROM events WHERE value IS NOT NULL
           |GROUP BY user_id ORDER BY avg_value DESC, user_id LIMIT 5""".stripMargin))

  /** Q10.3 (analytic.sql:171-191): CASE-bucket ("quadrant") aggregation —
    * searched CASE as group key (F4, A7), COUNT + COUNT(DISTINCT) per bucket.
    * The reference's lat/lon quadrants become quantity×price quadrants. */
  private val q12 = QueryDef(
    "q12_quadrant_case",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val quadrant = when(col("l_quantity") < 25.0 && col("l_extendedprice") < 35000.0, "low_qty_low_price")
        .when(col("l_quantity") < 25.0 && col("l_extendedprice") >= 35000.0, "low_qty_high_price")
        .when(col("l_quantity") >= 25.0 && col("l_extendedprice") < 35000.0, "high_qty_low_price")
        .otherwise("high_qty_high_price")
      li.groupBy(quadrant.as("quadrant"))
        .agg(count(lit(1)).as("cnt"), countDistinct(col("l_suppkey")).as("n_suppliers"))
        .orderBy(col("quadrant"))
    },
    Some("""SELECT CASE
           |    WHEN l_quantity < 25.0 AND l_extendedprice < 35000.0 THEN 'low_qty_low_price'
           |    WHEN l_quantity < 25.0 AND l_extendedprice >= 35000.0 THEN 'low_qty_high_price'
           |    WHEN l_quantity >= 25.0 AND l_extendedprice < 35000.0 THEN 'high_qty_low_price'
           |    ELSE 'high_qty_high_price' END AS quadrant,
           |  count(*) AS cnt, count(DISTINCT l_suppkey) AS n_suppliers
           |FROM lineitem GROUP BY 1 ORDER BY quadrant""".stripMargin))

  /** A8+F11 (transform.py:146-183): dimension extraction — first event per
    * entity (deterministic row_number, not dropDuplicates) classified into a
    * service key, with the reference's constant 'Out' direction (F16). */
  private val q13 = QueryDef(
    "q13_dim_extract_first_event",
    (s, dir) =>
      // r16 (guide §2.3 "aggregate before you shuffle"): first-event-per-
      // user as min(struct(ts, event_id)) instead of a row_number window —
      // struct min is lexicographic on (ts, event_id), exactly the window's
      // ORDER BY, so the selected row is identical; but the hash aggregate
      // partial-aggregates map-side (one row per user per task crosses the
      // exchange) where the window shuffled and sorted EVERY event row.
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(min(struct(col("ts"), col("event_id"))).as("__f"))
        .select(col("user_id"), col("__f.event_id").as("first_event_id"),
          serviceKey(pgDow(col("__f.ts"))).as("service_key"), lit("Out").as("direction"))
        .orderBy(col("user_id")),
    Some("""SELECT user_id, first_event_id,
           |  CASE WHEN dow = 6 THEN 'Saturday' WHEN dow = 0 THEN 'Sunday' ELSE 'Weekday' END AS service_key,
           |  'Out' AS direction
           |FROM (
           |  SELECT user_id, event_id AS first_event_id, extract(dow FROM ts) AS dow,
           |    row_number() OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
           |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin))

  /** A-class extension: ROLLUP over (event_type, dow) — multi-level
    * aggregates in one pass (partial agg handles every grouping set;
    * one shuffle). grouping_id disambiguates subtotal levels. */
  private val q38 = QueryDef(
    "q38_rollup_type_dow",
    (s, dir) => Tables.events(s, dir)
      .select(col("event_type"), pgDow(col("ts")).as("dow"))
      .rollup(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("cnt"), grouping_id().cast("long").as("gid"))
      .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("dow"), lit(-1L)).as("dow"), col("cnt"), col("gid"))
      .orderBy(col("gid"), col("event_type"), col("dow")),
    Some("""SELECT coalesce(event_type, 'ALL') AS event_type,
           |  coalesce(dow, -1) AS dow, count(*) AS cnt,
           |  CAST(grouping(event_type) * 2 + grouping(dow) AS BIGINT) AS gid
           |FROM (SELECT event_type, extract(dow FROM ts) AS dow FROM events)
           |GROUP BY ROLLUP(event_type, dow)
           |ORDER BY gid, event_type, dow""".stripMargin))

  /** U-class extension: INTERSECT / EXCEPT — users active on BOTH of two
    * dates vs. only the first, labeled and unioned. */
  private val q39 = QueryDef(
    "q39_intersect_except",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val a = ev.filter(onDate(col("ts"), "2024-01-05")).select(col("user_id")).distinct()
      val b = ev.filter(onDate(col("ts"), "2024-01-06")).select(col("user_id")).distinct()
      a.intersect(b).withColumn("which", lit("both"))
        .union(a.except(b).withColumn("which", lit("only_first")))
        .orderBy(col("which"), col("user_id"))
    },
    Some("""WITH a AS (SELECT DISTINCT user_id FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-05'),
           |b AS (SELECT DISTINCT user_id FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-06')
           |SELECT user_id, 'both' AS which FROM (SELECT user_id FROM a INTERSECT SELECT user_id FROM b)
           |UNION ALL
           |SELECT user_id, 'only_first' AS which FROM (SELECT user_id FROM a EXCEPT SELECT user_id FROM b)
           |ORDER BY which, user_id""".stripMargin))

  /** Skew path: two-phase salted aggregate over the low-cardinality
    * event_type key (the skew-prone shape at scale — every heavy key
    * otherwise lands on one reducer). Salting is semantics-preserving for
    * the count/sum monoids, so the plain GROUP BY is the oracle.
    *
    * The sum runs in integer CENTS (`value` carries exactly ≤2 decimals —
    * measured `max(abs(value − round(value, 2))) = 0` on the fixtures), a
    * round-12 fix from the sf10 sweep: a DOUBLE sum over 10 M rows
    * accumulates order-dependent error past the old round-4 guard
    * (measured fork at sf10: Spark 99 849 750.0 vs DuckDB
    * 99 849 749.9999 — same data, different addition order), while the
    * cents sum is one exact long per group at any scale and the single
    * final /100.0 is the same IEEE op on both engines. */
  private val q40 = QueryDef(
    "q40_salted_agg",
    (s, dir) => graft.operators.SkewOps
      .saltedCountSum(Tables.events(s, dir),
        key = col("event_type"),
        value = round(col("value") * 100).cast("long"),
        spread = col("event_id"), salts = 16)
      .select(col("key").as("event_type"), col("cnt"),
        (col("sum_value") / 100.0).as("sum_value"))
      .orderBy(col("event_type")),
    Some("""SELECT event_type, count(*) AS cnt,
           |  sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
           |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin))

  override val defs: Seq[QueryDef] = Seq(
    q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q11, q12, q13, q36, q38, q39, q40,
    q126, q136, q140)
}
