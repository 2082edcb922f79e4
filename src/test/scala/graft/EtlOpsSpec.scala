package graft

import graft.operators.{BreadcrumbPipeline, EtlOps}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Edge-case semantics of the ETL operators, pinned to the reference's
  * behavior (/root/reference/transform.py). */
class EtlOpsSpec extends SparkSpec {
  import spark.implicits._

  private def speeds(rows: Seq[(Long, Long, Double)]): Map[(Long, Long), Option[Double]] = {
    val df = rows.toDF("trip", "t", "m")
    EtlOps.deriveSpeed(df, col("trip"), Seq(col("t")), col("m"), col("t").cast("double"))
      .collect()
      .map(r => (r.getAs[Long]("trip"), r.getAs[Long]("t")) ->
        Option(r.getAs[Any]("speed")).map(_.asInstanceOf[Double]))
      .toMap
  }

  test("W1: speed = Δmeters/Δseconds within trip, ordered by time") {
    val s = speeds(Seq((1L, 0L, 0.0), (1L, 10L, 50.0), (1L, 20L, 150.0)))
    assert(s((1L, 10L)) === Some(5.0))
    assert(s((1L, 20L)) === Some(10.0))
  }

  test("W2: first row backfills with the SECOND row's computed speed (transform.py:252-259)") {
    val s = speeds(Seq((1L, 0L, 0.0), (1L, 10L, 50.0)))
    assert(s((1L, 0L)) === Some(5.0)) // takes row 2's speed
  }

  test("W1: singleton trip has NULL speed (transform.py:217)") {
    val s = speeds(Seq((7L, 5L, 42.0)))
    assert(s((7L, 5L)) === None)
  }

  test("W1: Δt <= 0 yields NULL, and the NULL does not propagate (transform.py:225)") {
    val s = speeds(Seq((1L, 0L, 0.0), (1L, 0L, 10.0), (1L, 10L, 30.0)))
    // rows ordered (t=0,m=0),(t=0,m=10): second row Δt=0 → NULL
    assert(s((1L, 10L)) === Some(2.0)) // third row measures from the Δt=0 row
  }

  test("W2: first row stays NULL when second row's speed is NULL") {
    val s = speeds(Seq((1L, 0L, 0.0), (1L, 0L, 10.0)))
    assert(s.values.forall(_.isEmpty)) // both NULL: Δt=0 second row, backfilled first row
  }

  test("F6: OPD_DATE parse handles all 12 uppercase month abbreviations") {
    val months = Seq("JAN", "FEB", "MAR", "APR", "MAY", "JUN", "JUL", "AUG", "SEP", "OCT", "NOV", "DEC")
    val df = months.zipWithIndex.map { case (m, i) => (s"15${m}2022:00:00:00", i + 1) }.toDF("opd", "expect")
    val got = df.select(month(EtlOps.parseOpdDate(col("opd"))).as("m"), col("expect")).collect()
    got.foreach(r => assert(r.getInt(0) === r.getInt(1)))
  }

  test("F7: ACT_TIME > 86400 rolls into the next day (transform.py:40-54)") {
    val df = Seq(("25DEC2022:00:00:00", 86400L + 3661L)).toDF("opd", "act")
    val ts = df.select(EtlOps.synthesizeTimestamp(EtlOps.parseOpdDate(col("opd")), col("act")).as("ts"))
      .select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")).as[String].head()
    assert(ts === "2022-12-26 01:01:01")
  }

  test("J2: upsert drops rows whose key already exists; idempotent on re-run") {
    val existing = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val incoming = Seq((2L, "x"), (3L, "y")).toDF("k", "v")
    val once = EtlOps.upsertNewKeys(incoming, existing, Seq("k"))
    assert(once.select("k").as[Long].collect().toSet === Set(3L))
    val merged = existing.union(once)
    val twice = EtlOps.upsertNewKeys(incoming, merged, Seq("k"))
    assert(twice.count() === 0) // second application inserts nothing
  }

  test("S7: corrupt JSONL lines are isolated, good rows survive (transform.py:119-124)") {
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toFile
    val f = new java.io.File(dir, "breadcrumbs_2022-12-25.jsonl")
    val w = new java.io.PrintWriter(f)
    w.println("""{"EVENT_NO_TRIP": 1, "OPD_DATE": "25DEC2022:00:00:00", "ACT_TIME": 100, "METERS": 5.0, "GPS_LATITUDE": 45.5, "GPS_LONGITUDE": -122.6, "VEHICLE_ID": 99}""")
    w.println("""this is not json at all""")
    w.println("""{"EVENT_NO_TRIP": 1, "OPD_DATE": "25DEC2022:00:00:00", "ACT_TIME": 110, "METERS": 55.0, "GPS_LATITUDE": 45.5, "GPS_LONGITUDE": -122.6, "VEHICLE_ID": 99}""")
    w.close()
    val (good, bad) = EtlOps.readJsonlTolerant(spark, f.getAbsolutePath, graft.engine.Tables.breadcrumbRawSchema)
    assert(good.count() === 2)
    assert(bad.count() === 1)
    // Both splits read one scan, and releasing either split frees it.
    val scan = graft.engine.Materialize.backingRdds(good).map(_.id)
    assert(scan.nonEmpty && scan === graft.engine.Materialize.backingRdds(bad).map(_.id))
    assert(scan.forall(spark.sparkContext.getPersistentRDDs.contains))
    graft.engine.Materialize.release(good)
    assert(!scan.exists(spark.sparkContext.getPersistentRDDs.contains))
  }

  test("S9: dynamic partition overwrite replaces only the reloaded date (transform.py:62-83)") {
    val dir = java.nio.file.Files.createTempDirectory("s9").toFile.getAbsolutePath + "/bc"
    val day1 = Seq((1L, "2022-12-25 10:00:00"), (2L, "2022-12-26 10:00:00")).toDF("id", "ts")
      .withColumn("ts", to_timestamp(col("ts")))
    EtlOps.overwriteDatePartitions(day1, col("ts"), dir)
    // reload day 25 with different content; day 26 must survive
    val reload = Seq((10L, "2022-12-25 11:00:00")).toDF("id", "ts")
      .withColumn("ts", to_timestamp(col("ts")))
    EtlOps.overwriteDatePartitions(reload, col("ts"), dir)
    val got = spark.read.parquet(dir).select("id").as[Long].collect().toSet
    assert(got === Set(10L, 2L))
  }

  test("S8: batched JDBC sink round-trips through embedded Derby (transform.py:263-288)") {
    // Derby ships in /opt/spark/jars, so the real write.jdbc path IS
    // testable offline: an embedded file-backed database stands in for the
    // reference's PostgreSQL. Same code path, same batching option.
    val dbDir = java.nio.file.Files.createTempDirectory("s8-derby").toFile
    System.setProperty("derby.stream.error.file",
      new java.io.File(dbDir, "derby.log").getAbsolutePath)
    val url = s"jdbc:derby:${dbDir.getAbsolutePath}/db;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val rows = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, null: String, 3.5))
      .toDF("id", "tag", "meters")
    EtlOps.writeJdbcBatched(rows, url, "breadcrumbs", props, batchSize = 2)
    val back = spark.read.jdbc(url, "breadcrumbs", props)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getDouble(2))).toSet
    assert(back === Set((1L, Some("a"), 1.5), (2L, Some("b"), 2.5), (3L, None, 3.5)))
    // append mode: a second batch lands alongside, nothing truncated
    EtlOps.writeJdbcBatched(Seq((4L, "d", 4.5)).toDF("id", "tag", "meters"),
      url, "breadcrumbs", props, batchSize = 1000)
    assert(spark.read.jdbc(url, "breadcrumbs", props).count() === 4)
    // the caller's Properties must not be mutated by the batchsize stamp
    assert(props.getProperty("batchsize") === null)
  }

  test("pipeline: breadcrumbs + trips end-to-end on raw JSON rows (transform.py:86-312)") {
    val raw = Seq(
      (101L, "25DEC2022:00:00:00", 1000L, 0.0, 45.1, -122.1, 7L),
      (101L, "25DEC2022:00:00:00", 1010L, 100.0, 45.2, -122.2, 7L),
      (202L, "26DEC2022:00:00:00", 500L, 9.0, 45.3, -122.3, 8L) // singleton, Monday
    ).toDF("EVENT_NO_TRIP", "OPD_DATE", "ACT_TIME", "METERS", "GPS_LATITUDE", "GPS_LONGITUDE", "VEHICLE_ID")
    val bc = BreadcrumbPipeline.breadcrumbs(raw).collect().map(r =>
      (r.getAs[Long]("trip_id"), Option(r.getAs[Any]("speed")))).toSet
    assert(bc === Set((101L, Some(10.0)), (101L, Some(10.0)), (202L, None)))
    val tr = BreadcrumbPipeline.trips(raw).collect()
      .map(r => (r.getAs[Long]("trip_id"), r.getAs[Long]("vehicle_id"),
        r.getAs[String]("service_key"), r.getAs[String]("direction"))).toSet
    // 2022-12-25 is a Sunday, 2022-12-26 a Monday (Weekday)
    assert(tr === Set((101L, 7L, "Sunday", "Out"), (202L, 8L, "Weekday", "Out")))
  }

  test("SCD2: changed rows close + reopen, no-ops and history pass through, new keys insert") {
    import java.sql.Date
    val d18 = Date.valueOf("2018-01-01"); val d20 = Date.valueOf("2020-01-01")
    val eff = Date.valueOf("2023-06-01")
    val dim = Seq(
      (1L, "a", d20, null: Date), //  update re-sends identical values: no-op
      (2L, "b", d20, null: Date), //  update changes the value: close + reopen
      (3L, "c", d20, null: Date), //  no update at all
      (4L, "old", d18, d20), //       closed HISTORY row: must pass through
      (4L, "d", d20, null: Date) //   same key's current row, changed
    ).toDF("k", "v", "valid_from", "valid_to")
    val upd = Seq((1L, "a"), (2L, "B"), (4L, "D"), (5L, "E")).toDF("k", "v")
    val got = EtlOps.scd2Apply(dim, upd, keys = Seq("k"), tracked = Seq("v"),
        effective = lit(eff))
      .collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
        r.getAs[Date]("valid_from"), Option(r.getAs[Date]("valid_to"))))
      .toSet
    assert(got === Set(
      (1L, "a", d20, None),
      (2L, "b", d20, Some(eff)), (2L, "B", eff, None),
      (3L, "c", d20, None),
      (4L, "old", d18, Some(d20)), (4L, "d", d20, Some(eff)), (4L, "D", eff, None),
      (5L, "E", eff, None)))
    // applying the SAME batch to the merged result is a fixpoint: every
    // update now matches its current row's values, so nothing changes.
    val again = EtlOps.scd2Apply(
      EtlOps.scd2Apply(dim, upd, Seq("k"), Seq("v"), lit(eff)),
      upd, Seq("k"), Seq("v"), lit(Date.valueOf("2024-01-01")))
    assert(again.collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
      r.getAs[Date]("valid_from"), Option(r.getAs[Date]("valid_to")))).toSet === got)
  }

  test("SCD2: tracked-column comparison is null-safe (null→null no-op, null→value change)") {
    import java.sql.Date
    val d20 = Date.valueOf("2020-01-01"); val eff = Date.valueOf("2023-06-01")
    val dim = Seq((1L, null: String, d20, null: Date), (2L, null: String, d20, null: Date))
      .toDF("k", "v", "valid_from", "valid_to")
    val upd = Seq((1L, null: String), (2L, "x")).toDF("k", "v")
    val got = EtlOps.scd2Apply(dim, upd, Seq("k"), Seq("v"), lit(eff))
      .collect()
      .map(r => (r.getAs[Long]("k"), Option(r.getAs[String]("v")),
        Option(r.getAs[Date]("valid_to"))))
      .toSet
    assert(got === Set(
      (1L, None, None), //                      null == null: unchanged
      (2L, None, Some(eff)), (2L, Some("x"), None)))
  }

  test("mergeRollup(state(a), state(b)) equals rollupState(a union b) bit-exactly on longs") {
    // integral measures so the sum comparison is exact — float sums
    // re-associate across partials (queries round at output, q165)
    val a = Seq(("x", 5L), ("x", 1L), ("y", 7L)).toDF("k", "v")
    val b = Seq(("x", 2L), ("z", 9L), ("y", -3L)).toDF("k", "v")
    def state(df: org.apache.spark.sql.DataFrame) =
      EtlOps.rollupState(df, Seq("k"), col("v"))
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val merged = canon(EtlOps.mergeRollup(state(a), state(b), Seq("k")))
    assert(merged === canon(state(a.unionByName(b))))
    assert(merged === Set(("x", 3L, 8L, 1L, 5L), ("y", 2L, 4L, -3L, 7L),
      ("z", 1L, 9L, 9L, 9L)))
    // one-sided keys pass through; merge is idempotent in shape (re-merge
    // with an EMPTY batch changes nothing)
    val empty = state(Seq.empty[(String, Long)].toDF("k", "v"))
    assert(canon(EtlOps.mergeRollup(state(a.unionByName(b)), empty, Seq("k"))) === merged)
    // null measures: count skips them; an all-null group carries null sum
    val withNull = Seq(("x", Some(4L)), ("n", None), ("n", None))
      .toDF("k", "v")
    val st = EtlOps.rollupState(withNull, Seq("k"), col("v")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.isNullAt(2))).toMap
    assert(st("n") === ((0L, true)) && st("x") === ((1L, false)))
    // schema refusal: a frame without rollup columns is refused loudly
    intercept[IllegalArgumentException] {
      EtlOps.mergeRollup(a, state(b), Seq("k"))
    }
  }
}
