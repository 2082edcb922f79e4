package graft

import graft.engine.Tables
import graft.operators.BreadcrumbPipeline
import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Streaming semantics T1-T6 (SURVEY §2.9), exercised end-to-end with real
  * file sources/sinks in temp dirs. */
class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private val goodLine =
    """{"EVENT_NO_TRIP": 1, "OPD_DATE": "25DEC2022:00:00:00", "ACT_TIME": 100, "METERS": 5.0, "GPS_LATITUDE": 45.5, "GPS_LONGITUDE": -122.6, "VEHICLE_ID": 99, "timestamp": "2022-12-25 10:00:00"}"""
  private val lateLine =
    """{"EVENT_NO_TRIP": 2, "OPD_DATE": "20DEC2022:00:00:00", "ACT_TIME": 200, "METERS": 6.0, "GPS_LATITUDE": 45.6, "GPS_LONGITUDE": -122.7, "VEHICLE_ID": 98, "timestamp": "2022-12-20 09:00:00"}"""
  private val noTsLine =
    """{"EVENT_NO_TRIP": 3, "OPD_DATE": "26DEC2022:00:00:00", "ACT_TIME": 300, "METERS": 7.0, "GPS_LATITUDE": 45.7, "GPS_LONGITUDE": -122.8, "VEHICLE_ID": 97}"""

  test("T2/T3/S6: stream routes rows to EVENT-date partitions, late dates included, fallback to processing date") {
    val in = tmp("stream-in"); val out = tmp("stream-out"); val cp = tmp("stream-cp")
    Files.writeString(java.nio.file.Paths.get(in, "batch1.jsonl"),
      s"$goodLine\n$lateLine\n$noTsLine\n")
    val stream = StreamingOps.jsonlStream(spark, in, Tables.breadcrumbRawSchema)
    val routed = StreamingOps.withEventDate(stream, "timestamp")
    StreamingOps.runAvailableNow(StreamingOps.datePartitionedSink(routed, out, cp))
    val dates = spark.read.parquet(out).select(col("date").cast("string")).as[String].collect().toSet
    assert(dates.contains("2022-12-25"))
    assert(dates.contains("2022-12-20")) // unbounded lateness: old date still routed
    assert(dates.size === 3) // third row fell back to today's processing date
  }

  test("T1: restart from checkpoint does not duplicate already-processed input (effectively-once)") {
    val in = tmp("eo-in"); val out = tmp("eo-out"); val cp = tmp("eo-cp")
    Files.writeString(java.nio.file.Paths.get(in, "a.jsonl"), s"$goodLine\n")
    val run = () => {
      val s = StreamingOps.withEventDate(
        StreamingOps.jsonlStream(spark, in, Tables.breadcrumbRawSchema), "timestamp")
      StreamingOps.runAvailableNow(StreamingOps.datePartitionedSink(s, out, cp))
    }
    run()
    run() // same checkpoint, no new input → no new rows
    assert(spark.read.parquet(out).count() === 1)
    // new input after restart IS picked up
    Files.writeString(java.nio.file.Paths.get(in, "b.jsonl"), s"$lateLine\n")
    run()
    assert(spark.read.parquet(out).count() === 2)
  }

  test("T4: tumbling 1-day windowed counts with watermark") {
    val input = MemoryStream[(java.sql.Timestamp, Long)](spark)
    input.addData(
      (java.sql.Timestamp.valueOf("2022-12-25 10:00:00"), 1L),
      (java.sql.Timestamp.valueOf("2022-12-25 23:00:00"), 2L),
      (java.sql.Timestamp.valueOf("2022-12-26 01:00:00"), 3L))
    val df = input.toDF().toDF("ts", "id")
    val agg = StreamingOps.dailyCounts(df, "ts")
    val q = agg.writeStream.format("memory").queryName("daily").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT CAST(day_start AS STRING) d, cnt FROM daily")
        .as[(String, Long)].collect().toMap
      assert(got === Map("2022-12-25 00:00:00" -> 2L, "2022-12-26 00:00:00" -> 1L))
    } finally q.stop()
  }

  test("X2-stream: LSH suspects — later batches flag near-dups of earlier docs via the standing band index") {
    val input = MemoryStream[(Long, String)](spark)
    val docs = input.toDF().toDF("doc_id", "text")
    val (cp, idx, out) = (tmp("lsh_cp"), tmp("lsh_idx"), tmp("lsh_out"))
    val q = StreamingOps.streamingLshSuspects(docs, cp, idx, out).start()
    try {
      val boiler = "the quick brown fox jumps over the lazy dog again and again"
      input.addData((1L, boiler), (2L, "completely different words in this one here now"))
      q.processAllAvailable()
      // batch 2: doc 3 repeats doc 1's text (suspect), 4 is novel, 5 too short to shingle
      input.addData((3L, boiler), (4L, "nothing shares any shingle with prior documents at all"), (5L, "x"))
      q.processAllAvailable()
      // batch 3: 6 and 7 are near-identical WITHIN the batch — first-seen
      // (lower id) admitted, the echo flagged, no index round-trip needed
      val intra = "some fresh boilerplate block repeated inside one single micro batch today"
      input.addData((6L, intra), (7L, intra))
      q.processAllAvailable()
      val flags = spark.read.parquet(out)
        .select(col("doc_id"), col("lsh_suspect"))
        .as[(Long, Boolean)].collect().toMap
      assert(flags === Map(1L -> false, 2L -> false, 3L -> true, 4L -> false,
        5L -> false, 6L -> false, 7L -> true))
      // the standing index holds all batches' bands, keyed by batch id
      // (3 batches < default compactEvery=16 → all still raw)
      val batches = spark.read.option("basePath", s"$idx/raw").parquet(s"$idx/raw")
        .select(col("batch")).distinct().as[Long].collect().toSet
      assert(batches === Set(0L, 1L, 2L))
    } finally q.stop()
  }

  test("X2-stream: a band index written with a long h key flags a repeat of its " +
    "document or refuses the batch, never admits it unflagged") {
    // Three batches: the one that built the index, then two repeats of its
    // document. A batch that served the long-keyed index once and then
    // registered a string-keyed partition beside it would make every later
    // read of the index fail, so no string partition may land.
    import graft.operators.{DedupOps, TextOps}
    import graft.streaming.StandingStore
    val input = MemoryStream[(Long, String)](spark)
    val docs = input.toDF().toDF("doc_id", "text")
    val (cp, idx, out) = (tmp("lshl_cp"), tmp("lshl_idx"), tmp("lshl_out"))
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val q = StreamingOps.streamingLshSuspects(docs, cp, idx, out).start()
    try {
      input.addData((1L, text))
      q.processAllAvailable()
      // Rewrite batch 0's partition in the older layout, where the r = 1
      // band key h was the long minimum itself (the string key is its
      // decimal form).
      val legacy = DedupOps.minhashBandedRows(TextOps.shingleRows(
          Seq((1L, text)).toDF("doc_id", "text"), col("doc_id"), lit("all"), col("text")), 8, 1)
        .withColumn("h", col("h").cast("long"))
      StandingStore.writeRaw(legacy, idx, 0)
      assert(spark.read.parquet(s"$idx/raw/batch=0").schema("h").dataType ===
        org.apache.spark.sql.types.LongType)
      var refusal: Option[Throwable] = None
      for (doc <- Seq(2L, 3L) if refusal.isEmpty) {
        input.addData((doc, text))
        try q.processAllAvailable()
        catch { case e: org.apache.spark.sql.streaming.StreamingQueryException => refusal = Some(e) }
      }
      refusal match {
        case Some(e) =>
          val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .map(t => String.valueOf(t.getMessage)).toSeq
          assert(messages.exists(m => m.contains("h as bigint") && m.contains("Rebuild")),
            s"a refusal must name the clashing key type and the rebuild: ${messages.mkString(" | ")}")
        case None =>
          val flags = spark.read.parquet(out)
            .select(col("doc_id"), col("lsh_suspect"))
            .as[(Long, Boolean)].collect().toMap
          assert(flags === Map(1L -> false, 2L -> true, 3L -> true),
            "a repeat probed against a long-keyed index must be flagged")
      }
      val partitions = Files.list(java.nio.file.Paths.get(s"$idx/raw")).toArray.toSeq
        .map(_.toString).filter(_.contains("batch="))
      partitions.foreach { p =>
        assert(spark.read.parquet(p).schema("h").dataType === org.apache.spark.sql.types.LongType,
          s"$p registered a second key type beside the long one")
      }
    } finally q.stop()
  }

  test("X2-stream calibrated: standing df stats recalibrate the quantile cap to the full-corpus threshold") {
    import graft.operators.{DedupOps, TextOps}
    val input = MemoryStream[(Long, String)](spark)
    val docs = input.toDF().toDF("doc_id", "text")
    val (cp, idx, st, out) = (tmp("clsh_cp"), tmp("clsh_idx"), tmp("clsh_st"), tmp("clsh_out"))
    val q = StreamingOps.streamingCalibratedLshSuspects(docs, cp, idx, st, out).start()
    val batches = Seq(
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2L, "one two three four five six seven eight nine ten")),
      Seq((3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (4L, "totally novel words appearing nowhere else in any batch here"),
        (5L, "xy")))
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      val outDf = spark.read.parquet(out)
      val flags = outDf.select(col("doc_id"), col("lsh_suspect")).as[(Long, Boolean)].collect().toMap
      // doc 3 repeats doc 1 across batches → suspect; novel and too-short docs admitted
      assert(flags === Map(1L -> false, 2L -> false, 3L -> true, 4L -> false, 5L -> false))
      // each batch's recorded threshold equals a batch recompute of the
      // full-corpus-so-far quantile threshold — incremental ≡ recompute
      val thrByDoc = outDf.select(col("doc_id"), col("df_threshold")).as[(Long, Long)].collect().toMap
      batches.indices.foreach { k =>
        val corpusSoFar = batches.take(k + 1).flatten.toDF("doc_id", "text")
        val grp = TextOps.shingleRows(corpusSoFar, col("doc_id"), lit("all"), col("text"))
          .groupBy(col("bucket"), col("sh")).agg(count(lit(1)).as("__df"))
        val expected = DedupOps.dfQuantileThreshold(grp.select(col("__df")), 0.95, 2)
          .head.getLong(0)
        batches(k).map(_._1).filter(thrByDoc.contains).foreach { d =>
          assert(thrByDoc(d) === expected, s"batch $k doc $d")
        }
      }
      // the standing stats table aggregates to the true corpus df
      val standing = graft.streaming.StandingStore.readAll(spark, st).get
        .groupBy(col("bucket"), col("sh")).agg(sum(col("__df")).as("__df"))
      val full = TextOps.shingleRows(batches.flatten.toDF("doc_id", "text"),
          col("doc_id"), lit("all"), col("text"))
        .groupBy(col("bucket"), col("sh")).agg(count(lit(1)).cast("long").as("__df"))
      assert(standing.exceptAll(full).isEmpty && full.exceptAll(standing).isEmpty)
    } finally q.stop()
  }

  test("X3-stream: semantic suspects — cross-batch and intra-batch bucket collisions flag") {
    import graft.operators.SimilarityOps
    val input = MemoryStream[(Long, Array[Double])](spark)
    val embs = input.toDF().toDF("vec_id", "embedding")
    val (cp, idx, out) = (tmp("sem_cp"), tmp("sem_idx"), tmp("sem_out"))
    val tables = SimilarityOps.lshTables(2, 4, 8)
    val q = StreamingOps.streamingSemanticSuspects(embs, cp, idx, out, tables).start()
    try {
      val rng = new scala.util.Random(19)
      def vec(): Array[Double] = Array.fill(8)(rng.nextGaussian())
      val a = vec(); val b = vec()
      input.addData((1L, a), (2L, b))
      q.processAllAvailable()
      // batch 2: vec 3 IS vec 1 (identical buckets in every table → cross-
      // batch suspect); 4 is novel; 5 repeats 4 within the batch → intra
      val c = vec()
      input.addData((3L, a), (4L, c), (5L, c))
      q.processAllAvailable()
      val flags = spark.read.parquet(out)
        .select(col("vec_id"), col("sem_suspect"))
        .as[(Long, Boolean)].collect().toMap
      assert(flags(3L) === true, "identical vector from an earlier batch must flag")
      assert(flags(5L) === true, "identical vector within the batch must flag")
      assert(flags(1L) === false && flags(4L) === false, "first-seen vectors are admitted")
      // the standing index registered both batches
      val batches = spark.read.option("basePath", s"$idx/raw").parquet(s"$idx/raw")
        .select(col("batch")).distinct().as[Long].collect().toSet
      assert(batches === Set(0L, 1L))
    } finally q.stop()
  }

  test("T1/X1-stream: dropDuplicatesWithinWatermark drops redelivered keys across micro-batches") {
    val input = MemoryStream[(java.sql.Timestamp, Long)](spark)
    val df = input.toDF().toDF("ts", "k")
    val out = StreamingOps.streamingDedup(df, "ts", Seq("k"), watermark = "1 hour")
    val q = out.writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      input.addData(
        (java.sql.Timestamp.valueOf("2022-12-25 10:00:00"), 1L),
        (java.sql.Timestamp.valueOf("2022-12-25 10:00:01"), 1L), // in-batch redelivery
        (java.sql.Timestamp.valueOf("2022-12-25 10:00:02"), 2L))
      q.processAllAvailable()
      input.addData((java.sql.Timestamp.valueOf("2022-12-25 10:05:00"), 1L)) // cross-batch redelivery
      q.processAllAvailable()
      val ks = spark.sql("SELECT k FROM dedup").as[Long].collect().sorted
      assert(ks.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("T-join: stream-stream interval join pairs rows within the bound only") {
    val imps = MemoryStream[(java.sql.Timestamp, Long, String)](spark)
    val clicks = MemoryStream[(java.sql.Timestamp, Long, String)](spark)
    val joined = StreamingOps.streamingIntervalJoin(
      imps.toDF().toDF("imp_ts", "key", "imp_id"),
      clicks.toDF().toDF("click_ts", "key", "click_id"),
      "key", "imp_ts", "click_ts", "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ivj")
      .outputMode("append").start()
    try {
      imps.addData(
        (java.sql.Timestamp.valueOf("2022-12-25 10:00:00"), 1L, "i1"),
        (java.sql.Timestamp.valueOf("2022-12-25 10:00:00"), 2L, "i2"),
        (java.sql.Timestamp.valueOf("2022-12-25 10:00:00"), 3L, "i3"))
      clicks.addData(
        // in-bound (+5 min, same key) joins; +2 h and wrong-key don't;
        // a click BEFORE its impression (key 3) must not join either.
        (java.sql.Timestamp.valueOf("2022-12-25 10:05:00"), 1L, "c1"),
        (java.sql.Timestamp.valueOf("2022-12-25 12:00:00"), 2L, "c2"),
        (java.sql.Timestamp.valueOf("2022-12-25 09:55:00"), 3L, "c3"))
      q.processAllAvailable()
      val got = spark.sql("SELECT imp_id, click_id FROM ivj")
        .as[(String, String)].collect().toSet
      assert(got === Set(("i1", "c1")))
    } finally q.stop()
  }

  test("curation-in-stream: stateless hash split + redaction run unchanged on a stream") {
    import graft.operators.CurationOps
    val input = MemoryStream[(Long, String)](spark)
    val df = input.toDF().toDF("doc_id", "text")
    val out = CurationOps.redact(
      df.withColumn("split", CurationOps.hashSplit(col("doc_id"),
        Seq("train" -> 80, "valid" -> 90, "test" -> 100))),
      col("text"), Seq("\\bsecret\\b" -> "<RED>"))
      .select("doc_id", "split", "n_redactions", "text_redacted")
    val q = out.writeStream.format("memory").queryName("curated").outputMode("append").start()
    try {
      input.addData((1L, "a secret plan"), (2L, "nothing"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT doc_id, split, n_redactions, text_redacted FROM curated")
        .as[(Long, String, Long, String)].collect().map(r => r._1 -> r).toMap
      assert(rows(1L)._4 === "a <RED> plan" && rows(1L)._3 === 1L)
      assert(rows(2L)._4 === "nothing" && rows(2L)._3 === 0L)
      // the streaming assignment equals the batch assignment (pure hash)
      val batchSplit = Seq(1L, 2L).toDF("doc_id")
        .withColumn("split", CurationOps.hashSplit(col("doc_id"),
          Seq("train" -> 80, "valid" -> 90, "test" -> 100)))
        .as[(Long, String)].collect().toMap
      assert(Seq(1L, 2L).forall(id => rows(id)._2 == batchSplit(id)))
    } finally q.stop()
  }

  test("X1-stream: canonical-URL dedup — raw crawl variants of one resource dedupe across batches") {
    import graft.operators.TextOps
    val input = MemoryStream[(java.sql.Timestamp, String)](spark)
    val df = input.toDF().toDF("ts", "url")
      .withColumn("curl", TextOps.canonicalizeUrl(col("url")))
    val out = StreamingOps.streamingDedup(df, "ts", Seq("curl"), watermark = "1 hour")
    val q = out.writeStream.format("memory").queryName("urldedup")
      .outputMode("append").start()
    try {
      input.addData(
        (java.sql.Timestamp.valueOf("2022-12-25 10:00:00"),
          "https://h.example.com/p?a=1&b=2"),
        (java.sql.Timestamp.valueOf("2022-12-25 10:00:01"),
          "HTTPS://H.Example.COM:443/p/?b=2&a=1&utm_source=x#f"), // same resource
        (java.sql.Timestamp.valueOf("2022-12-25 10:00:02"),
          "https://h.example.com/q"))
      q.processAllAvailable()
      input.addData( // cross-batch revisit, yet another raw spelling
        (java.sql.Timestamp.valueOf("2022-12-25 10:05:00"),
          "https://h.example.com/p?b=2&a=1"))
      q.processAllAvailable()
      val got = spark.sql("SELECT curl FROM urldedup").as[String].collect().sorted
      assert(got.toSeq === Seq(
        "https://h.example.com/p?a=1&b=2", "https://h.example.com/q"))
    } finally q.stop()
  }

  test("X1-stream: standing BloomIndex maintained by per-batch OR-merge equals the batch build") {
    import graft.operators.DedupOps
    val input = MemoryStream[(Long, String)](spark)
    val idxPath = s"${tmp("bloomstream")}/bloom_idx"
    val m = 1 << 14
    // The ingest-side maintenance loop: each admitted micro-batch's sketch
    // ORs into the standing artifact — no corpus rescan, ever.
    val q = input.toDF().toDF("id", "fp").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = DedupOps.buildFingerprintBloom(batch, col("fp"), k = 5, mBits = m)
        val merged =
          if (new java.io.File(idxPath).exists())
            DedupOps.mergeBloomIndexes(DedupOps.readBloomIndex(spark, idxPath), b)
          else b
        DedupOps.writeBloomIndex(spark, idxPath, merged)
      }.start()
    try {
      input.addData((1L, "a"), (2L, "b"), (3L, "c"))
      q.processAllAvailable()
      input.addData((4L, "b"), (5L, "d")) // overlap with batch 0
      q.processAllAvailable()
      val standing = DedupOps.readBloomIndex(spark, idxPath)
      val direct = DedupOps.buildFingerprintBloom(
        Seq("a", "b", "c", "b", "d").zipWithIndex
          .map { case (fp, i) => (i.toLong, fp) }.toDF("id", "fp"),
        col("fp"), k = 5, mBits = m)
      assert(standing.sketch.toSeq === direct.sketch.toSeq,
        "stream-maintained sketch must equal the batch build over the union")
    } finally q.stop()
  }

  test("X6-stream: session_window splits a user's events at the gap") {
    val input = MemoryStream[(java.sql.Timestamp, Long)](spark)
    input.addData(
      (java.sql.Timestamp.valueOf("2022-12-25 10:00:00"), 1L),
      (java.sql.Timestamp.valueOf("2022-12-25 10:10:00"), 1L),
      (java.sql.Timestamp.valueOf("2022-12-25 12:00:00"), 1L)) // gap > 30 min → new session
    val df = input.toDF().toDF("ts", "user_id")
    val agg = StreamingOps.sessionWindowCounts(df, "ts", "user_id", "30 minutes")
    val q = agg.writeStream.format("memory").queryName("sess").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT CAST(session_start AS STRING) s, n_events FROM sess ORDER BY s")
        .as[(String, Long)].collect().toSeq
      assert(got === Seq("2022-12-25 10:00:00" -> 2L, "2022-12-25 12:00:00" -> 1L))
    } finally q.stop()
  }

  test("T5/X6-stream: mapGroupsWithState keeps per-user session tallies across micro-batches") {
    import StreamingOps.{SessionProgress, UserEvent}
    val input = MemoryStream[UserEvent](spark)
    val out = StreamingOps.runningSessions(input.toDS(), gapSeconds = 1800L)
    val q = out.writeStream.format("memory").queryName("running").outputMode("update").start()
    try {
      input.addData(UserEvent(1L, 0L), UserEvent(1L, 100L), UserEvent(2L, 0L))
      q.processAllAvailable()
      input.addData(UserEvent(1L, 2100L)) // gap 2000 > 1800 → user 1 starts session 2
      q.processAllAvailable()
      val last = spark.sql("SELECT * FROM running").as[SessionProgress].collect()
        .groupBy(_.user_id).map { case (u, rows) => u -> rows.maxBy(_.n_sessions) }
      assert(last(1L) === SessionProgress(1L, 2L, 1L)) // second session, one event in it
      assert(last(2L) === SessionProgress(2L, 1L, 1L)) // untouched by batch 2
    } finally q.stop()
  }

  test("T6: foreachBatch handoff runs the batch ETL per micro-batch (stream -> Trip/BreadCrumb)") {
    val in = tmp("hand-in"); val cp = tmp("hand-cp"); val out = tmp("hand-out")
    Files.writeString(java.nio.file.Paths.get(in, "a.jsonl"),
      s"$goodLine\n${goodLine.replace("\"ACT_TIME\": 100", "\"ACT_TIME\": 110").replace("5.0", "15.0")}\n")
    val stream = StreamingOps.jsonlStream(spark, in, Tables.breadcrumbRawSchema)
    val w = StreamingOps.foreachBatchHandoff(stream, cp) { (batch, _) =>
      val good = batch.filter(col("_corrupt_record").isNull)
      BreadcrumbPipeline.breadcrumbs(good).write.mode("append").parquet(s"$out/bc")
      BreadcrumbPipeline.trips(good).write.mode("append").parquet(s"$out/trips")
    }
    StreamingOps.runAvailableNow(w)
    val bc = spark.read.parquet(s"$out/bc")
    assert(bc.count() === 2)
    // speed derived inside the handoff: 10 m / 10 s = 1.0 on both rows (backfill)
    assert(bc.select("speed").as[Double].collect().toSet === Set(1.0))
    assert(spark.read.parquet(s"$out/trips").count() === 1)
  }

  test("S7-in-stream: corrupt lines survive to the sink isolated, good rows unaffected") {
    val in = tmp("bad-in"); val out = tmp("bad-out"); val cp = tmp("bad-cp")
    Files.writeString(java.nio.file.Paths.get(in, "a.jsonl"), s"$goodLine\nnot json\n")
    val stream = StreamingOps.jsonlStream(spark, in, Tables.breadcrumbRawSchema)
    val routed = StreamingOps.withEventDate(stream, "timestamp")
    StreamingOps.runAvailableNow(StreamingOps.datePartitionedSink(routed, out, cp))
    val rows = spark.read.parquet(out)
    assert(rows.count() === 2)
    assert(rows.filter(col("_corrupt_record").isNotNull).count() === 1)
  }

  test("X-stream: HLL monitor — prefix estimate equals the one-shot batch sketch, " +
    "and redelivery cannot move it") {
    import graft.operators.SketchOps
    val input = MemoryStream[Long](spark)
    val (cp, regs, out) = (tmp("hll_cp"), tmp("hll_regs"), tmp("hll_out"))
    val q = StreamingOps.streamingHllMonitor(
      input.toDF().toDF("user_id"), "user_id", cp, regs, out).start()
    try {
      input.addData(1L to 400L: _*)
      q.processAllAvailable()
      // batch 2 overlaps batch 1 heavily — at-least-once redelivery shape.
      input.addData(200L to 700L: _*)
      q.processAllAvailable()
      val est = spark.read.parquet(out)
        .orderBy(col("batch")).select(col("batch"), col("hll_estimate"))
        .as[(Long, Double)].collect()
      assert(est.length === 2)
      // The streamed estimate after each prefix must be BIT-identical to a
      // one-shot batch sketch over the union of those batches.
      def oneShot(hi: Long): Double = SketchOps.hllEstimate(
        SketchOps.hllRegisters((1L to hi).toDF("k"), col("k")))
        .select(col("hll_estimate")).as[Double].head()
      assert(est(0)._2 === oneShot(400L))
      assert(est(1)._2 === oneShot(700L))
      // Redelivering already-seen keys is a no-op on the estimate.
      input.addData(1L to 400L: _*)
      q.processAllAvailable()
      val after = spark.read.parquet(out).orderBy(col("batch"))
        .select(col("hll_estimate")).as[Double].collect()
      assert(after.last === oneShot(700L))
    } finally q.stop()
  }

  test("S5/S6 endpoints: the file transport round-trips through the endpoint API, " +
    "and the kafka wiring reaches DataSource resolution with format kafka") {
    import StreamingOps.{FileEndpoint, KafkaEndpoint}
    // File endpoint: same effectively-once round-trip as the direct API.
    val in = tmp("ep-in"); val out = tmp("ep-out"); val cp = tmp("ep-cp")
    Files.writeString(java.nio.file.Paths.get(in, "a.jsonl"), s"$goodLine\n$lateLine\n")
    val s = StreamingOps.withEventDate(
      StreamingOps.recordStream(spark, FileEndpoint(in), Tables.breadcrumbRawSchema),
      "timestamp")
    StreamingOps.runAvailableNow(StreamingOps.recordSink(s, FileEndpoint(out), cp))
    assert(spark.read.parquet(out).count() === 2)
    // Kafka endpoint: the connector jar is deliberately absent in this
    // container (zero egress, no broker), so the contract provable here is
    // that the wiring carries the kafka format + options all the way to
    // Spark's DataSource resolution — the error must be "kafka source not
    // found", never an options/construction failure. On a cluster with
    // spark-sql-kafka on the classpath the identical value runs.
    val kafka = KafkaEndpoint("broker-1:9092", "breadcrumbs",
      Map("maxOffsetsPerTrigger" -> "1000"))
    val readErr = intercept[Exception] {
      StreamingOps.recordStream(spark, kafka, Tables.breadcrumbRawSchema)
    }
    assert(readErr.getMessage.toLowerCase.contains("kafka"),
      s"expected kafka DataSource lookup failure, got: ${readErr.getMessage}")
    // The writer CONSTRUCTS fine (resolution happens at start()).
    val memIn = MemoryStream[(Long, String)](spark)
    val w = StreamingOps.recordSink(
      memIn.toDF().toDF("id", "v"), kafka, tmp("ep-kcp"))
    val writeErr = intercept[Exception] { w.start() }
    assert(writeErr.getMessage.toLowerCase.contains("kafka"),
      s"expected kafka DataSource lookup failure, got: ${writeErr.getMessage}")
  }

  test("S5/S6 kafka smoke (env-gated): publish -> subscribe -> sink round-trip " +
    "against a real broker") {
    // This container has no broker and no spark-sql-kafka jar, so the test
    // SKIPS here; the day the repo lands on real infrastructure, setting
    // GRAFT_KAFKA_BOOTSTRAP=host:port (with the connector on the
    // classpath) makes this the first smoke to run — the FileEndpoint
    // round-trip above, re-run through KafkaEndpoint on both legs.
    val broker = sys.env.get("GRAFT_KAFKA_BOOTSTRAP")
    assume(broker.isDefined,
      "set GRAFT_KAFKA_BOOTSTRAP=host:port and put spark-sql-kafka-0-10 on " +
        "the classpath to run the real-broker smoke")
    import StreamingOps.{FileEndpoint, KafkaEndpoint}
    val topic = s"graft-smoke-${java.util.UUID.randomUUID().toString.take(8)}"
    val kafka = KafkaEndpoint(broker.get, topic)
    // Publish leg: the file fixture streamed INTO the topic.
    val in = tmp("ksmoke-in"); val out = tmp("ksmoke-out")
    Files.writeString(java.nio.file.Paths.get(in, "a.jsonl"), s"$goodLine\n$lateLine\n")
    val pub = StreamingOps.recordStream(spark, FileEndpoint(in), Tables.breadcrumbRawSchema)
    StreamingOps.runAvailableNow(
      StreamingOps.recordSink(pub, kafka, tmp("ksmoke-pubcp")))
    // Subscribe leg: the topic streamed through event-date routing into the
    // partitioned parquet sink — data_subscriber.py's whole loop.
    val sub = StreamingOps.withEventDate(
      StreamingOps.recordStream(spark, kafka, Tables.breadcrumbRawSchema), "timestamp")
    StreamingOps.runAvailableNow(
      StreamingOps.recordSink(sub, FileEndpoint(out), tmp("ksmoke-subcp")))
    val back = spark.read.parquet(out)
    assert(back.count() === 2, "both published records must come back")
    assert(back.columns.contains("date"), "event-date routing column present")
  }

  test("StandingStore: readers take only the newest committed level — a crash between " +
    "level commit and cleanup cannot double-count, and compaction replay is idempotent") {
    import graft.streaming.StandingStore
    val root = tmp("store")
    val mergeSum = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy(col("k")).agg(sum(col("v")).as("v"))
    (0L to 3L).foreach { id =>
      StandingStore.writeRaw(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), root, id)
    }
    val truth = Map("a" -> 4L, "b" -> 8L)
    def standingSum(): Map[String, Long] =
      mergeSum(StandingStore.readAll(spark, root).get).as[(String, Long)].collect().toMap
    assert(standingSum() === truth)
    // Simulate the crash window: the compact level for batches <= 3 is
    // COMMITTED but the subsumed raw partitions were never deleted.
    mergeSum(StandingStore.readAll(spark, root).get)
      .write.parquet(s"$root/compact/upto=3")
    assert(StandingStore.maxUpto(spark, root) === 3L)
    assert(standingSum() === truth) // raws <= upto are ignored, NOT double-counted
    // A later batch's real compaction cleans up and changes nothing.
    StandingStore.compact(spark, root, 4L, mergeSum)
    assert(standingSum() === truth)
    // Replay of the same compaction id is a NO-OP on the committed level —
    // it must never be rewritten in place (a crash mid-rewrite would
    // otherwise destroy the only copy of the standing state). Proven by
    // file mtimes: the level's data files are untouched by the replay.
    def levelMtimes(): Map[String, Long] = {
      val d = new java.io.File(s"$root/compact/upto=3")
      d.listFiles().map(f => f.getName -> f.lastModified()).toMap
    }
    val before = levelMtimes()
    StandingStore.compact(spark, root, 4L, mergeSum)
    assert(levelMtimes() === before, "replayed compaction rewrote the committed level")
    assert(standingSum() === truth)
    assert(StandingStore.physicalRowCount(spark, root) === 2L) // merged level only
    // New raw state after compaction is read alongside the level.
    StandingStore.writeRaw(Seq(("a", 10L)).toDF("k", "v"), root, 4L)
    assert(standingSum() === Map("a" -> 14L, "b" -> 8L))
  }

  test("StandingStore: a crashed partial raw write reads as no-state (replay heals it), " +
    "while stray non-partition content under raw/ fails loudly") {
    import graft.streaming.StandingStore
    val root = tmp("crash-store")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // The crashed-writeRaw shape: the partition dir exists with only a
    // _temporary marker, no committed data files. The replay that will
    // overwrite it must see "no raw state", not a schema-inference crash.
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/raw/batch=0/_temporary"))
    assert(StandingStore.readAll(spark, root).isEmpty)
    // Committed state alongside the crashed dir still reads fine.
    StandingStore.writeRaw(Seq(("a", 1L)).toDF("k", "v"), root, 1L)
    assert(StandingStore.readAll(spark, root).get.count() === 1L)
    // Flat files moved in without batch= dirs are refused, not ignored.
    val stray = new org.apache.hadoop.fs.Path(s"$root/raw/part-00000.parquet")
    val out = fs.create(stray); out.write(1); out.close()
    val e = intercept[IllegalArgumentException](StandingStore.readAll(spark, root))
    assert(e.getMessage.contains("non-partition content"))
  }

  test("StandingStore: a legacy pre-compaction layout fails loudly instead of " +
    "silently reading as empty state") {
    import graft.streaming.StandingStore
    val root = tmp("legacy-store")
    // The old layout: state directly under root/batch=<id>.
    Seq(("a", 1L)).toDF("k", "v").write.parquet(s"$root/batch=0")
    val e = intercept[IllegalArgumentException] {
      StandingStore.readThrough(spark, root, 10L)
    }
    assert(e.getMessage.contains("legacy") && e.getMessage.contains("raw/"))
    // After the one-move migration the same state reads fine.
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/raw"))
    fs.rename(new org.apache.hadoop.fs.Path(s"$root/batch=0"),
      new org.apache.hadoop.fs.Path(s"$root/raw/batch=0"))
    val rows = StandingStore.readAll(spark, root).get.as[(String, Long)].collect()
    assert(rows.toSeq === Seq(("a", 1L)))
  }

  test("StandingStore: a checkpoint-reset restart (batch ids at-or-below the committed " +
    "level) fails loudly instead of silently corrupting standing state") {
    import graft.streaming.StandingStore
    val root = tmp("reset-store")
    val mergeSum = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy(col("k")).agg(sum(col("v")).as("v"))
    (0L to 3L).foreach { id =>
      StandingStore.writeRaw(Seq(("a", 1L)).toDF("k", "v"), root, id)
    }
    StandingStore.compact(spark, root, 4L, mergeSum) // commits upto=3
    assert(StandingStore.maxUpto(spark, root) === 3L)
    // A stream restarted with a FRESH checkpoint restarts batch ids at 0;
    // registering batch=0 here would be silently deleted by the next
    // compaction while readBefore filters it out — refuse instead.
    val e = intercept[IllegalArgumentException] {
      StandingStore.writeRaw(Seq(("a", 99L)).toDF("k", "v"), root, 0L)
    }
    assert(e.getMessage.contains("reset checkpoint"))
    // ... including the boundary id equal to the committed level.
    intercept[IllegalArgumentException] {
      StandingStore.writeRaw(Seq(("a", 99L)).toDF("k", "v"), root, 3L)
    }
    // The legitimate continuation (id > level) still writes fine, and the
    // refused writes changed nothing.
    StandingStore.writeRaw(Seq(("a", 10L)).toDF("k", "v"), root, 4L)
    assert(mergeSum(StandingStore.readAll(spark, root).get)
      .as[(String, Long)].collect().toMap === Map("a" -> 14L))
  }

  test("StandingStore: a batch=<non-numeric> directory is stray content — refused by " +
    "readers, never deleted by compaction cleanup") {
    import graft.streaming.StandingStore
    val root = tmp("garbage-store")
    val mergeSum = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy(col("k")).agg(sum(col("v")).as("v"))
    StandingStore.writeRaw(Seq(("a", 1L)).toDF("k", "v"), root, 0L)
    StandingStore.writeRaw(Seq(("a", 2L)).toDF("k", "v"), root, 1L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val garbage = new org.apache.hadoop.fs.Path(s"$root/raw/batch=garbage")
    fs.mkdirs(garbage)
    // Readers classify it as stray content (parquet partition discovery
    // would choke on it) — the loud refusal, not a NumberFormatException.
    val e = intercept[IllegalArgumentException](StandingStore.readAll(spark, root))
    assert(e.getMessage.contains("non-partition content"))
    // Compaction must not crash on it and must NOT delete what it cannot
    // classify... but its own readBefore hits the same loud refusal, which
    // is the correct behavior: no state-changing pass proceeds over a
    // store with unclassifiable content.
    intercept[IllegalArgumentException](StandingStore.compact(spark, root, 2L, mergeSum))
    assert(fs.exists(garbage), "cleanup deleted a directory it could not classify")
    // Operator removes the garbage -> everything works again.
    fs.delete(garbage, true)
    StandingStore.compact(spark, root, 2L, mergeSum)
    assert(mergeSum(StandingStore.readAll(spark, root).get)
      .as[(String, Long)].collect().toMap === Map("a" -> 3L))
    // Same discipline on the compact side: a COMMITTED upto=<non-numeric>
    // level refuses loudly — silently skipping it would fall back to an
    // older level while its subsumed raws are already gone.
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/compact/upto=junk"))
    assert(StandingStore.maxUpto(spark, root) === 1L) // uncommitted: ignored
    val ok = fs.create(new org.apache.hadoop.fs.Path(s"$root/compact/upto=junk/_SUCCESS"))
    ok.close()
    val e2 = intercept[IllegalArgumentException](StandingStore.maxUpto(spark, root))
    assert(e2.getMessage.contains("unparseable"))
  }

  test("X2-stream compaction: calibrated suspects with compaction are bit-identical to " +
    "the uncompacted run, and the stats scan stays vocabulary-bounded") {
    import graft.streaming.StandingStore
    // Batches reuse one small vocabulary so the standing df table SATURATES
    // while raw per-batch partials keep arriving — the exact shape where an
    // uncompacted store's scan grows with batch count for no information.
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      "beta gamma delta epsilon zeta eta theta iota kappa lambda",
      "gamma delta epsilon zeta eta theta iota kappa lambda mu")
    val nBatches = 6
    def run(compactEvery: Int, tag: String): (Map[Long, (Boolean, Long)], String) = {
      val input = MemoryStream[(Long, String)](spark)
      val docs = input.toDF().toDF("doc_id", "text")
      val (cp, idx, st, out) = (tmp(s"cc_cp$tag"), tmp(s"cc_idx$tag"), tmp(s"cc_st$tag"), tmp(s"cc_out$tag"))
      val q = StreamingOps.streamingCalibratedLshSuspects(
        docs, cp, idx, st, out, compactEvery = compactEvery).start()
      try {
        (0 until nBatches).foreach { b =>
          input.addData((b.toLong * 10 + 1, texts(b % texts.size)),
            (b.toLong * 10 + 2, s"novel words only batch $b brings along here today fine"))
          q.processAllAvailable()
        }
      } finally q.stop()
      val flags = spark.read.parquet(out)
        .select(col("doc_id"), col("lsh_suspect"), col("df_threshold"))
        .as[(Long, Boolean, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      (flags, st)
    }
    val (flagsC, stC) = run(compactEvery = 2, "c")
    val (flagsU, stU) = run(compactEvery = 0, "u")
    // (1) outputs bit-identical: same flags, same per-batch thresholds
    assert(flagsC === flagsU)
    // (2) compaction actually ran and bounded the physical scan: the
    // compacted store reads fewer rows than the uncompacted one...
    assert(StandingStore.maxUpto(spark, stC) >= 0L)
    val physC = StandingStore.physicalRowCount(spark, stC)
    val physU = StandingStore.physicalRowCount(spark, stU)
    assert(physC < physU, s"compacted store reads $physC rows, uncompacted $physU")
    // ...and its compact level is EXACTLY the merged vocabulary (one row
    // per distinct (bucket, sh) across the subsumed batches) — the
    // "input is the standing vocabulary" claim, now true for rows READ.
    val u = StandingStore.maxUpto(spark, stC)
    val level = spark.read.parquet(s"$stC/compact/upto=$u")
    assert(level.count() === level.select(col("bucket"), col("sh")).distinct().count())
    // (3) after 3x the compaction interval, raw partitions beyond the
    // level are at most compactEvery-many batch ids
    val liveRaw = spark.read.option("basePath", s"$stC/raw").parquet(s"$stC/raw")
      .filter(col("batch") > u)
      .select(col("batch")).distinct().count()
    assert(liveRaw <= 2L, s"$liveRaw raw partitions survive past the level")
  }

  test("X-stream compaction: HLL monitor estimates are unmoved by register compaction " +
    "and the store stays sketch-bounded") {
    import graft.operators.SketchOps
    import graft.streaming.StandingStore
    val input = MemoryStream[Long](spark)
    val (cp, regs, out) = (tmp("hllc_cp"), tmp("hllc_regs"), tmp("hllc_out"))
    val q = StreamingOps.streamingHllMonitor(
      input.toDF().toDF("user_id"), "user_id", cp, regs, out, compactEvery = 2).start()
    try {
      val ends = Seq(100L, 200L, 300L, 400L, 500L, 600L)
      ends.foreach { hi => input.addData(1L to hi: _*); q.processAllAvailable() }
      val est = spark.read.parquet(out).orderBy(col("batch"))
        .select(col("hll_estimate")).as[Double].collect()
      def oneShot(hi: Long): Double = SketchOps.hllEstimate(
        SketchOps.hllRegisters((1L to hi).toDF("k"), col("k")))
        .select(col("hll_estimate")).as[Double].head()
      // every prefix estimate bit-identical to the one-shot batch sketch,
      // across two compactions (ids 2 and 4)
      ends.zipWithIndex.foreach { case (hi, i) => assert(est(i) === oneShot(hi), s"batch $i") }
      // store = one 256-row compact level (upto=3) + raw batches 4 and 5 —
      // 3·2^p rows, vs 6·2^p uncompacted: sketch-bounded, not age-bounded
      assert(StandingStore.maxUpto(spark, regs) === 3L)
      assert(StandingStore.physicalRowCount(spark, regs) === 3L * 256L)
    } finally q.stop()
  }

  test("X1×X4×X7-stream: admission funnel — every batch's snapshot equals batch q150's " +
      "pipeline on the stream's prefix; compaction leaves snapshots bit-identical") {
    import graft.operators.{CurationOps, DedupOps, TextOps}
    import org.apache.spark.sql.expressions.Window
    // Standing corpus: the Bloom artifact the stream probes for novelty.
    val corpusTexts = Seq(
      (0L, "s1", "standing corpus document number zero with varied words"),
      (1L, "s2", "standing corpus document number one with other letters"))
    val corpus = corpusTexts.toDF("doc_id", "source", "text")
      .withColumn("fp", md5(col("text").cast("binary"))).persist()
    val bloom = DedupOps.buildFingerprintBloom(corpus, col("fp"))
    // Fresh stream: revisits (shared curl), corpus dupes (shared fp), a
    // low-entropy doc, and varied lengths so the fence moves per prefix.
    val batches: Seq[Seq[(Long, String, String, String)]] = Seq(
      Seq((100L, "s1", "the quick brown fox jumps over one lazy dog today", "u1"),
        (101L, "s1", corpusTexts(0)._3, "u2"), // corpus dup -> not novel
        (102L, "s2", "a different document with plenty of varied characters here", "u3"),
        (103L, "s1", "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa", "u4")), // low entropy
      Seq((104L, "s1", "second batch fresh text with many distinct words around", "u1"), // revisit of u1
        (105L, "s2", "novel second batch doc for source two with varied text", "u5"),
        (106L, "s2", corpusTexts(1)._3, "u6")), // corpus dup
      Seq((107L, "s1", "third batch doc with quite ordinary english sentence text", "u7"),
        (108L, "s1", "short txt", "u8"),
        (109L, "s2", "another wholly novel doc in batch three with letters", "u5"))) // revisit of u5
    def decorated(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("fp", md5(col("text").cast("binary")))
    // Batch q150's exact pipeline on a prefix — the reference the
    // streamed snapshots must reproduce.
    def batchFunnel(fresh: org.apache.spark.sql.DataFrame) = {
      val u = fresh.withColumn("rn", row_number().over(
          Window.partitionBy(col("curl")).orderBy(col("doc_id"))))
        .filter(col("rn") === 1).drop("rn")
      val nov = DedupOps.bloomPrunedNovel(u, "fp", corpus, bloom)
      val ent = TextOps.docCharEntropy(nov, col("doc_id"), col("text"))
      val st = CurationOps.robustOutliers(fresh, "source", col("n_chars"), 3.5)
        .select(col("source"), col("med"), col("mad"))
      val adm = nov.join(ent, Seq("doc_id")).join(broadcast(st), Seq("source"))
        .filter(col("h") >= 4.0 &&
          abs(col("n_chars") - col("med")) <= lit(3.5) * col("mad"))
      fresh.groupBy(col("source"))
        .agg(count(lit(1)).as("n_fetched"),
          countDistinct(col("curl")).as("n_url_unique"))
        .join(nov.groupBy(col("source")).agg(count(lit(1)).as("n_novel")),
          Seq("source"), "left")
        .join(adm.groupBy(col("source")).agg(count(lit(1)).as("n_admitted")),
          Seq("source"), "left")
        .select(col("source"), col("n_fetched"), col("n_url_unique"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          coalesce(col("n_admitted"), lit(0L)).as("n_admitted"))
    }
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("source", "n_fetched", "n_url_unique", "n_novel", "n_admitted")
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    def run(compactEvery: Int): Seq[Seq[(String, Long, Long, Long, Long)]] = {
      val input = MemoryStream[(Long, String, String, String)](spark)
      val (cp, ui, st, out) = (tmp("adm_cp"), tmp("adm_url"), tmp("adm_st"), tmp("adm_out"))
      val q = StreamingOps.streamingAdmissionFunnel(
        decorated(input.toDF().toDF("doc_id", "source", "text", "curl")),
        cp, ui, st, out, corpus, bloom, compactEvery = compactEvery).start()
      try {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        batches.indices.map(k => canon(spark.read.parquet(s"$out/raw/batch=$k")))
      } finally q.stop()
    }
    val snaps = run(compactEvery = 16) // never compacts at 3 batches
    batches.indices.foreach { k =>
      val prefix = decorated(batches.take(k + 1).flatten
        .toDF("doc_id", "source", "text", "curl"))
      assert(snaps(k) === canon(batchFunnel(prefix)), s"prefix through batch $k")
    }
    // The fixture exercises every funnel stage: a revisit drop, a novelty
    // drop, an entropy drop, and a fence drop all visible in the totals.
    val last = snaps.last
    assert(last.map(_._2).sum === 10L) // fetched
    assert(last.map(_._3).sum === 8L) // u1/u5 revisits collapsed
    assert(last.map(_._4).sum === 6L) // two corpus dupes not novel
    assert(last.map(_._5).sum < 6L) // entropy/fence gates bit something
    // Compaction must not move any snapshot (both standing stores merge
    // with their declared algebras).
    assert(run(compactEvery = 2) === snaps)
    corpus.unpersist(false)
  }

  test("X1-stream: opt-in stream-fp index drops same-content re-crawls under new URLs; " +
      "the default stays faithful to batch q150 and admits them") {
    import graft.operators.DedupOps
    // Corpus disjoint from the stream: every drop below is the stream
    // index's doing, never the corpus Bloom's.
    val corpus = Seq((0L, "s1", "standing corpus document zero with varied words"))
      .toDF("doc_id", "source", "text")
      .withColumn("fp", md5(col("text").cast("binary"))).persist()
    val bloom = DedupOps.buildFingerprintBloom(corpus, col("fp"))
    val same = "identical content re crawled under several different urls"
    // w1/w5 carry the SAME text within batch 0 (intra-batch content dup);
    // w3 re-crawls it in batch 1 (cross-batch dup); w2/w4 are unique.
    val batches: Seq[Seq[(Long, String, String, String)]] = Seq(
      Seq((200L, "s1", same, "w1"),
        (201L, "s1", "a wholly different first batch document with letters", "w2"),
        (204L, "s1", same, "w5")),
      Seq((202L, "s1", same, "w3"),
        (203L, "s1", "another quite different second batch document words", "w4")))
    def decorated(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("fp", md5(col("text").cast("binary")))
    def run(fpIndex: Option[String]): (Long, Long, Long) = {
      val input = MemoryStream[(Long, String, String, String)](spark)
      val (cp, ui, st, out) = (tmp("sfp_cp"), tmp("sfp_url"), tmp("sfp_st"), tmp("sfp_out"))
      val q = StreamingOps.streamingAdmissionFunnel(
        decorated(input.toDF().toDF("doc_id", "source", "text", "curl")),
        cp, ui, st, out, corpus, bloom,
        streamFpIndexPath = fpIndex).start()
      try {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        val last = spark.read.parquet(s"$out/raw/batch=${batches.size - 1}")
          .select("n_fetched", "n_url_unique", "n_novel")
          .as[(Long, Long, Long)].collect()
        assert(last.length === 1)
        last.head
      } finally q.stop()
    }
    // Default (batch-q150 semantics): all 5 URLs are unique and nothing is
    // in the corpus, so all 5 count as novel — including both re-crawls.
    assert(run(None) === ((5L, 5L, 5L)))
    // Opt-in: the intra-batch copy (w5) and the cross-batch re-crawl (w3)
    // are dropped by content; only the first arrival of `same` survives.
    assert(run(Some(tmp("sfp_idx"))) === ((5L, 5L, 3L)))
    corpus.unpersist(false)
  }

  test("T4/A: a streaming rollup maintained per micro-batch equals the batch recompute") {
    // q165's monoid driven by the stream: each micro-batch's PARTIAL
    // rollupState merges into a versioned standing level (read v=id-1,
    // write v=id — the committed-level discipline in miniature), and the
    // final level must be bit-identical to one batch recompute over
    // everything the stream ever carried. Integral measures so the sums
    // compare exactly.
    import graft.operators.EtlOps
    val input = MemoryStream[(String, Long)](spark)
    val root = tmp("rollup_levels")
    val q = StreamingOps.foreachBatchHandoff(
        input.toDF().toDF("k", "v"), tmp("rollup_cp")) { (batch, id) =>
      val part = EtlOps.rollupState(batch, Seq("k"), col("v"))
      val prev = new java.io.File(s"$root/v=${id - 1}")
      val merged = if (prev.exists)
        EtlOps.mergeRollup(spark.read.parquet(prev.getPath), part, Seq("k"))
      else part
      merged.write.mode("overwrite").parquet(s"$root/v=$id")
    }.start()
    val batches = Seq(
      Seq(("x", 5L), ("y", 7L)),
      Seq(("x", 2L), ("z", 9L)),
      Seq(("y", -3L), ("x", 1L)))
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      val standing = spark.read.parquet(s"$root/v=${batches.size - 1}")
      val full = EtlOps.rollupState(
        batches.flatten.toDF("k", "v"), Seq("k"), col("v"))
      assert(canon(standing) === canon(full))
      assert(canon(standing) === Set(("x", 3L, 8L, 1L, 5L),
        ("y", 2L, 4L, -3L, 7L), ("z", 1L, 9L, 9L, 9L)))
    } finally q.stop()
  }

  test("T5/X1: a standing fp histogram maintained per micro-batch serves the exact batch jackknife") {
    // q174's claim driven end to end: each micro-batch's (source, fp)
    // partial counts merge into a versioned standing histogram (sum is
    // the algebra — the reason the FromCounts form exists at all), and
    // the jackknife SERVED from the standing level after batch k must be
    // bit-identical to the row-form q170 estimator run over everything
    // the stream carried through batch k. Doubles compared exactly: the
    // served path and the row path share one arithmetic tail, so any
    // drift is a real estimator fork, not float noise.
    import graft.operators.DedupOps
    val input = MemoryStream[(String, String)](spark)
    val root = tmp("jk_levels")
    val q = StreamingOps.foreachBatchHandoff(
        input.toDF().toDF("source", "fp"), tmp("jk_cp")) { (batch, id) =>
      val part = batch.groupBy(col("source"), col("fp"))
        .agg(count(lit(1)).as("n"))
      val prev = new java.io.File(s"$root/v=${id - 1}")
      val merged = if (prev.exists)
        spark.read.parquet(prev.getPath).union(part)
          .groupBy(col("source"), col("fp")).agg(sum(col("n")).as("n"))
      else part
      merged.write.mode("overwrite").parquet(s"$root/v=$id")
    }.start()
    // fps straddle sampled ("0".."7"-bucketed) and unsampled space, with
    // cross-batch repeats so the merge actually has to add counts.
    val batches = Seq(
      Seq(("s1", "f1"), ("s1", "f1"), ("s1", "f2"), ("s2", "f3")),
      Seq(("s1", "f1"), ("s1", "f4"), ("s2", "f3"), ("s2", "f5")),
      Seq(("s1", "f2"), ("s1", "f6"), ("s2", "f5"), ("s2", "f5")))
    val sample = "01234567".map(_.toString)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .as[(String, Long, Double, Long, Double, Long, Double)]
      .collect().sortBy(_._1).toSeq
    try {
      batches.zipWithIndex.foreach { case (b, k) =>
        input.addData(b: _*); q.processAllAvailable()
        val served = DedupOps.sampledDupRateJackknifeFromCounts(
          spark.read.parquet(s"$root/v=$k"),
          col("source"), col("fp"), col("n"), sample)
        val prefix = batches.take(k + 1).flatten.toDF("source", "fp")
        val batchForm = DedupOps.sampledDupRateJackknife(
          prefix, col("source"), col("fp"), sample)
        assert(canon(served) === canon(batchForm), s"prefix through batch $k")
      }
    } finally q.stop()
  }
}
