package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.engine.Tables
import graft.operators.BreadcrumbPipeline
import graft.streaming.StreamingOps

/** The write path: breadcrumb JSONL landing in a directory, read by
  * `StreamingOps.jsonlStream`, handed per micro-batch through
  * `foreachBatchHandoff` to `BreadcrumbPipeline.breadcrumbs` (appended to
  * BreadCrumb) and `loadTrips` (upserted into the Trip table written so
  * far) — the reference's subscriber → transform shape.
  *
  * Two phases: an open-loop live phase, where a generator lands one file
  * every 1/LiveRate s whether or not the pipeline keeps up; then a closed
  * drain of a service day's backlog landed during setup. A traced run
  * traces the whole live phase and drain micro-batches in the order
  * untraced, traced, traced, untraced, ..., to measure tracing overhead
  * without the JIT's warming favouring either side. */
object Ingest extends Workload {
  // The reference publishes no traffic figures (its work-list is 200
  // vehicles, its sink one JSONL file per service day), so the sizes below
  // are synthetic; README.md gives the reasoning for each.

  /** Files landed per second in the live phase: about 0.4 of the drain's
    * measured capacity on a 4-core box (~980 of ~2,500 lines/s), so the
    * live phase measures the pipeline's latency, not a growing queue. */
  val LiveRate = 4.0
  /** Share of the run's seconds spent in the live phase. */
  val LiveShare = 0.8
  /** ~245 lines per file: a live micro-batch of a few files stays small
    * enough that the fixed per-batch cost shows. */
  val TripsPerFile = 6
  /** The backlog day as one file per quarter hour. */
  val BacklogFiles = 96
  /** Two hours of the backlog day per drain micro-batch: 12 batches, an
    * even split between traced and untraced ones in a traced run. */
  val DrainFilesPerBatch = 8
  /** Trips checked record by record against the generator's speeds. */
  val SpeedSample = 20

  private final case class Dirs(root: Path) {
    val landing = root.resolve("landing")
    val backlog = root.resolve("backlog")
    val breadcrumb = root.resolve("breadcrumb").toString
    val trip = root.resolve("trip").toString
    def checkpoint(name: String) = root.resolve(s"checkpoint-$name").toString
  }

  private def land(dir: Path, i: Int, f: IngestGen.GenFile): Unit = {
    val tmp = dir.resolve(f".part-$i%05d.json.tmp")
    Files.write(tmp, f.text.getBytes("UTF-8"))
    Files.move(tmp, dir.resolve(f"part-$i%05d.json"), StandardCopyOption.ATOMIC_MOVE)
  }

  def run(o: Main.Opts, entryNs: Long): Main.Outcome = {
    val nLive = 1 + math.max(4, (LiveRate * o.seconds * LiveShare).toInt)
    val spark = Session.create(o.work)
    val initMs = Workloads.initEngine(spark)
    val dirs = Dirs(o.work.resolve("ingest"))
    Files.createDirectories(dirs.landing)
    val live = IngestGen.day(o.seed, 0, nLive * TripsPerFile, nLive, 1000000L)
    val backlog = IngestGen.day(o.seed, 1, BacklogFiles * TripsPerFile, BacklogFiles, 2000000L)
    Files.createDirectories(dirs.backlog)
    backlog.files.zipWithIndex.foreach { case (f, i) => land(dirs.backlog, i, f) }
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Tables.tripSchema)
      .write.parquet(dirs.trip)
    val tracer = new Tracer(spark)
    def tracedDrain(batch: Long) = Set(1L, 2L)(batch % 4)
    var compilations = 0L
    val returnedAt = new ConcurrentHashMap[String, Double]()

    def etl(phase: String)(batch: DataFrame, id: Long): Unit = {
      val opName = s"$phase-$id"
      if (o.trace && phase == "drain") {
        if (tracedDrain(id)) tracer.start() else tracer.stop()
      }
      val c0 = Tracer.codegenCompilations()
      tracer.span(0, opName, "op") { opId =>
        tracer.span(opId, opName, "etl.breadcrumbs") { e =>
          val (bc, _) = tracer.span(e, opName, "construct")(_ => BreadcrumbPipeline.breadcrumbs(batch))
          tracer.span(e, opName, "action")(_ => bc.write.mode("append").parquet(dirs.breadcrumb))
        }
        tracer.span(opId, opName, "etl.trips") { e =>
          val (trips, _) = tracer.span(e, opName, "construct") { _ =>
            val existing = spark.read.schema(Tables.tripSchema).parquet(dirs.trip)
            BreadcrumbPipeline.loadTrips(batch, existing)
          }
          tracer.span(e, opName, "action")(_ => trips.write.mode("append").parquet(dirs.trip))
        }
      }
      returnedAt.put(opName, System.currentTimeMillis().toDouble)
      if (tracer.tracing) compilations += Tracer.codegenCompilations() - c0
    }

    def progress(q: StreamingQuery, phase: String) =
      q.recentProgress.filter(p => p.numInputRows > 0 && returnedAt.containsKey(s"$phase-${p.batchId}"))
        .sortBy(_.batchId).toSeq

    /** The files (by landing index) each of `batches` processed, read from
      * the file source's log in the checkpoint. (Progress row counts cannot
      * say: foreachBatch scans its batch once per action, and each scan
      * counts.) */
    def batchFiles(phase: String, batches: Seq[Long]): Seq[Set[Int]] = {
      val part = """part-(\d+)\.json""".r.unanchored
      val log = Paths.get(dirs.checkpoint(phase), "sources", "0")
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
      val entries = Files.list(log).iterator().asScala.toSeq
        .filterNot(_.getFileName.toString.startsWith(".")).flatMap { f =>
        Files.readAllLines(f).asScala.filter(_.startsWith("{")).map { l =>
          val n = json.readTree(l)
          val part(i) = n.get("path").asText()
          (n.get("batchId").asLong(), i.toInt)
        }
      }
      val byBatch = entries.groupMap(_._1)(_._2)
      batches.map(b => byBatch.getOrElse(b, Nil).toSet)
    }
    def lines(files: Seq[IngestGen.GenFile], sets: Seq[Set[Int]]): Long =
      sets.map(_.toSeq.map(files(_).lines.toLong).sum).sum
    def tripsSeen(files: Seq[IngestGen.GenFile], sets: Seq[Set[Int]]): Long =
      sets.map(_.flatMap(files(_).trips).size.toLong).sum

    // Live phase. File 0 primes the fresh stream: its batch is the first
    // pass a newly submitted job pays. Files 1.. then land on a fixed
    // schedule (open loop) whether or not the pipeline keeps up.
    val setups = Workloads.setupDone(o, spark, entryNs)
    if (o.trace) tracer.start()
    val windowStart = System.nanoTime()
    val liveQ = StreamingOps.foreachBatchHandoff(
      StreamingOps.jsonlStream(spark, dirs.landing.toString, Tables.breadcrumbRawSchema, 1000),
      dirs.checkpoint("live"))(etl("live")).start()
    land(dirs.landing, 0, live.files.head)
    while (returnedAt.isEmpty && liveQ.isActive) Thread.sleep(5)
    val firstPassS = (System.nanoTime() - windowStart) / 1e9
    val periodMs = 1000.0 / LiveRate
    val t0 = System.currentTimeMillis() + periodMs
    val due = Double.NaN +: (1 until nLive).map(k => t0 + (k - 1) * periodMs)
    val landedAt = mutable.ArrayBuffer[Double](Double.NaN)
    for (k <- 1 until nLive) {
      val wait = due(k) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait.toLong)
      land(dirs.landing, k, live.files(k))
      landedAt += System.currentTimeMillis().toDouble
    }
    liveQ.processAllAvailable()
    liveQ.stop()
    val liveP = progress(liveQ, "live")
    val liveFiles = batchFiles("live", liveP.map(_.batchId))
    val liveReturn = liveP.map(p => returnedAt.get(s"live-${p.batchId}"))
    // Event-to-result latency of each scheduled file: from when it was due
    // to the return of the foreachBatch call that processed it.
    val latencies = (1 until nLive).map(k => liveReturn(liveFiles.indexWhere(_(k))) - due(k))
    val lateMs = (1 until nLive).map(k => landedAt(k) - due(k)).max
    val lastLanded = landedAt.last
    // Backlog (files landed but not yet processed) at each batch's return.
    val processed = liveFiles.scanLeft(0)(_ + _.size).tail
    val backlogPts = processed.zip(liveReturn).filter { case (_, r) => r >= t0 && r <= lastLanded }
      .map { case (d, r) => ((r - t0) / 1000.0, landedAt.count(_ <= r) + 1 - d.toDouble) }
    val slope = Stats.slope(backlogPts)
    if (lateMs > periodMs || slope > LiveRate / 4) {
      System.err.println(f"perfbench INVALID ingest run: generator late by up to $lateMs%.0f ms " +
        f"(period $periodMs%.0f ms), backlog slope $slope%.2f files/s at rate $LiveRate%.1f files/s")
      sys.exit(3)
    }

    // Drain (closed loop): the backlog with AvailableNow.
    val drainStart = System.nanoTime()
    val drainQ = StreamingOps.foreachBatchHandoff(
      StreamingOps.jsonlStream(spark, dirs.backlog.toString, Tables.breadcrumbRawSchema, DrainFilesPerBatch),
      dirs.checkpoint("drain"))(etl("drain")).trigger(Trigger.AvailableNow()).start()
    drainQ.awaitTermination()
    val drainWall = (System.nanoTime() - drainStart) / 1e9
    tracer.stop()
    val drainP = progress(drainQ, "drain")
    val drainFiles = batchFiles("drain", drainP.map(_.batchId))
    val drainMs = drainP.map(_.durationMs.get("triggerExecution").doubleValue)
    val drainRows = backlog.lines
    val measuredS = (System.nanoTime() - windowStart) / 1e9

    // Correctness against the generator.
    val failures = mutable.ArrayBuffer[String]()
    val bc = spark.read.parquet(dirs.breadcrumb)
    val trips = spark.read.parquet(dirs.trip)
    val wantRows = live.valid + backlog.valid
    val gotRows = bc.count()
    if (gotRows != wantRows) failures += s"BreadCrumb has $gotRows rows, generator made $wantRows valid records"
    val wantTrips = live.crumbs.size + backlog.crumbs.size
    val tripRows = trips.count()
    val tripIds = trips.select("trip_id").distinct().count()
    if (tripRows != wantTrips || tripIds != wantTrips)
      failures += s"Trip has $tripRows rows for $tripIds trips, generator made $wantTrips trips"
    val rng = new Random(o.seed)
    val sample = Seq(live, backlog).flatMap(d =>
      rng.shuffle(d.crumbs.keys.toSeq.sorted.filterNot(d.split)).take(SpeedSample / 2).map(t => t -> d))
    val got = bc.filter(col("trip_id").isin(sample.map(_._1): _*))
      .select("trip_id", "tstamp", "speed").collect()
      .groupBy(_.getLong(0)).map { case (t, rs) =>
        t -> rs.sortBy(_.getTimestamp(1).getTime).map(r =>
          (r.getTimestamp(1).toInstant, if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq }
    sample.foreach { case (t, d) =>
      val cs = d.crumbs(t)
      val day = IngestGen.opdDate(if (d eq live) 0 else 1)
      val midnight = java.time.LocalDate.of(2022, 12, 25).plusDays(if (d eq live) 0 else 1)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant
      val want = cs.map(c => midnight.plusSeconds(c.act)).zip(IngestGen.expectedSpeeds(cs))
      if (got.getOrElse(t, Nil) != want)
        failures += s"trip $t ($day): speeds or timestamps differ from the generator's"
    }
    failures.foreach(f => System.err.println(s"perfbench FAIL $f"))

    val liveN = liveP.size
    val drainN = drainP.size
    val tail = Stats.tail(latencies)
    val detail = Map[String, Any](
      "setups_s" -> setups, "live_files" -> nLive, "live_rate_files_s" -> LiveRate,
      "live_batches" -> liveN, "drain_batch_ms" -> drainMs, "drain_rows" -> drainRows,
      "generator_late_ms_max" -> lateMs, "backlog_slope_files_s" -> slope,
      "latency_samples" -> latencies.size, "latency_tail_percentile" -> tail.map(_._1).getOrElse(100.0),
      "measured_s" -> measuredS, "peak_rss_mb" -> Box.peakRssMb(), "failures" -> failures)
    if (o.trace) tracer.write(o.work.resolve(s"trace-ingest-${o.seed}.jsonl"))
    spark.stop()

    val metrics =
      if (!o.trace) Seq(
        ("setup_s", Stats.median(setups), "s"),
        ("first_pass_s", firstPassS, "s"),
        ("batch_s", Stats.median(drainMs) / 1000.0, "s"),
        ("latency_p50_ms", Stats.median(latencies), "ms"),
        ("latency_tail_ms", tail.map(_._2).getOrElse(latencies.max), "ms"),
        ("throughput_ops_s", drainRows / drainWall, "ops/s"))
      else {
        val spans = tracer.spans
        val byId = spans.map(s => s.id -> s).toMap
        def etlOf(s: Span): Option[String] =
          Iterator.iterate(Option(s))(_.flatMap(x => byId.get(x.parent))).takeWhile(_.isDefined)
            .flatten.map(_.kind).find(_.startsWith("etl."))
        val stages = spans.filter(_.kind == "stage")
        def out(kind: String, k: String) =
          stages.filter(s => etlOf(s).contains(kind)).map(_.attrs.getOrElse(k, 0.0)).sum
        val prog = spans.filter(_.kind == "progress")
        val nb = math.max(prog.size, 1).toDouble
        def dur(k: String*) = prog.map(p => k.map(p.attrs.getOrElse(_, 0.0)).sum).sum / nb
        val tracedDrainFiles = drainFiles.zip(drainP).collect { case (f, p) if tracedDrain(p.batchId) => f }
        val rowsRead = (lines(live.files, liveFiles) + lines(backlog.files, tracedDrainFiles)).toDouble
        val seen = tripsSeen(live.files, liveFiles) + tripsSeen(backlog.files, tracedDrainFiles)
        val (tracedMs, untracedMs) = drainP.zip(drainMs).partition(x => tracedDrain(x._1.batchId))
        val ops = math.max(spans.count(_.kind == "op"), 1).toDouble
        Layers.closedLoop(spans, tracer.blockBytes, compilations) ++ Seq(
          ("engine.init_ms", initMs, "ms"),
          ("jvm.peak_rss_mb", Box.peakRssMb(), "MB"),
          ("trace.overhead_share",
            Stats.median(tracedMs.map(_._2)) / Stats.median(untracedMs.map(_._2)) - 1, "ratio"),
          ("streaming.trigger_ms", dur("triggerExecution"), "ms"),
          ("streaming.plan_ms", dur("queryPlanning"), "ms"),
          ("streaming.add_batch_ms", dur("addBatch"), "ms"),
          ("streaming.commit_ms", dur("walCommit", "commitOffsets"), "ms"),
          ("streaming.rows_per_batch", rowsRead / nb, "count"),
          ("streaming.backlog_files", if (backlogPts.isEmpty) 0.0 else backlogPts.map(_._2).sum / backlogPts.size, "count"),
          ("etl.breadcrumbs_ms", spans.filter(_.kind == "etl.breadcrumbs").map(_.ms).sum / ops, "ms"),
          ("etl.trips_upsert_ms", spans.filter(_.kind == "etl.trips").map(_.ms).sum / ops, "ms"),
          ("output.bytes", stages.map(_.attrs.getOrElse("output_bytes", 0.0)).sum / ops, "bytes"),
          ("etl.valid_ratio", out("etl.breadcrumbs", "output_records") / rowsRead, "ratio"),
          ("etl.new_trip_ratio", out("etl.trips", "output_records") / seen, "ratio"),
          ("generator.late_ms", lateMs, "ms"),
          ("generator.backlog_slope", slope, "files/s"))
      }
    Main.Outcome(metrics, liveN + drainN + 3, failures.size, detail)
  }
}
