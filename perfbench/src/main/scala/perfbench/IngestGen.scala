package perfbench

import java.util.{Locale, SplittableRandom}

/** Seeded generator of breadcrumb JSONL in the reference's raw shape
  * (EVENT_NO_TRIP, OPD_DATE "25DEC2022:00:00:00", ACT_TIME seconds since
  * the service day's midnight, cumulative METERS, GPS, VEHICLE_ID).
  *
  * What the ingest path must cope with, in fixed shares. The shares are
  * deliberate stress shares, not measured traffic: large enough that every
  * file of ~245 lines carries each case (~0.6 trips of each kind, ~2.5
  * lines of each kind of noise), small enough that valid records dominate
  * the work:
  *  - a tenth of the trips run past midnight, so their ACT_TIME exceeds
  *    86400 (timestamp synthesis must roll the date over);
  *  - late records: a tenth of the trips land their last few records in a
  *    later file, so the trip reaches the Trip upsert twice;
  *  - about 1% corrupt lines (truncated JSON) and 1% lines with a null trip,
  *    which the transform must drop.
  * Trips have 20-60 records 5-15 s apart (trip segments of 2-15 minutes),
  * an arbitrary size that gives files of a few hundred lines; vehicles are
  * drawn from 200 ids, the size of the reference's work-list.
  *
  * The output is a pure function of (seed, day, sizes): the same arguments
  * give byte-identical files. The generator also returns what a correct
  * transform must produce, so the benchmark checks results against it. */
object IngestGen {

  final case class Crumb(trip: Long, act: Long, meters: Long)

  final case class GenFile(text: String, lines: Int, valid: Int, trips: Set[Long])

  final case class Day(
      files: IndexedSeq[GenFile],
      /** Valid records of every trip, in ACT_TIME order. */
      crumbs: Map[Long, IndexedSeq[Crumb]],
      /** Trips whose records were split across two files. */
      split: Set[Long]) {
    def valid: Long = files.map(_.valid.toLong).sum
    def lines: Long = files.map(_.lines.toLong).sum
  }

  private val months = Array("JAN", "FEB", "MAR", "APR", "MAY", "JUN",
    "JUL", "AUG", "SEP", "OCT", "NOV", "DEC")

  /** OPD_DATE of service day `day` counted from 2022-12-25. */
  def opdDate(day: Int): String = {
    val d = java.time.LocalDate.of(2022, 12, 25).plusDays(day.toLong)
    f"${d.getDayOfMonth}%02d${months(d.getMonthValue - 1)}${d.getYear}:00:00:00"
  }

  /** One service day: `trips` trips (ids from `tripBase`) over `nFiles`
    * files. */
  def day(seed: Long, day: Int, trips: Int, nFiles: Int, tripBase: Long): Day = {
    require(trips >= nFiles && nFiles >= 1, s"need trips >= files >= 1, got $trips/$nFiles")
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + day)
    val opd = opdDate(day)
    val buckets = Array.fill(nFiles)(Vector.newBuilder[(Long, String, Boolean)])
    val crumbs = Map.newBuilder[Long, IndexedSeq[Crumb]]
    val split = Set.newBuilder[Long]
    for (t <- 0 until trips) {
      val trip = tripBase + t
      val vehicle = 1000L + rng.nextInt(200)
      // A tenth of the trips start between 23:30 and 00:30 and run past
      // midnight; the rest start between 04:00 and 23:00.
      var act = if (rng.nextInt(10) == 0) 84600L + rng.nextInt(3600) else 4L * 3600 + rng.nextInt(68400)
      var meters = rng.nextInt(500).toLong
      var lat = 45.40 + rng.nextDouble() * 0.2
      var lon = -122.80 + rng.nextDouble() * 0.3
      val n = 20 + rng.nextInt(40)
      val recs = (0 until n).map { _ =>
        act += 5 + rng.nextInt(11)
        meters += rng.nextInt(200)
        lat += (rng.nextDouble() - 0.5) * 1e-3
        lon += (rng.nextDouble() - 0.5) * 1e-3
        val line = String.format(Locale.ROOT,
          "{\"EVENT_NO_TRIP\":%d,\"OPD_DATE\":\"%s\",\"VEHICLE_ID\":%d,\"METERS\":%d," +
            "\"ACT_TIME\":%d,\"GPS_LATITUDE\":%.6f,\"GPS_LONGITUDE\":%.6f}",
          Long.box(trip), opd, Long.box(vehicle), Long.box(meters), Long.box(act),
          Double.box(lat), Double.box(lon))
        (Crumb(trip, act, meters), line)
      }
      crumbs += trip -> recs.map(_._1)
      val home = (t.toLong * nFiles / trips).toInt
      val lateFile = home + 1 + rng.nextInt(3)
      val cut = if (rng.nextInt(10) == 0 && lateFile < nFiles) n - 3 - rng.nextInt(6) else n
      if (cut < n) split += trip
      recs.zipWithIndex.foreach { case ((_, line), i) =>
        buckets(if (i < cut) home else lateFile) += ((trip, line, true))
        // Noise rides next to real records: a copy cut inside the OPD_DATE
        // key (corrupt JSON, and no date even if a parser keeps partial
        // fields) or the same record with its trip nulled out.
        rng.nextInt(100) match {
          case 0 => buckets(home) += ((trip, line.substring(0, line.indexOf("OPD_DATE")), false))
          case 1 => buckets(home) += ((trip, line.replaceFirst("\"EVENT_NO_TRIP\":\\d+",
            "\"EVENT_NO_TRIP\":null"), false))
          case _ =>
        }
      }
    }
    val files = buckets.toIndexedSeq.map { b =>
      val lines = b.result()
      val sb = new StringBuilder
      lines.foreach { case (_, l, _) => sb.append(l).append('\n') }
      GenFile(sb.toString, lines.size, lines.count(_._3),
        lines.collect { case (t, _, true) => t }.toSet)
    }
    Day(files, crumbs.result(), split.result())
  }

  /** The speed the transform must derive for each record of a trip, in
    * ACT_TIME order: Δmeters/Δseconds from the previous record, the first
    * record taking the second one's speed (reference transform.py:204-259).
    * A trip of one record has no speed. */
  def expectedSpeeds(cs: IndexedSeq[Crumb]): IndexedSeq[Option[Double]] = {
    val raw = cs.indices.map { i =>
      if (i == 0) None
      else Some((cs(i).meters.toDouble - cs(i - 1).meters.toDouble) /
        (cs(i).act.toDouble - cs(i - 1).act.toDouble))
    }
    if (raw.size < 2) raw else raw(1) +: raw.tail
  }
}
