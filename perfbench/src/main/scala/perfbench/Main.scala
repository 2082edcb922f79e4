package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark: one workload per process, end-to-end metrics untraced
  * (`--trace 0`) or per-layer metrics from a traced run (`--trace 1`).
  *
  * Usage (from the repository root, normally through `run.py`):
  * `perfbench.Main --workload <analytic|iterative|neardup|ingest> --seed N
  *  --seconds S --trace 0|1 --data <sf dir> --work <scratch dir>
  *  --fingerprints <fingerprints.json> [--source <label>]
  *  [--setups <s,s,...>] [--setup-only 1]`
  *
  * The last stdout line is the result object; the line before it is a
  * detail record (box, confs, per-op samples).
  *
  * Set-up is timed from main() entry to the first timed op, in a fresh JVM,
  * as a submitted job pays it. `--setup-only 1` stops there and prints
  * `{"setup_s": ...}`; `run.py` runs such set-ups in their own JVMs before
  * the measured run and passes their times in with `--setups`, and
  * `setup_s` is the median of them and the measured run's own. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, work: Path, fingerprints: Path, source: String,
      setupOnly: Boolean, otherSetups: Seq[Double])

  /** What one run reports: end-to-end values (trace off) or per-layer values
    * (trace on), plus ops attempted and failed and free-form detail. */
  final case class Outcome(metrics: Seq[(String, Double, String)], attempted: Int,
      failed: Int, detail: Map[String, Any])

  def main(argv: Array[String]): Unit = {
    val entryNs = System.nanoTime()
    val o = parse(argv)
    val loadBefore = Box.loadavg()
    val cpuBefore = Box.cpuTicks()
    val out = try Workloads(o.workload).run(o, entryNs)
    catch { case e: Throwable =>
      e.printStackTrace()
      System.err.println(s"perfbench: ${o.workload} aborted: $e")
      sys.exit(2)
    }
    val detail = Map[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "source" -> o.source, "data" -> o.data,
      "nproc" -> Box.cores, "mem_total_kb" -> Box.memTotalKb,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "loadavg_before" -> loadBefore, "loadavg_after" -> Box.loadavg(),
      "cpu_steal_share" -> Box.stealShare(cpuBefore, Box.cpuTicks()),
      "confs" -> Session.confs, "main_s" -> (System.nanoTime() - entryNs) / 1e9) ++ out.detail
    println(Json(detail))
    val metrics = out.metrics.map { case (k, v, u) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val correct = out.failed == 0
    println(s"""{"correct":$correct,"attempted":${out.attempted},"failed":${out.failed},"metrics":$metrics}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.names.contains(w), s"unknown workload $w (${Workloads.names.mkString(", ")})")
    Opts(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("data"), Paths.get(need("work")), Paths.get(need("fingerprints")),
      m.getOrElse("source", "unknown"), m.get("setup-only").contains("1"),
      m.get("setups").toSeq.flatMap(_.split(',')).filter(_.nonEmpty).map(_.toDouble))
  }
}

/** The machine the run measures. */
object Box {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  lazy val memTotalKb: Long = procField("/proc/meminfo", "MemTotal:")
  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8").trim
    catch { case _: java.io.IOException => "" }
  /** The machine's CPU time counters (/proc/stat "cpu" line, in ticks). */
  def cpuTicks(): Array[Long] =
    try firstLine("/proc/stat", "cpu ").getOrElse("").trim.split("\\s+").drop(1).map(_.toLong)
    catch { case _: Exception => Array.empty }
  /** Share of the machine's CPU time stolen by the hypervisor between two
    * readings: other guests on the host, which the run cannot see. */
  def stealShare(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) Double.NaN
    else (b(7) - a(7)).toDouble / b.indices.map(i => b(i) - a(i)).sum
  /** VmHWM: the process's peak resident set, in MB. */
  def peakRssMb(): Double = procField("/proc/self/status", "VmHWM:") / 1024.0
  private def procField(file: String, key: String): Long =
    firstLine(file, key).map(_.drop(key.length).trim.split("\\s+")(0).toLong).getOrElse(0L)
  private def firstLine(file: String, prefix: String): Option[String] =
    scala.util.Using.resource(scala.io.Source.fromFile(file))(_.getLines().find(_.startsWith(prefix)))
}

/** The one session the benchmark builds, fitted to the box: local[nproc],
  * shuffle partitions = nproc, the engine's 1m page pin and 5000-entry
  * codegen cache, UI off, UTC. The heap is set on the JVM command line. */
object Session {
  @volatile var confs: Map[String, String] = Map.empty

  def create(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${Box.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Box.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.buffer.pageSize", "1m")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k.startsWith("spark.buffer.") || k == "spark.master" ||
      k == "spark.driver.memory" }
    spark
  }
}

/** Minimal JSON rendering for the detail record. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + apply(x) }.sortBy(identity).mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o: Option[_] => o.fold("null")(apply)
    case other => str(other.toString)
  }
}

trait Workload {
  def run(o: Main.Opts, entryNs: Long): Main.Outcome
}

object Workloads {
  private val all: Map[String, Workload] = Map(
    "analytic" -> ClosedLoop.analytic,
    "iterative" -> ClosedLoop.iterative,
    "neardup" -> ClosedLoop.neardup,
    "ingest" -> Ingest)
  def names: Seq[String] = all.keys.toSeq.sorted
  def apply(name: String): Workload = all(name)

  /** Ends set-up: the time from main() entry to now, the first timed op,
    * followed by the set-up times of the runs in `--setups`. In a
    * `--setup-only` run, prints the time and exits instead. */
  def setupDone(o: Main.Opts, spark: SparkSession, entryNs: Long): Seq[Double] = {
    val s = (System.nanoTime() - entryNs) / 1e9
    if (o.setupOnly) {
      spark.stop()
      println(s"""{"setup_s":${Json.num(s)}}""")
      System.out.flush()
      sys.exit(0)
    }
    s +: o.otherSetups
  }

  /** Times Engine.ensureInitialized, the engine-layer session preparation. */
  def initEngine(spark: SparkSession): Double = {
    val t = System.nanoTime()
    graft.engine.Engine.ensureInitialized(spark)
    (System.nanoTime() - t) / 1e6
  }
}
