package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one timed interval at a layer boundary. Spans of one op share
  * `op`; `parent` links the tree op → construct / action / sweep →
  * QueryExecution → job → stage (ingest: micro-batch → foreachBatch body →
  * operator call → job). Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, op: String, kind: String,
    start: Double, end: Double, attrs: mutable.Map[String, Double]) {
  def ms: Double = end - start
}

/** Span recorder. Wall-timer spans come from the benchmark's own calls into
  * the engine; QueryExecution, job, stage and streaming-progress spans come
  * from listeners that are attached only while tracing is on. Everything is
  * kept in memory and written out when the run ends. A disabled tracer only
  * runs the timed bodies. */
final class Tracer(spark: SparkSession) {
  private val ids = new AtomicLong(0)
  private val all = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  @volatile private var on = false
  /** Property the bench sets on its thread so jobs name their parent span. */
  private val SpanProp = "perfbench.span"

  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val stageJob = new ConcurrentHashMap[Int, Span]()
  private val stageTasks = new ConcurrentHashMap[Int, mutable.Map[String, Double]]()
  private val opOfSpan = new ConcurrentHashMap[Long, String]()
  @volatile private var currentOp: Span = _
  @volatile var blockBytes = 0.0

  def spans: Seq[Span] = all.asScala.toSeq
  def tracing: Boolean = on

  private def now(): Double = System.nanoTime() / 1e6 + epochOffset
  private val epochOffset = System.currentTimeMillis() - System.nanoTime() / 1e6

  /** Run `body` as a span under `parent` (0 = root) and return its result
    * with the span's wall time in milliseconds. */
  def span[T](parent: Long, op: String, kind: String)(body: Long => T): (T, Double) = {
    val id = ids.incrementAndGet()
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty(SpanProp)
    val s = Span(id, parent, op, kind, now(), 0.0, mutable.Map.empty)
    if (on) {
      sc.setLocalProperty(SpanProp, id.toString)
      opOfSpan.put(id, op)
      if (parent == 0) currentOp = s
    }
    try {
      val r = body(id)
      val s2 = s.copy(end = now())
      if (on) all.add(s2)
      (r, s2.ms)
    } finally if (on) sc.setLocalProperty(SpanProp, prior)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(0L)
      val op = Option(opOfSpan.get(parent)).getOrElse("")
      val s = Span(ids.incrementAndGet(), parent, op, "job", e.time.toDouble, 0.0,
        mutable.Map("stages" -> e.stageInfos.size.toDouble))
      jobSpan.put(e.jobId, s)
      e.stageIds.foreach(stageJob.put(_, s))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach(s => all.add(s.copy(end = e.time.toDouble)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = stageTasks.computeIfAbsent(e.stageId, _ => mutable.Map.empty[String, Double])
        def add(k: String, v: Double): Unit = a.synchronized { a(k) = a.getOrElse(k, 0.0) + v }
        add("tasks", 1)
        add("run_ms", m.executorRunTime.toDouble)
        add("cpu_ms", m.executorCpuTime / 1e6)
        add("gc_ms", m.jvmGCTime.toDouble)
        add("deser_ms", m.executorDeserializeTime.toDouble)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
        add("output_records", m.outputMetrics.recordsWritten.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val job = stageJob.remove(info.stageId)
      val attrs = Option(stageTasks.remove(info.stageId)).getOrElse(mutable.Map.empty[String, Double])
      val start = info.submissionTime.getOrElse(0L).toDouble
      val end = info.completionTime.getOrElse(start.toLong).toDouble
      all.add(Span(ids.incrementAndGet(), if (job == null) 0L else job.id,
        if (job == null) "" else job.op, "stage", start, end, attrs))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) blockBytes += b.memSize + b.diskSize
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble
      val op = currentOp
      val attrs = mutable.Map[String, Double]()
      Seq("analysis", "optimization", "planning").foreach { k =>
        attrs(k + "_ms") = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      }
      all.add(Span(ids.incrementAndGet(), if (op == null) 0L else op.id,
        if (op == null) "" else op.op, "qe", start, start + durationNs / 1e6, attrs))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      all.add(Span(ids.incrementAndGet(), 0L, s"batch-${p.batchId}", "progress",
        start, start + d.getOrElse("triggerExecution", 0.0), mutable.Map(d.toSeq: _*)))
    }
  }

  /** Let every posted listener event be delivered. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(30000L))
  }

  def start(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  def stop(): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    on = false
    currentOp = null
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.start).foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"op":"${s.op}","kind":"${s.kind}",""")
      sb.append(f""""start":${s.start}%.3f,"end":${s.end}%.3f""")
      s.attrs.toSeq.sortBy(_._1).foreach { case (k, v) => sb.append(s""","$k":$v""") }
      sb.append("}\n")
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  /** Number of whole-stage-codegen compilations so far in this JVM, read
    * through reflection: the metric source is internal to Spark. */
  def codegenCompilations(): Long = {
    val cls = Class.forName("org.apache.spark.metrics.source.CodegenMetrics$")
    val src = cls.getField("MODULE$").get(null)
    val h = cls.getMethod("METRIC_COMPILATION_TIME").invoke(src)
    h.asInstanceOf[com.codahale.metrics.Histogram].getCount
  }

  /** Self time of `s`: its duration minus the part of it that its direct
    * children cover. */
  def selfMs(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    s.ms - covered
  }
}
