package graft.tools

import graft.engine.Tables
import graft.operators.DedupOps
import graft.streaming.{StandingStore, StreamingOps}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Measures the STREAMING standing-state claim at a real tier (r14 verdict
  * #5): replay the documents table of an sf dir through the streamed
  * admission funnel and the calibrated-LSH suspect flagger in K
  * micro-batches, and record PER-BATCH wall seconds beside the standing
  * state's size after each batch. The claim under test — per-batch cost is
  * bounded by (batch + merged standing state), NOT by stream age — shows
  * up as flat-ish per-batch seconds while cumulative stream length grows
  * K-fold; the state sizes printed beside them show what the cost actually
  * tracks. Every StreamingOpsSpec proof of these operators runs at toy
  * scale; this is the tier-scale measurement.
  *
  * Usage: sbt "runMain graft.tools.StreamScaleAudit <sfDir> [nBatches]"
  * Output: one JSON line per (op, batch).
  */
object StreamScaleAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/target/sf1")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(20)
    val spark = graft.engine.Engine.session()
    import spark.implicits._

    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text")).persist()
    val n = docs.count()
    val per = math.max(1L, (n + nBatches - 1) / nBatches)
    println(s"""{"audit":"stream_scale","dir":"$dir","docs":$n,"batches":$nBatches,"per_batch":$per}""")
    // Driver-side batch split: ordered by doc_id so the replay is
    // deterministic; ~10 MB at sf1 — a measurement harness, not a plan.
    val rows = docs.orderBy(col("doc_id"))
      .as[(Long, String, String)].collect().grouped(per.toInt).toSeq

    def scratch(name: String): String =
      graft.engine.Scratch.dir(spark, s"stream_audit_$name")

    // ---- calibrated-LSH suspects over the replay ----
    {
      val input = MemoryStream[(Long, String)](spark)
      val (cp, idx, st, out) =
        (scratch("lsh_cp"), scratch("lsh_idx"), scratch("lsh_st"), scratch("lsh_out"))
      val q = StreamingOps.streamingCalibratedLshSuspects(
        input.toDF().toDF("doc_id", "text"), cp, idx, st, out).start()
      try rows.zipWithIndex.foreach { case (b, i) =>
        val t0 = System.nanoTime()
        input.addData(b.map(r => (r._1, r._3)): _*)
        q.processAllAvailable()
        val sec = math.rint((System.nanoTime() - t0) / 1e7) / 100
        val idxRows = StandingStore.readThrough(spark, idx, i.toLong)
          .map(_.count()).getOrElse(0L)
        val stRows = StandingStore.readThrough(spark, st, i.toLong)
          .map(_.count()).getOrElse(0L)
        println(s"""{"op":"calibrated_lsh_suspects","batch":$i,"batch_docs":${b.length},""" +
          s""""wall_sec":$sec,"standing_index_rows":$idxRows,"standing_df_rows":$stRows}""")
      } finally q.stop()
    }

    // ---- admission funnel over the replay ----
    {
      // Standing corpus = the docs with doc_id % 10 == 0 (a 10% "already
      // crawled" slice — so corpus-dup drops are exercised, not vacuous);
      // the stream replays the WHOLE table, so every corpus doc re-arrives.
      val corpus = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("fp", md5(col("text").cast("binary")))
        .select(col("fp")).distinct().persist()
      val bloom = DedupOps.buildFingerprintBloom(corpus, col("fp"))
      val input = MemoryStream[(Long, String, String)](spark)
      val (cp, ui, st, out) =
        (scratch("adm_cp"), scratch("adm_url"), scratch("adm_st"), scratch("adm_out"))
      val decorated = input.toDF().toDF("doc_id", "source", "text")
        // Every 20th doc revisits an earlier URL (curl collision) so the
        // revisit-dedup stage does real work at every batch.
        .withColumn("curl", concat(lit("u"), (col("doc_id") - when(col("doc_id") % 20 === 0, 19L).otherwise(0L)).cast("string")))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("fp", md5(col("text").cast("binary")))
      val q = StreamingOps.streamingAdmissionFunnel(
        decorated, cp, ui, st, out, corpus, bloom).start()
      try rows.zipWithIndex.foreach { case (b, i) =>
        val t0 = System.nanoTime()
        input.addData(b: _*)
        q.processAllAvailable()
        val sec = math.rint((System.nanoTime() - t0) / 1e7) / 100
        val urlRows = StandingStore.readThrough(spark, ui, i.toLong)
          .map(_.count()).getOrElse(0L)
        val stRows = StandingStore.readThrough(spark, st, i.toLong)
          .map(_.count()).getOrElse(0L)
        println(s"""{"op":"admission_funnel","batch":$i,"batch_docs":${b.length},""" +
          s""""wall_sec":$sec,"standing_url_rows":$urlRows,"standing_hist_rows":$stRows}""")
      } finally q.stop()
    }
    spark.stop()
  }
}
