package graft

import graft.engine.Tables
import graft.operators.BreadcrumbPipeline
import graft.sources.IngestOps
import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Runnable end-to-end demo of the reference's full pipeline shape
  * (collector → queue/files → streaming subscriber → batch transform):
  * work-list → distributed fetch → date-partitioned JSONL → streaming
  * ingest → foreachBatch ETL → Trip/BreadCrumb parquet → a sample query.
  *
  * Usage: sbt "runMain graft.StreamDemo" (writes only under /tmp).
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.engine.Engine.session()
    import spark.implicits._

    val root = Files.createTempDirectory("streamdemo").toFile.getAbsolutePath
    println(s"[demo] working under $root")

    // S2: work list
    val idsFile = s"$root/ids.txt"
    Files.writeString(java.nio.file.Paths.get(idsFile), (101 to 110).mkString("\n"))
    val ids = IngestOps.readWorkList(spark, idsFile)
    println(s"[demo] work list: ${ids.count()} vehicle ids")

    // S1: distributed fetch through the (fake) transport
    val fetched = IngestOps.fetchBreadcrumbs(ids, new IngestOps.FakeTransport(5),
      Tables.breadcrumbRawSchema, parallelism = 4)

    // S6-shaped landing zone: JSONL the subscriber would have written
    val landing = s"$root/landing"
    fetched.toJSON.write.text(landing)
    println(s"[demo] landed ${spark.read.text(landing).count()} JSONL records")

    // S5→T6: streaming ingest with foreachBatch handoff into the batch ETL
    val out = s"$root/warehouse"
    val stream = StreamingOps.jsonlStream(spark, landing, Tables.breadcrumbRawSchema)
    val handoff = StreamingOps.foreachBatchHandoff(stream, s"$root/cp") { (batch, id) =>
      val good = batch.filter(col("_corrupt_record").isNull)
      BreadcrumbPipeline.breadcrumbs(good).write.mode("append").parquet(s"$out/breadcrumb")
      BreadcrumbPipeline.trips(good).write.mode("append").parquet(s"$out/trip")
      println(s"[demo] micro-batch $id → warehouse")
    }
    StreamingOps.runAvailableNow(handoff)

    // the reference's post-load verification query (transform.py:290-293)
    val bc = spark.read.parquet(s"$out/breadcrumb")
    val tr = spark.read.parquet(s"$out/trip")
    println(s"[demo] BreadCrumb rows: ${bc.count()}, Trip rows: ${tr.count()}")

    // and one analytic query over the result (analytic.sql Q7 shape)
    val q = bc.join(tr, "trip_id")
      .groupBy("vehicle_id")
      .agg(count(lit(1)).as("n"), round(avg("speed"), 2).as("avg_speed"))
      .orderBy("vehicle_id")
    q.show(5, truncate = false)
    println(s"[demo] OK: analytic query returned ${q.count()} vehicles")
    spark.stop()
  }
}
