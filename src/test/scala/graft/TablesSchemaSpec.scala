package graft

import java.nio.file.Files
import java.time.LocalDateTime

import graft.engine.{Engine, Tables}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** `Tables.table` reads with a schema inferred once per session and table
  * version. These pin that the cached schema is exactly what Spark infers,
  * that a repeated read launches no inference job, that a table rewritten in
  * place is re-inferred, and that sessions never share an entry (the
  * inferred schema depends on session confs). Schemas only: no query runs
  * over the tiers.
  */
class TablesSchemaSpec extends SparkSpec {

  private val tiers = Seq("sf0.001", "sf0.01", "sf0.1").map(t => s"/root/testdata/$t")

  test("the cached schema is the inferred schema for every table on every tier") {
    Engine.ensureInitialized(spark) // the inferring read below runs the same confs
    for (dir <- tiers; name <- Tables.names) {
      val path = s"$dir/$name.parquet"
      assert(Tables.table(spark, dir, name).schema === spark.read.parquet(path).schema, path)
    }
    for (dir <- tiers) {
      // The current tiers stamp TIMESTAMP(MICROS), read as NTZ; events
      // exposes it as µs `ts` plus int64 `ts_ns` either way.
      assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType === TimestampNTZType, dir)
      val events = Tables.events(spark, dir).schema
      assert(events("ts").dataType === TimestampType, dir)
      assert(events("ts_ns").dataType === LongType, dir)
    }
  }

  test("a repeated read of the same table launches no job") {
    val dir = tiers.head
    Tables.table(spark, dir, "orders")
    assert(jobsOf(Tables.table(spark, dir, "orders")) === 0)
    assert(jobsOf(Tables.events(spark, dir)) === 0)
  }

  test("a table rewritten in place is re-inferred and its new rows are read") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tables-schema").toString
    val path = s"$dir/events.parquet"
    val nanos = 1700000000123456789L
    Seq((1L, nanos)).toDF("id", "ts").write.parquet(path)
    assert(jobsOf(Tables.events(spark, dir)) === 1)
    val before = Tables.events(spark, dir)
    assert(before.schema("ts_ns").dataType === LongType)
    assert(before.select("id", "ts_ns").collect().toSeq === Seq(Row(1L, nanos)))
    assert(before.selectExpr("unix_micros(ts)").head().getLong(0) === nanos / 1000)

    val ntz = LocalDateTime.of(2024, 3, 1, 12, 30, 45, 678901000)
    Seq((2L, ntz)).toDF("id", "ts").write.mode("overwrite").parquet(path)
    assert(spark.read.parquet(path).schema("ts").dataType === TimestampNTZType)
    val after = Tables.events(spark, dir)
    assert(after.schema("ts").dataType === TimestampType)
    val micros = after.selectExpr("id", "unix_micros(ts)", "ts_ns").collect().toSeq
    val expected = ntz.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + 678901L
    assert(micros === Seq(Row(2L, expected, expected * 1000L)))
  }

  test("a new session infers for itself and never reuses the parent's entry") {
    val dir = tiers.head
    Tables.table(spark, dir, "events") // the parent's entry exists
    val child = spark.newSession()
    assert(child.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "false")
    // A conf the inferred schema depends on: the parent's NTZ entry would be
    // wrong here.
    child.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(jobsOf(Tables.table(child, dir, "events")) === 1)
    assert(Tables.table(child, dir, "events").schema("ts").dataType === TimestampType)
    assert(child.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(Tables.table(spark, dir, "events").schema("ts").dataType === TimestampNTZType)
  }
}
