package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Readers + explicit schemas for the driver-generated testdata star schema
  * (TESTDATA.md / FIXTURES.md). The reference's implicit, key-access-discovered
  * JSON schema (/root/reference/transform.py:114-126) becomes explicit
  * `StructType`s here — schema-on-read with a declared contract, so Catalyst
  * can prune columns and push filters into the Parquet scan.
  *
  * All readers are `(SparkSession, sfDir) => DataFrame` plans — at 100 TB
  * each of these is a straight columnar scan whose partitioning is inherited
  * from the file layout. The one thing remembered is each table's schema:
  * inferring it from the footer costs a Spark job per read, so it is
  * inferred once per session and version of the file, keyed on the
  * qualified path plus [[Version]], and held in the session's
  * [[Engine.schemaCache]]. The file listing is not cached.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Plain parquet scan. Filter/projection pushdown is Catalyst's job —
    * callers declare plans, never pre-materialize. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** What changes when a table is rewritten in place: a file's modification
    * time and length; for a directory (a Spark output, as GenData writes
    * some tables), the newest modification time and total length of its
    * leaf files. */
  private[engine] final case class Version(modified: Long, length: Long)

  private def versionOf(fs: FileSystem, path: Path): Version = {
    val status = fs.getFileStatus(path)
    if (status.isFile) Version(status.getModificationTime, status.getLen)
    else {
      val leaves = fs.listFiles(path, true)
      var v = Version(0L, 0L)
      while (leaves.hasNext) {
        val f = leaves.next()
        v = Version(math.max(v.modified, f.getModificationTime), v.length + f.getLen)
      }
      v
    }
  }

  /** The schema Spark infers for `path`, inferred on the session's first
    * read of this version and remembered after. The version is taken
    * before inferring, so a rewrite racing the inference re-infers on the
    * next read instead of pinning a stale schema. */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val cache = Engine.schemaCache(spark) // prepares the session once
    val raw = new Path(path)
    val fs = raw.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(raw)
    val version = versionOf(fs, qualified)
    Option(cache.get(qualified.toString)) match {
      case Some((`version`, schema)) => schema
      case _ =>
        val schema = spark.read.parquet(path).schema
        cache.put(qualified.toString, (version, schema))
        schema
    }
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  /** `events` with `ts` exposed BOTH ways: `ts` = µs TimestampType (what
    * queries filter/group on) and `ts_ns` = int64 nanos (kept for
    * precision-exact arithmetic like sessionization gaps). The reader
    * ADAPTS to how the generator stamped the column — the physical parquet
    * type has changed across driver rounds, and a library must read both:
    *
    *  - TIMESTAMP(NANOS): Spark's TimestampType (µs) cannot represent it,
    *    so `nanosAsLong` (Engine.ensureInitialized) reads raw nanos and the
    *    µs `ts` is derived by integer `div` (not `/`, which promotes to
    *    double and rounds above 2^53 ns) — matching DuckDB's
    *    CAST(ts AS TIMESTAMP) truncation exactly for positive epochs, and
    *    giving [[graft.plans.SargableTimestampRules]] a monotone integer
    *    chain it inverts to push date filters onto the raw ts_ns scan.
    *  - TIMESTAMP(MICROS) (isAdjustedToUTC=false → TIMESTAMP_NTZ): `ts` is
    *    the session-TZ cast of the native column (value-preserving — every
    *    entrypoint pins the session TZ to UTC) and ts_ns = µs·1000. The
    *    sargable rule's NTZ case strips the cast from literal comparisons
    *    so day filters still reach the parquet scan natively. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** Schema of the reference's raw breadcrumb JSON — the only schema contract
    * that exists in the reference (fields touched at
    * /root/reference/transform.py:133-249, data_subscriber.py:74-77).
    * Used by the corrupt-tolerant JSONL scan (SURVEY S7). */
  val breadcrumbRawSchema: StructType = StructType(Seq(
    StructField("EVENT_NO_TRIP", LongType),
    StructField("OPD_DATE", StringType),
    StructField("ACT_TIME", LongType),
    StructField("METERS", DoubleType),
    StructField("GPS_LATITUDE", DoubleType),
    StructField("GPS_LONGITUDE", DoubleType),
    StructField("VEHICLE_ID", LongType),
    StructField("timestamp", StringType),
    StructField("_corrupt_record", StringType)))

  /** Trip dimension schema (reference: transform.py:175-181, INSERT :190-194). */
  val tripSchema: StructType = StructType(Seq(
    StructField("trip_id", LongType, nullable = false),
    StructField("route_id", IntegerType, nullable = true),
    StructField("vehicle_id", LongType, nullable = true),
    StructField("service_key", StringType, nullable = true),
    StructField("direction", StringType, nullable = true)))

  /** BreadCrumb fact schema (reference: transform.py:235-249, INSERT :265-269). */
  val breadcrumbSchema: StructType = StructType(Seq(
    StructField("tstamp", TimestampType, nullable = false),
    StructField("latitude", DoubleType, nullable = true),
    StructField("longitude", DoubleType, nullable = true),
    StructField("speed", DoubleType, nullable = true),
    StructField("trip_id", LongType, nullable = false)))
}
