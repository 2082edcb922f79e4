package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builder-synthesized RELATIONAL testdata tiers beyond the driver's sf0.1
  * — the star-schema half of the sf1 tier ([[GenData]] provides the
  * documents/embeddings half), so the FULL oracle surface can be
  * hash-verified at 10× the driver fixture (round-10 verdict task #1:
  * every hash check so far topped out at sf0.1).
  *
  * Construction: '''key-shifted replication''' of the driver's sf0.1
  * fixture. Replica i (i = 0..k−1) shifts every KEY column by i × stride
  * (stride = that key's max + 1 in the base fixture — keys are dense
  * 0..N−1), identically on both sides of each FK edge, so referential
  * integrity, join fan-outs, and per-key cardinalities are preserved
  * exactly; every NON-key attribute (dates, prices, flags, JSON props) is
  * copied verbatim, so filter selectivities and group-by distributions are
  * scale-invariant. The name columns that embed their key
  * (`Customer#%09d`, `Supplier#%09d`) are re-derived from the shifted key
  * so name↔key consistency survives. `nation`/`region` are copied as-is
  * (fixed dimensions — replicas reuse them, giving each nation k× the
  * customers, exactly how a fixed dimension grows).
  *
  * What this tier is FOR: cross-engine correctness at 10× volume (Spark
  * and DuckDB read the same parquet, so any hash mismatch is an engine
  * difference, not a data question) and growth-ratio measurements.
  * Replication makes every multiset-aggregate self-checking (counts ×k,
  * AVG/quantiles unchanged) and deliberately creates k-way value ties —
  * a determinism stress the oracle discipline (explicit tie-breaks
  * everywhere) must survive. What it is NOT: new value entropy —
  * distinct-count growth rides the shifted keys only. Absolute timings on
  * it are comparable across rounds (the process is deterministic) but not
  * to a hypothetical driver-generated sf1.
  *
  * Usage: `sbt "runMain graft.tools.GenRel /root/testdata/sf0.1 target/sf1 10"`.
  */
object GenRel {

  /** k key-shifted replicas of `df`: for each (keyCol → stride), replica i
    * adds i·stride, preserving the column's original type and position. */
  private def replicate(df: DataFrame, k: Int, shifts: Map[String, Long]): DataFrame = {
    val withRep = df.select(
      col("*"), explode(lit((0L until k.toLong).toArray)).as("__rep"))
    val shifted = df.columns.foldLeft(withRep) { (d, c) =>
      shifts.get(c) match {
        case Some(stride) =>
          d.withColumn(c, (col(c) + col("__rep") * stride)
            .cast(df.schema(c).dataType))
        case None => d
      }
    }
    shifted.drop("__rep")
  }

  def main(args: Array[String]): Unit = {
    val inDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("target/sf1")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    require(k >= 1, s"replication factor must be >= 1, got $k")
    val spark = graft.engine.Engine.session()

    def read(t: String): DataFrame = spark.read.parquet(s"$inDir/$t.parquet")
    def write(t: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    /** stride = max(key)+1, taken from the BASE fixture so both sides of
      * an FK edge shift by the same amount. */
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key).cast("long"))).head.getLong(0) + 1L

    val customer = read("customer")
    val supplier = read("supplier")
    val part = read("part")
    val orders = read("orders")
    val lineitem = read("lineitem")
    val events = read("events")

    val custS = stride(customer, "c_custkey")
    val suppS = stride(supplier, "s_suppkey")
    val partS = stride(part, "p_partkey")
    val orderS = stride(orders, "o_orderkey")
    val eventS = stride(events, "event_id")
    val userS = stride(events, "user_id")

    // Fixed dimensions: copied, not replicated.
    write("region", read("region"))
    write("nation", read("nation"))

    write("customer", replicate(customer, k, Map("c_custkey" -> custS))
      .withColumn("c_name", format_string("Customer#%09d", col("c_custkey"))))
    write("supplier", replicate(supplier, k, Map("s_suppkey" -> suppS))
      .withColumn("s_name", format_string("Supplier#%09d", col("s_suppkey"))))
    write("part", replicate(part, k, Map("p_partkey" -> partS)))
    write("orders", replicate(orders, k,
      Map("o_orderkey" -> orderS, "o_custkey" -> custS)))
    write("lineitem", replicate(lineitem, k,
      Map("l_orderkey" -> orderS, "l_partkey" -> partS, "l_suppkey" -> suppS)))
    write("events", replicate(events, k,
      Map("event_id" -> eventS, "user_id" -> userS)))

    val counts = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events").map { t =>
      s""""$t":${spark.read.parquet(s"$outDir/$t.parquet").count()}"""
    }.mkString(",")
    println(s"""{"metric":"genrel","k":$k,"in":"$inDir","out":"$outDir",$counts}""")
    spark.stop()
  }
}
