package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * All queries live in graft.queries.* as QueryDef groups; this object is
  * just the aggregation point the driver reads.
  */
object SparkEntry {

  private def groups: Seq[QueryGroup] = Seq(
    Relational, Etl, Text, Dedup, Similarity, Events, Sources, Curation, Graph,
    Integrity)

  private lazy val all: Seq[QueryDef] = groups.flatMap(_.defs)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.engine.{Semantics, Tables}
    // Fact⋈dim join + grouped agg + deterministic order: the reference's
    // bread-and-butter shape (analytic.sql:38-57) on sf0.001.
    val sfDir = "/root/testdata/sf0.001"
    val li = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(avg(col("l_extendedprice")), 2).as("avg_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.spark).toMap

  /** `names`, once every one of them is a key of [[queries]]; otherwise
    * fails naming the unknown ones and `where` they came from. */
  def knownQueries(names: Set[String], where: String): Set[String] = {
    val unknown = names -- queries.keySet
    require(unknown.isEmpty,
      s"unknown queries in $where: ${unknown.toSeq.sorted.mkString(", ")}")
    names
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
