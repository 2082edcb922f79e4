package graft

import graft.engine.Tables
import graft.operators.{DedupOps, SimilarityOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, LogicalPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** The sign-LSH join form follows the table count. One table keys the
  * join on the plain long bucket: no `Generate`, and no dedup `Aggregate`,
  * since a pair meets through one bucket at most. T > 1 tables explode the
  * (t, b) structs and dedup the scalar pairs. Exploding at T = 1 cost
  * q31 325 vs 286 ms and q32 384 vs 356 ms warm at sf0.1 (4 cores,
  * local[4]), so this pins the cheap form. */
class LshJoinFormSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
  private val one = SimilarityOps.lshTables(1, 2, 64)
  private val two = SimilarityOps.lshTables(2, 2, 64)

  private def generates(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case g: Generate => g }.size

  /** An Aggregate computing no aggregate function: a `distinct()`. */
  private def dedups(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case a: Aggregate if !a.aggregateExpressions.exists(
          _.find(_.isInstanceOf[AggregateExpression]).isDefined) => a
    }.size

  private def keyType(df: DataFrame) = df.schema("tb").dataType

  test("lshCandidateRows: one table emits the long bucket, two explode (t, b)") {
    val rows = (ts: Seq[Seq[Seq[Double]]]) => SimilarityOps.lshCandidateRows(
      emb, "vec_id", col("embedding"), col("label"), ts, "a_")
    assert(generates(rows(one)) === 0 && keyType(rows(one)) === LongType)
    assert(generates(rows(two)) === 1 && keyType(rows(two)).isInstanceOf[StructType])
  }

  test("knnJoin: no Generate and no dedup at T = 1, both at T = 2") {
    val knn = (ts: Seq[Seq[Seq[Double]]]) =>
      SimilarityOps.knnJoin(emb, emb.filter(col("vec_id") < 5), "label", 3, ts)
    assert((generates(knn(one)), dedups(knn(one))) === ((0, 0)))
    assert(generates(knn(two)) > 0 && dedups(knn(two)) === 1)
  }

  test("embeddingNearDups: no Generate and no dedup at T = 1, both at T = 2") {
    // The candidate rows are checkpointed before the join, so the join
    // plan reads them back: their key type carries the form, and the
    // lshCandidateRows test above pins the Generate behind them.
    val pairs = (ts: Seq[Seq[Seq[Double]]]) => DedupOps.embeddingNearDups(
      emb, "vec_id", col("embedding"), col("label"), 0.35, ts)
    val p1 = pairs(one)
    val p2 = pairs(two)
    def tbType(plan: LogicalPlan) =
      plan.collect { case q => q.output.filter(_.name == "tb").map(_.dataType) }.flatten.toSet
    assert((generates(p1), dedups(p1)) === ((0, 0)))
    assert(tbType(p1.queryExecution.optimizedPlan) === Set(LongType))
    val tb2 = tbType(p2.queryExecution.optimizedPlan)
    assert(dedups(p2) === 1)
    assert(tb2.nonEmpty && tb2.forall(_.isInstanceOf[StructType]))
  }
}
