package graft

import graft.engine.Materialize
import graft.operators.DedupOps
import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** The materialization policy's release discipline: a released checkpoint
  * fails its reader loudly, `rounds` frees exactly what it made except the
  * result, and the quantile cap's form follows the policy's one
  * "is this input materialized?" predicate. */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def persistent(df: DataFrame) =
    Materialize.backingRdds(df).map(_.id).filter(spark.sparkContext.getPersistentRDDs.contains)

  test("reading a released checkpoint fails with Spark's block-not-found error, never rows") {
    val ckpt = Materialize.checkpoint(spark.range(0, 100, 1, 4).toDF("id"))
    assert(ckpt.count() === 100)
    Materialize.release(ckpt)
    assert(persistent(ckpt).isEmpty)
    // Block removal is asynchronous; once it lands every read must throw.
    val err = eventually(timeout(30.seconds), interval(100.millis)) {
      intercept[SparkException](ckpt.collect())
    }
    val msg = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString(" | ")
    assert(msg.contains("Checkpoint block") && msg.contains("not found"), msg)
    intercept[SparkException](ckpt.agg(sum(col("id"))).collect())
  }

  test("rounds frees superseded rounds and keeps the result, never the caller's input") {
    val input = Materialize.checkpoint(spark.range(0, 50, 1, 4).toDF("x"))
    var cuts = Seq.empty[DataFrame]
    val out = Materialize.rounds() { rounds =>
      var cur = input
      for (i <- 1 to 4) {
        rounds.advance(keep = 1)
        cur = rounds.cut(cur.select((col("x") + i).as("x")))
        cuts :+= cur
        // advance freed every cut older than the previous round's
        assert(cuts.dropRight(2).forall(persistent(_).isEmpty))
        assert(cuts.takeRight(2).forall(persistent(_).nonEmpty))
      }
      cur.select((col("x") * 2).as("y"))
    }
    assert(cuts.init.forall(persistent(_).isEmpty))
    assert(persistent(cuts.last).nonEmpty)
    assert(out.as[Long].collect().sorted.toSeq === (0L until 50L).map(x => (x + 10) * 2))
    assert(persistent(input).nonEmpty && input.count() === 50)

    // A throwing body frees everything it made; a non-DataFrame result
    // keeps nothing.
    var made: DataFrame = null
    intercept[IllegalStateException] {
      Materialize.rounds() { rounds =>
        made = rounds.cut(input.select(col("x")))
        throw new IllegalStateException("boom")
      }
    }
    assert(persistent(made).isEmpty)
    val n = Materialize.rounds() { rounds => made = rounds.cut(input); made.count() }
    assert(n === 50 && persistent(made).isEmpty)
    assert(persistent(input).nonEmpty)
    Materialize.release(input)
  }

  test("capShingleDfQuantile takes the window form exactly when Materialize.isMaterialized") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    def shingles(groups: Range) = groups.flatMap { i =>
      (0 to i).map(d => (i * 100L + d, "b", s"s$i"))
    }.toDF("doc_id", "bucket", "sh")
    def windowForm(df: DataFrame) = DedupOps.capShingleDfQuantile(df, q = 0.9)
      .queryExecution.analyzed.collect {
        case w: LWindow if w.partitionSpec.nonEmpty => w
      }.nonEmpty
    val raw = shingles(0 until 10)
    val mat = Materialize.checkpoint(shingles(0 until 10))
    val mixed = Materialize.checkpoint(shingles(0 until 5)).unionByName(shingles(5 until 10))
    assert(Seq(raw, mat, mixed).map(Materialize.isMaterialized) === Seq(false, true, true))
    Seq(raw, mat, mixed).foreach(df => assert(windowForm(df) === Materialize.isMaterialized(df)))
  }

  test("Shared.clear drops every entry of the application: checkpoints, values, the stream sketch") {
    import graft.engine.Shared
    import graft.streaming.StreamingOps.StreamFpBloom
    val df = Shared.cached(spark, "memo-spec:df")(spark.range(0, 20, 1, 2).toDF("id"))
    assert(Shared.cached(spark, "memo-spec:df")(fail("a hit rebuilt")) eq df)
    assert(persistent(df).nonEmpty && persistent(df).toSet.subsetOf(Shared.backing(spark)))
    var builds = 0
    def value() = Shared.cachedValue(spark, "memo-spec:value") { builds += 1; new Object }
    val v = value()
    assert((value() eq v) && builds === 1)
    // The sketch's standing state (two merged batches) differs from what
    // its store alone rebuilds, so a served hit and a rebuild are told apart.
    val (path, store) = ("memo-spec-fp-index", Seq("z").toDF("fp"))
    def fromStore() = StreamFpBloom.getOrRebuild(spark, path, store)
    StreamFpBloom.mergeIn(spark, path, Seq("a", "b").toDF("fp"))
    StreamFpBloom.mergeIn(spark, path, Seq("c").toDF("fp"))
    val standing = fromStore()
    val rebuilt = DedupOps.buildFingerprintBloom(store, col("fp"), standing.k, standing.mBits)
    assert(standing.nKeys === 3 && standing.sketch.toSeq != rebuilt.sketch.toSeq)

    Shared.clear(spark)
    assert(Shared.backing(spark).isEmpty && persistent(df).isEmpty)
    value()
    assert(builds === 2)
    assert(fromStore().sketch.toSeq === rebuilt.sketch.toSeq)
    Shared.clear(spark)
  }
}
