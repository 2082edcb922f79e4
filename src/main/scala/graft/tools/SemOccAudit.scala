package graft.tools

import graft.engine.Tables
import graft.operators.{DedupOps, SimilarityOps}
import graft.queries.SharedPipelines
import org.apache.spark.sql.functions._

/** Scale audit of the r15 OCCUPANCY-pinned semantic geometry, across any
  * number of tiers in one run: per tier — corpus size, cells, the ladder's
  * chosen depth, the exact bucket pair mass Σ C(n, 2), the verified
  * candidate-pair count, and the generation wall time. The claim this
  * records: with occupancy pinned, pair mass grows LINEARLY in the corpus
  * (≈ n · occupancy · tables / 2) where the fixed 2-plane geometry was
  * measured quadratic (504.3 M at sf10 — BENCH_sf10_r14 / SURVEY §6.2).
  * One JSON line per tier.
  *
  * Usage: sbt "runMain graft.tools.SemOccAudit dir1 dir2 ..."
  */
object SemOccAudit {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "pass one or more sf dirs")
    val spark = graft.engine.Engine.session()
    args.foreach { dir =>
      val embs = Tables.embeddings(spark, dir)
      val n = embs.count()
      val cells = embs.select(col("label")).distinct().count()
      val depth = SharedPipelines.tunedSemanticDepth(spark, dir)
      val tables = SimilarityOps.lshTables(SharedPipelines.semTables, depth, 64)
      val mass = DedupOps.pairMass(SimilarityOps.lshCandidateRows(embs, "vec_id",
          col("embedding"), col("label"), tables, "n_"), Seq("cell", "tb"))
        .head.getLong(0)
      val t0 = System.nanoTime()
      val verified = DedupOps.embeddingNearDupsTables(embs, "vec_id",
        col("embedding"), col("label"), SharedPipelines.semPairThreshold,
        tables).count()
      val sec = math.rint((System.nanoTime() - t0) / 1e7) / 100
      println(s"""{"dir":"$dir","n_vecs":$n,"cells":$cells,"occ_depth":$depth,""" +
        s""""pair_mass":$mass,"verified_pairs":$verified,"gen_sec":$sec}""")
    }
    spark.stop()
  }
}
