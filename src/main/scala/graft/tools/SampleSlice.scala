package graft.tools

import org.apache.spark.sql.functions._

/** Deterministic GROUP-PRESERVING corpus slice — the round-12 verdict #1
  * rescue for sf10 rows whose DuckDB oracle CTE is not payable on one box:
  * restrict `documents`/`embeddings` to a fixed md5 slice sized so the
  * oracle CAN pay the replay, and hash-compare THAT restriction (an
  * independent engine check, unlike partition invariance's
  * self-consistency).
  *
  * The document slice keys on md5 of the FIRST 8 WORDS, not the doc id —
  * the q148 group-preserving discipline adapted to NEAR-dups: this
  * corpus's copy mechanism edits only the TAIL of a ≥10-word base text
  * (append / drop-last), so a copy and its source share their first 8
  * words and land in the same slice — near-dup groups survive intact and
  * the sliced tier keeps a real dedup structure instead of p² of it.
  * Embeddings slice on md5(vec_id) (iid vectors carry no cross-row group
  * structure to preserve). Both sides of the oracle comparison read the
  * SAME sliced parquet, so the slice function only needs determinism, not
  * engine-neutrality.
  *
  * Usage: `runMain graft.tools.SampleSlice target/sf10 target/sf10s 3 16`
  * keeps slices 0,1,2 of 16 (~18.75%).
  */
object SampleSlice {
  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir) = args.take(2)
    val num = args.lift(2).map(_.toInt).getOrElse(3)
    val den = args.lift(3).map(_.toInt).getOrElse(16)
    require(num >= 1 && num < den, s"slice $num/$den must be a proper fraction")
    val spark = graft.engine.Engine.session()

    def slicePred(key: org.apache.spark.sql.Column) =
      conv(substring(md5(key), 1, 8), 16, 10).cast("long") % den < num

    val docs = spark.read.parquet(s"$inDir/documents.parquet")
      .filter(slicePred(array_join(slice(split(col("text"), " "), 1, 8), " ")))
    docs.write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val embs = spark.read.parquet(s"$inDir/embeddings.parquet")
      .filter(slicePred(col("vec_id").cast("string")))
    embs.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    val nd = spark.read.parquet(s"$outDir/documents.parquet").count()
    val nv = spark.read.parquet(s"$outDir/embeddings.parquet").count()
    println(s"""{"metric":"sample_slice","in":"$inDir","out":"$outDir",""" +
      s""""slice":"$num/$den","docs":$nd,"vecs":$nv}""")
    spark.stop()
  }
}
