package graft.engine

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The library's one materialization policy, and the only `src/main`
  * module, with no exemptions, that checkpoints, persists or unpersists
  * (`MaterializeSitesSpec`).
  * A re-read intermediate is [[checkpoint]]ed when the result plan reads
  * it, [[scoped]] when one body does, and cut per round in [[rounds]]. A
  * lost local checkpoint block fails its reader ("Checkpoint block … not
  * found") instead of recomputing; only [[rounds]] has a reliable mode. */
object Materialize {

  /** An eager (default) or lazy lineage cut into executor blocks that back
    * the returned DataFrame; free with [[release]] or [[Hygiene.sweep]]. */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame =
    df.localCheckpoint(eager)

  /** `body` over `df` persisted (MEMORY_AND_DISK, `persist()`'s default:
    * spills instead of failing), unpersisted afterwards even on a throw. */
  def scoped[T](df: DataFrame)(body: DataFrame => T): T = {
    val held = persist(df)
    try body(held) finally held.unpersist(blocking = false)
  }

  /** `body` with a [[Rounds]] arena for its iteration state. On exit it
    * frees all it made but the cuts a DataFrame result reads, never what
    * the caller's input rests on. `reliableDir` survives executor loss. */
  def rounds[T](reliableDir: Option[String] = None)(body: Rounds => T): T = {
    // setCheckpointDir mints a fresh run-scoped subdirectory: once per call.
    reliableDir.foreach(dir => SparkContext.getOrCreate().setCheckpointDir(dir))
    val arena = new Rounds(reliableDir.isDefined)
    var result: Option[T] = None
    try {
      result = Some(body(arena))
      result.get
    } finally arena.close(result match {
      case Some(ds: Dataset[_]) => backingRdds(ds.toDF()).map(_.id).toSet
      case _ => Set.empty
    })
  }

  final class Rounds private[Materialize] (reliable: Boolean) {
    private var round = 0
    private val cuts = scala.collection.mutable.Buffer.empty[(Int, Seq[RDD[_]])]
    private val held = scala.collection.mutable.Buffer.empty[DataFrame]

    /** A lineage cut tagged with the current round. */
    def cut(df: DataFrame, eager: Boolean = true): DataFrame = {
      val out = if (!reliable) df.localCheckpoint(eager) else {
        // A reliable checkpoint does not cache: persist around it, or its
        // write job recomputes the round's plan (doubling its cost). Always
        // eager: a lazy one would run in its first consumer and the write.
        val cached = persist(df)
        try cached.checkpoint(eager = true) finally cached.unpersist(blocking = false)
      }
      cuts += ((round, backingRdds(out)))
      out
    }

    /** `df` persisted until the arena closes. */
    def hold(df: DataFrame): DataFrame = { val h = persist(df); held += h; h }

    /** Open the next round, freeing the cuts of every completed round but
      * the last `keep`: the caller promises no live plan reads older ones. */
    def advance(keep: Int): Unit = {
      round += 1
      val (dead, live) = cuts.partition(_._1 < round - keep)
      dead.foreach(c => free(c._2))
      cuts.clear()
      cuts ++= live
    }

    private[Materialize] def close(keep: Set[Int]): Unit = {
      held.reverseIterator.foreach(_.unpersist(blocking = false))
      cuts.foreach(c => free(c._2.filterNot(r => keep(r.id))))
    }
  }

  /** The one "is this input materialized?" test: `df`'s plan reads a
    * checkpoint anywhere (a union with a raw branch included). */
  def isMaterialized(df: DataFrame): Boolean = backingRdds(df).nonEmpty

  /** The RDDs behind `df`'s `LogicalRDD` leaves (its checkpoints). */
  def backingRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }

  /** Free the checkpoints `df` reads. Neither it nor any other plan over
    * them may be read again; no-op on a plan that reads none. */
  def release(df: DataFrame): Unit = free(backingRdds(df))

  private[engine] def free(rdds: Iterable[RDD[_]]): Unit =
    rdds.foreach(_.unpersist(blocking = false))

  private def persist(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)
}
