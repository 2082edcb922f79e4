package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch-keyed standing state for foreachBatch operators, with replay-safe
  * periodic COMPACTION — the store behind the streaming dedup indexes, the
  * df-stats partials, and the HLL register tables.
  *
  * Why it exists: a foreachBatch operator that registers per-batch state
  * under `batch=<id>` and re-reads ALL prior partitions every micro-batch
  * pays a scan that grows as batches × per-batch-state — invisible at ten
  * batches, a linear-in-time per-batch regression at 10⁵. The fix is the
  * LSM discipline: every N batches, rewrite the merged standing state as
  * ONE partition and drop the subsumed ones, so the per-batch read is
  * (merged state) + (≤ N recent raw partitions) — bounded by the state's
  * own saturation (vocabulary, sketch size), never by stream age.
  *
  * Layout under `root`:
  *  - `raw/batch=<id>`     — one partition per micro-batch, overwritten on
  *    replay (the existing effectively-once contract);
  *  - `compact/upto=<U>`   — a committed merge of all state from batches
  *    ≤ U. Multiple levels may transiently coexist; READERS TAKE ONLY THE
  *    NEWEST COMMITTED LEVEL (highest U with a `_SUCCESS` marker), which
  *    is what makes compaction crash-safe:
  *
  *     - crash BEFORE the level commit → no `_SUCCESS`, readers still see
  *       the old level + raw partitions; the replayed batch re-runs the
  *       compaction idempotently;
  *     - crash AFTER the commit but BEFORE cleanup → subsumed raw
  *       partitions and stale levels still exist on disk, but readers
  *       ignore everything ≤ U by construction, so sum-merged state is
  *       never double-counted (a plain rewrite-in-place protocol would
  *       double-count exactly here);
  *     - Structured Streaming replays at most the CURRENT batch id (all
  *       earlier ones are checkpoint-committed), so deleting raw
  *       partitions < id can never race a replay that still needs them.
  *
  * The `merge` function a caller supplies (bin-wise sum, register max,
  * identity for semi-join indexes) must be IDEMPOTENT on already-merged
  * input — that is what lets a replayed compaction rewrite the same level
  * without changing it.
  */
object StandingStore {

  private def fsFor(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `batch=<id>` directory name → id, or None when the suffix is not a
    * number. A `batch=garbage` directory is STRAY CONTENT, not a partition:
    * parquet partition discovery would choke on it and `compact`'s cleanup
    * would throw a bare NumberFormatException — both readers and the
    * compactor classify it through this one predicate so it hits the loud
    * stray-content refusal instead. */
  private def batchIdOf(name: String): Option[Long] =
    if (!name.startsWith("batch=")) None
    else scala.util.Try(name.stripPrefix("batch=").toLong).toOption

  /** Register a batch's own state partition (overwrite = replay-safe).
    *
    * CHECKPOINT-RESET GUARD: a stream restarted with a FRESH checkpoint
    * resets batch ids to 0; pointed at an existing store it would register
    * `batch=0`, and the next compaction's cleanup (every id ≤ committed
    * level) would silently delete it while `readBefore` filters it out —
    * silent standing-state corruption. A legitimate replay always has
    * id > the newest committed level (compaction at batch `id` commits
    * `upto = id-1` at most), so ids at-or-below the level can only mean a
    * reset checkpoint: fail loudly with the migration story. */
  def writeRaw(df: DataFrame, root: String, id: Long): Unit = {
    val committed = maxUpto(df.sparkSession, root)
    require(id > committed,
      s"StandingStore: batch id $id is not newer than the committed compact " +
        s"level upto=$committed at $root — this store has already merged state " +
        "from that batch id, so the stream driving it was restarted with a " +
        "reset checkpoint. Re-point the stream at its original checkpoint, or " +
        "start a fresh store root for the new checkpoint lineage; refusing to " +
        "silently corrupt standing state.")
    df.write.mode("overwrite").parquet(s"$root/raw/batch=$id")
  }

  /** Newest COMMITTED compact level (highest `upto=U` dir holding a
    * `_SUCCESS` marker), or -1 when none exists. A committed
    * `upto=<non-numeric>` directory REFUSES loudly: skipping it would
    * silently fall back to an older level while the raws it subsumed are
    * already deleted — the same silent-state-regression class the legacy
    * guard exists for (and a bare toLong would be an unhelpful crash). */
  def maxUpto(spark: SparkSession, root: String): Long = {
    val dir = new Path(s"$root/compact")
    val fs = fsFor(spark, root)
    if (!fs.exists(dir)) -1L
    else fs.listStatus(dir).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("upto="))
      .filter(s => fs.exists(new Path(s.getPath, "_SUCCESS")))
      .map { s =>
        val n = s.getPath.getName
        scala.util.Try(n.stripPrefix("upto=").toLong).getOrElse(
          throw new IllegalArgumentException(
            s"StandingStore: committed compact level with unparseable id '$n' " +
              s"under $dir — refusing to guess which level is newest; rename " +
              "or remove it (state from a level this store did not write is " +
              "not trusted)"))
      }
      .foldLeft(-1L)(math.max)
  }

  /** Standing state from batches ≤ `through`: the newest committed compact
    * level plus the raw partitions it does not subsume. None when no state
    * exists yet. Rows are UNMERGED (a key may appear in the level and in
    * several raw partitions); callers merge.
    *
    * MIGRATION GUARD: before this store existed the streaming operators
    * kept state directly under `root/batch=<id>`. Treating such a root as
    * "no state yet" would silently re-admit every previously-registered
    * document (the dedup index resets with no error), so a legacy layout
    * fails loudly with the one-move migration instead. */
  def readThrough(spark: SparkSession, root: String, through: Long): Option[DataFrame] = {
    val rootPath = new Path(root)
    val fs = fsFor(spark, root)
    if (fs.exists(rootPath)) {
      val legacy = fs.listStatus(rootPath)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      require(legacy.isEmpty,
        s"StandingStore: legacy pre-compaction layout at $root (found " +
          s"${legacy.map(_.getPath.getName).take(3).mkString(", ")}…). Migrate by " +
          s"moving every batch=<id> directory under $root/raw/ — refusing to " +
          "silently treat existing standing state as empty.")
    }
    val u = maxUpto(spark, root)
    val compacted =
      if (u < 0) None else Some(spark.read.parquet(s"$root/compact/upto=$u"))
    // "No raw state" is decided by EXPLICIT filesystem checks, never by
    // swallowing AnalysisException. Three distinct cases:
    //  - dir absent, or only batch=<id> dirs with NO committed data files
    //    (a writeRaw that crashed mid-write leaves batch=<id>/_temporary
    //    and nothing else) → None. The crashed partition belongs to the
    //    batch about to replay and overwrite it; treating it as a read
    //    error would crash-loop the replay that exists to heal it.
    //  - batch=<id> dirs WITH data files → read them (a read failure now
    //    means corrupt committed state and PROPAGATES — mapping it to
    //    None would silently reset the standing index to empty).
    //  - non-partition content under raw/ (files moved in flat) → fail
    //    loudly, the legacy-guard discipline: silently ignoring content
    //    IS the silent reset.
    def visible(n: String): Boolean = !n.startsWith("_") && !n.startsWith(".")
    val rawDir = new Path(s"$root/raw")
    val raw = if (!fs.exists(rawDir)) None else {
      val entries = fs.listStatus(rawDir).filter(s => visible(s.getPath.getName))
      val (parts, strays) = entries.partition(
        s => s.isDirectory && batchIdOf(s.getPath.getName).isDefined)
      require(strays.isEmpty,
        s"StandingStore: unexpected non-partition content under $rawDir " +
          s"(${strays.map(_.getPath.getName).take(3).mkString(", ")}…) — raw state " +
          "lives in batch=<id> directories; refusing to silently ignore it")
      val anyData = parts.exists(d =>
        fs.listStatus(d.getPath).exists(f => f.isFile && visible(f.getPath.getName)))
      if (!anyData) None
      else Some(spark.read.option("basePath", s"$root/raw").parquet(s"$root/raw")
        .filter(col("batch") > u && col("batch") <= through).drop("batch"))
    }
    (compacted, raw) match {
      case (Some(c), Some(r)) => Some(c.unionByName(r))
      case (c, r)             => c.orElse(r)
    }
  }

  /** Standing state from batches STRICTLY BEFORE `id` — what batch `id`
    * probes (its own attempt from a failed try is never read back). */
  def readBefore(spark: SparkSession, root: String, id: Long): Option[DataFrame] =
    readThrough(spark, root, id - 1)

  /** Everything currently in the store, merged by the caller afterwards —
    * test/inspection surface. */
  def readAll(spark: SparkSession, root: String): Option[DataFrame] =
    readThrough(spark, root, Long.MaxValue)

  /** Physical rows a batch-`id` reader scans (compact level + live raw
    * partitions) — the quantity compaction bounds; spec/observability
    * surface. 0 when the store is empty. */
  def physicalRowCount(spark: SparkSession, root: String): Long =
    readAll(spark, root).map(_.count()).getOrElse(0L)

  /** Compact all state from batches < `id` into level `upto = id-1`, then
    * best-effort delete the subsumed raw partitions and stale levels. Call
    * at the START of batch `id`, before the batch registers its own
    * partition.
    *
    * Replay safety: a COMMITTED level is NEVER rewritten — when
    * `upto = id-1` already carries `_SUCCESS` (the first attempt's rewrite
    * committed before the crash), the replayed compaction skips straight
    * to cleanup. Without this guard a replay would mode("overwrite") the
    * only committed level IN PLACE, and a second crash mid-rewrite would
    * leave no committed level and no raw partitions — silent total state
    * loss. The only path that writes `upto = id-1` is therefore one where
    * no committed level at that id exists (a crashed partial write
    * without `_SUCCESS` is invisible to readers and safely overwritten);
    * it also never reads the path it writes. Cleanup always runs and is
    * idempotent, so a crash between the first attempt's commit and its
    * deletes is healed by the replay. */
  def compact(spark: SparkSession, root: String, id: Long,
      merge: DataFrame => DataFrame): Unit = {
    if (maxUpto(spark, root) < id - 1) {
      readBefore(spark, root, id).foreach { standing =>
        merge(standing).write.mode("overwrite").parquet(s"$root/compact/upto=${id - 1}")
      }
    }
    val newest = maxUpto(spark, root)
    val fs = fsFor(spark, root)
    val rawDir = new Path(s"$root/raw")
    // Cleanup deletes ONLY directories it can positively classify: a
    // batch=<non-numeric> dir is stray content (readThrough refuses it
    // loudly before this point on any read path) — never something to
    // delete on a best-effort pass.
    if (fs.exists(rawDir)) fs.listStatus(rawDir).foreach { s =>
      if (batchIdOf(s.getPath.getName).exists(_ <= newest))
        fs.delete(s.getPath, true)
    }
    val compDir = new Path(s"$root/compact")
    if (fs.exists(compDir)) fs.listStatus(compDir).foreach { s =>
      val n = s.getPath.getName
      val upto = if (!n.startsWith("upto=")) None
        else scala.util.Try(n.stripPrefix("upto=").toLong).toOption
      if (upto.exists(_ < newest)) fs.delete(s.getPath, true)
    }
  }

  /** Run [[compact]] every `every` batches (0 = never); true when it ran.
    * The cadence test is on the batch id, so a replayed batch re-runs
    * exactly the compactions its first attempt ran. */
  def maybeCompact(spark: SparkSession, root: String, id: Long, every: Int,
      merge: DataFrame => DataFrame): Boolean = {
    val due = every > 0 && id > 0 && id % every == 0
    if (due) compact(spark, root, id, merge)
    due
  }

  /** TYPE GUARD: `standing` (state read from `root`) must type every key
    * column as the batch's `rows` do. A store written by an older form of
    * its operator (a MinHash band index with a long `h`, from before the
    * band key became a string) would serve the probe through a cross-type
    * comparison, and the batch's own partition would then put a second
    * type for the column beside the first, which every later read fails
    * on (`PARQUET_COLUMN_DATA_TYPE_MISMATCH`). Call it before the batch
    * writes anything; like the legacy-layout guard it refuses loudly and
    * names the migration. */
  def requireKeyTypes(root: String, standing: DataFrame, rows: DataFrame,
      keys: Seq[String]): Unit = {
    def typeOf(df: DataFrame, k: String): String =
      df.schema.find(_.name == k).map(_.dataType.simpleString).getOrElse("absent")
    val clash = keys.filter(k => typeOf(standing, k) != typeOf(rows, k))
    require(clash.isEmpty,
      s"StandingStore: the state at $root types ${clash.map(k =>
        s"$k as ${typeOf(standing, k)}").mkString(", ")}, but this batch types " +
        s"${clash.map(k => s"$k as ${typeOf(rows, k)}").mkString(", ")}: it was " +
        "written by an older form of its operator. Rebuild it: restart the " +
        s"stream with a fresh checkpoint and an empty $root and replay the " +
        "corpus — refusing to write a second type beside the first.")
  }
}
