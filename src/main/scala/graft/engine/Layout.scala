package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical-layout helpers for the 100 TB posture (SURVEY §4; builder
  * prompt: "bucketing for co-located joins").
  *
  * Bucketing pre-shuffles a table ONCE at write time: every subsequent
  * equi-join or aggregation on the bucket key reads co-located buckets and
  * plans with NO exchange on that side — the repeated-join fact⋈fact case
  * where broadcast doesn't apply and a per-query shuffle of the big table
  * would dominate. Verified in `BucketedJoinSpec`: two bucketed sides join
  * with zero Exchange operators in the plan.
  */
object Layout {

  /** Write `df` bucketed (and sorted) by `key` into the session catalog as
    * `table`. Readers joining/grouping on `key` inherit the bucketing. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write
      .mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)

  /** Morton (Z-order) key: interleaves the low `bits` bits of two integer
    * columns — x in the even output bits, y in the odd. Rows close in BOTH
    * dimensions get close keys, so a Z-sorted layout clusters every
    * dimension at once where a linear sort clusters only its leading
    * column.
    *
    * Domain: both inputs must lie in [0, 2^bits). That is ENFORCED with a
    * per-row raise, not assumed — a value ≥ 2^bits would silently alias
    * onto a distant row's key and a negative one would interleave sign
    * bits (arithmetic shift), both of which quietly DEGRADE the clustering
    * while every query still returns correct rows (readPruned re-applies
    * the row predicate) — the worst kind of failure: invisible until
    * someone asks why the 100 TB table stopped skipping files. Size `bits`
    * from the column's true max (e.g. 31 covers any non-negative int).
    *
    * Pure codegen'd bit arithmetic (shift/and/sum of disjoint bits — the
    * sum IS the bitwise-or), no UDF: `2·bits` terms folded at plan time,
    * plus one guard comparison per row. */
  def mortonKey(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in 1..31")
    val lim = 1L << bits
    val xl = x.cast("long")
    val yl = y.cast("long")
    val key = (0 until bits).map { i =>
      shiftleft(shiftright(xl, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(yl, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
    when(xl < 0 || xl >= lim || yl < 0 || yl >= lim,
      raise_error(concat(lit(s"mortonKey: inputs must be in [0, $lim) for bits=$bits; got x="),
        xl.cast("string"), lit(" y="), yl.cast("string"))))
      .otherwise(key)
  }

  private def manifestAgg(df: DataFrame, cols: Seq[String]): DataFrame =
    df.groupBy(input_file_name().as("file"))
      .agg(min(col(cols.head)).as(s"${cols.head}_min"),
        (max(col(cols.head)).as(s"${cols.head}_max") +:
          cols.tail.flatMap(c =>
            Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))): _*)

  /** Per-file min/max stats manifest for a parquet directory — the
    * Delta/Iceberg-style file index that turns layout ([[writeZOrdered]],
    * [[writeBucketed]], a plain sort) into SKIPPED I/O: one row per FILE
    * with each tracked column's min/max. Built with one distributed scan;
    * a writer maintains it incrementally via [[updateManifest]] — the
    * shape, and everything [[readPruned]] does with it, is identical
    * either way. Persist it next to the data. */
  def statsManifest(spark: org.apache.spark.sql.SparkSession, path: String,
      cols: Seq[String]): DataFrame =
    manifestAgg(spark.read.parquet(path), cols)

  /** Incremental manifest maintenance — the write-path half of the file
    * index: recompute stats ONLY for `changed` files (added or rewritten)
    * and drop rows for `removed` ones; untouched files keep their existing
    * rows without being re-read. This is what makes the manifest viable at
    * 100 TB — a full [[statsManifest]] rebuild re-scans the table, while a
    * commit touches a handful of files. Equality with the full rebuild is
    * spec-asserted (ZOrderLayoutSpec). `cols` must match the manifest's
    * tracked columns. */
  def updateManifest(spark: org.apache.spark.sql.SparkSession, manifest: DataFrame,
      cols: Seq[String], changed: Seq[String], removed: Seq[String] = Nil): DataFrame = {
    // `file` values come from input_file_name() (a fully-qualified URI); a
    // caller-supplied plain path that fails to string-match would remove
    // NOTHING and leave two conflicting rows for one physical file —
    // readPruned would then read it twice. Two defenses: rewritten files
    // are staled by the spelling their NEW stats rows actually carry
    // (collected from the recompute — for a rewrite, new spelling == old),
    // and `removed` paths must match the manifest EXACTLY or this raises.
    if (removed.nonEmpty) {
      val matched = manifest.filter(col("file").isin(removed: _*))
        .select(col("file")).distinct().count()
      require(matched == removed.distinct.size,
        s"updateManifest: ${removed.distinct.size - matched} of ${removed.distinct.size} " +
          "`removed` paths not found in the manifest — pass file names exactly as the " +
          "manifest's `file` column spells them (input_file_name() URIs)")
    }
    if (changed.isEmpty) {
      if (removed.isEmpty) manifest
      else manifest.filter(!col("file").isin(removed: _*))
    } else {
      // Driver-side state here is bounded by the COMMIT (changed + removed
      // paths and the recomputed rows' spellings — a handful of files per
      // commit at any table size), never by the manifest: the standing
      // manifest only ever flows through distributed filter/union. The
      // recomputed rows are materialized once so collecting their
      // spellings doesn't re-scan the data.
      val fresh = Materialize.checkpoint(manifestAgg(spark.read.parquet(changed: _*), cols))
      val freshSpellings = fresh.select(col("file")).collect().map(_.getString(0)).toSeq
      val stale = (changed ++ removed ++ freshSpellings).distinct
      manifest.filter(!col("file").isin(stale: _*)).union(fresh)
    }
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ~`targetFileBytes` files — the maintenance pass every long-lived
    * table needs, because streaming appends and fine-grained partition
    * writes accumulate kilobyte files whose per-file open/footer cost
    * eventually dominates scans (the classic small-files problem; at
    * 100 TB the metadata alone can stall a driver). Output file count =
    * ceil(input bytes / target); pass `sortCol` to keep (or impose) a
    * clustering while compacting — range partitioning by it preserves
    * min/max file skipping through the rewrite, where a plain
    * `repartition` would shuffle rows round-robin and destroy it. */
  def compact(spark: org.apache.spark.sql.SparkSession, inPath: String, outPath: String,
      targetFileBytes: Long, sortCol: Option[String] = None): Unit = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val fs = new org.apache.hadoop.fs.Path(inPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // RECURSIVE listing: the motivating input is exactly the partitioned
    // layout (dt=.../part-*.parquet) whose data files live in
    // subdirectories — a top-level listStatus would see only directories,
    // size the input at 0 bytes, and funnel the whole table through ONE
    // task.
    var totalBytes = 0L
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(inPath), true)
    while (it.hasNext) {
      val s = it.next()
      if (s.isFile && s.getPath.getName.endsWith(".parquet")) totalBytes += s.getLen
    }
    require(totalBytes > 0, s"compact: no parquet data files found under $inPath")
    val numFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(inPath)
    val arranged = sortCol match {
      case Some(c) => df.repartitionByRange(numFiles, col(c)).sortWithinPartitions(c)
      case None => df.repartition(numFiles)
    }
    arranged.write.mode("overwrite").parquet(outPath)
  }

  /** The file paths whose [min, max] range on `c` intersects [lo, hi] —
    * the range filter runs DISTRIBUTED on the manifest DataFrame, and only
    * the SURVIVING paths are collected. That collect is the final
    * pruned-path handoff every manifest reader performs (Spark's
    * DataSource API takes driver-side path lists for split planning), so
    * its size is bounded by the files the PREDICATE touches, never by the
    * table: on a million-file table a selective predicate collects the few
    * matching paths; only a predicate that genuinely spans the table
    * collects the full list — and then reads it all anyway, so the
    * handoff is never the dominant cost. LayoutPruneSpec asserts the
    * bound (collected == intersecting, not manifest size). */
  private[graft] def prunedFiles(manifest: DataFrame, c: String,
      lo: Long, hi: Long): Array[String] =
    manifest
      .filter(col(s"${c}_max") >= lo && col(s"${c}_min") <= hi)
      .select(col("file")).collect().map(_.getString(0))

  /** Manifest-pruned read: read just the files whose [min, max] stats
    * intersect the predicate ([[prunedFiles]] — driver state bounded by
    * the PRUNED set, not the manifest), and re-apply the row-level
    * predicate. Returns the same rows as a full scan + filter while
    * touching the subset of files the layout earns — on a Z-ordered
    * 100 TB table the difference between a full scan and a few percent of
    * it for a selective 2-D predicate. */
  def readPruned(spark: org.apache.spark.sql.SparkSession, manifest: DataFrame,
      c: String, lo: Long, hi: Long): DataFrame = {
    val files = prunedFiles(manifest, c, lo, hi)
    if (files.isEmpty) {
      // preserve the schema without reading data: filter-to-false on one file
      val any = manifest.select(col("file")).limit(1).collect()
      require(any.nonEmpty, "readPruned: empty manifest — no files to derive a schema from")
      spark.read.parquet(any.head.getString(0)).filter(lit(false))
    } else spark.read.parquet(files: _*).filter(col(c) >= lo && col(c) <= hi)
  }

  /** Write `df` as parquet Z-ordered on (xCol, yCol): range-partition and
    * sort by the Morton key so each output file covers a small RECTANGLE
    * of (x, y) space instead of a thin stripe of the leading sort column.
    * A min/max-stats file index (parquet row-group stats, or a
    * Delta/Iceberg-style manifest) then skips most files for a selective
    * predicate on EITHER column — the multi-dimensional analogue of the
    * single-key clustering [[writeBucketed]] gives joins, and at 100 TB
    * the difference between a full scan and touching √-proportional
    * files when filtering the non-leading dimension. `ZOrderLayoutSpec`
    * measures exactly this: per-file min/max overlap counts for a
    * y-predicate, Z-order vs linear x-sort. */
  def writeZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
      numFiles: Int, bits: Int = 16): Unit = {
    require(numFiles >= 1, "numFiles must be positive")
    df.withColumn("__z", mortonKey(col(xCol), col(yCol), bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
