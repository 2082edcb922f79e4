package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.engine.{Materialize, Shared}

/** The reference's streaming ingest path (/root/reference/data_subscriber.py)
  * re-expressed as Structured Streaming (SURVEY §2.9 T1-T6).
  *
  * Semantics mapping:
  *  - T1 at-least-once ack/nack (data_subscriber.py:89,98) → source offsets +
  *    an idempotent sink (partition overwrite / dedup downstream) =
  *    effectively-once. There is no nack; failed micro-batches replay from
  *    the checkpoint.
  *  - T2 event-date routing (data_subscriber.py:74-79) → partitionBy on the
  *    EVENT date parsed from the payload, falling back to processing time.
  *  - T3 unbounded lateness (append-mode reopen, data_subscriber.py:49-56) →
  *    the file sink appends to any date partition, no watermark needed;
  *    stateful aggregations take an explicit watermark (divergence noted:
  *    the reference keeps no in-stream agg state at all).
  *  - T4 daily "window" = daily files (data_subscriber.py:52) → either the
  *    partitioned sink (exact mirror) or a native tumbling window agg.
  *  - T6 shutdown-triggered batch transform (data_subscriber.py:132-143) →
  *    foreachBatch handoff running the batch ETL per micro-batch.
  *
  * Scale: the sink partitions by event date; per micro-batch work is a
  * narrow map + file append. State (for windowed aggs) is bounded by the
  * watermark. Nothing accumulates on the driver.
  */
object StreamingOps {

  /** S5: streaming JSONL source with the reference's corrupt-line tolerance
    * (PERMISSIVE + _corrupt_record, transform.py:119-124). `maxFilesPerTrigger`
    * bounds micro-batch size (the Spark-side analogue of the publisher's
    * batch-of-100 pacing, data_collector.py:111). */
  def jsonlStream(spark: SparkSession, path: String, schema: StructType,
      maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(path)

  /** Where a record stream comes from or goes to. The reference's queue is
    * Google Pub/Sub (data_subscriber.py:66-98); in a Spark deployment the
    * message-queue seat is Kafka via the `spark-sql-kafka` connector, and
    * a file directory is the broker-less stand-in this offline container
    * runs end-to-end. Making the endpoint a VALUE keeps every streaming
    * operator transport-agnostic — the same pipeline code deploys against
    * either by swapping one constructor. */
  sealed trait StreamEndpoint
  /** Directory of JSONL (source) / parquet (sink) files. */
  final case class FileEndpoint(path: String) extends StreamEndpoint
  /** A Kafka topic. `options` passes through any extra reader/writer
    * options (e.g. `kafka.security.protocol`, `maxOffsetsPerTrigger`).
    * NOTE: needs the `spark-sql-kafka-0-10` connector on the classpath —
    * absent in this container (zero egress, no broker), so here the
    * wiring is exercised to the DataSource-resolution boundary
    * (spec-asserted) and no further; on a real cluster the same value
    * runs. */
  final case class KafkaEndpoint(bootstrapServers: String, topic: String,
      options: Map[String, String] = Map.empty) extends StreamEndpoint

  /** S5 behind [[StreamEndpoint]]: records as `schema` rows from either
    * transport. File = [[jsonlStream]] (corrupt-line tolerant). Kafka =
    * `format("kafka")` with the JSON payload in `value`, decoded through
    * the same explicit schema (from_json is PERMISSIVE by default: a
    * corrupt payload yields a null-field row rather than killing the
    * query, mirroring the file path's _corrupt_record tolerance). */
  def recordStream(spark: SparkSession, endpoint: StreamEndpoint, schema: StructType,
      maxFilesPerTrigger: Int = 10): DataFrame = endpoint match {
    case FileEndpoint(path) => jsonlStream(spark, path, schema, maxFilesPerTrigger)
    case KafkaEndpoint(bootstrap, topic, opts) =>
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .options(opts)
        .load()
        .select(from_json(col("value").cast("string"), schema).as("r"))
        .select(col("r.*"))
  }

  /** S6 behind [[StreamEndpoint]]: the event-date-partitioned sink on
    * files ([[datePartitionedSink]] — the input must carry `date`), or a
    * Kafka topic with each row re-serialized to a JSON `value` (the
    * reference's publish payload, data_collector.py:102-108). Both are
    * checkpointed writers: exactly-once file manifest / the connector's
    * at-least-once produce respectively — pair the Kafka side with an
    * idempotent consumer (T1) exactly as the reference's ack semantics
    * demand. */
  def recordSink(df: DataFrame, endpoint: StreamEndpoint,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] = endpoint match {
    case FileEndpoint(path) => datePartitionedSink(df, path, checkpoint)
    case KafkaEndpoint(bootstrap, topic, opts) =>
      df.select(to_json(struct(df.columns.map(col): _*)).as("value"))
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .options(opts)
  }

  /** T2: event-date routing column — event time when parseable, else
    * processing time (data_subscriber.py:74-79 exactly: payload `timestamp`
    * field, fallback `datetime.now()`). */
  def withEventDate(df: DataFrame, eventTs: String): DataFrame =
    df.withColumn("date", to_date(coalesce(col(eventTs), current_timestamp())))

  /** S6+T3: event-date-partitioned append sink. Append mode tolerates
    * unbounded lateness for the file sink, mirroring the reference's
    * reopen-old-file behavior. Checkpointed → exactly-once file manifest. */
  def datePartitionedSink(df: DataFrame, outPath: String, checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .partitionBy("date")
      .outputMode("append")

  /** T4: native tumbling event-time window aggregation with a watermark —
    * the in-stream daily rollup the reference realizes as daily files +
    * batch job. Late rows beyond the watermark are dropped (documented
    * divergence from the reference's unbounded-lateness file append). */
  def dailyCounts(df: DataFrame, eventTs: String, watermark: String = "1 day"): DataFrame =
    df.withWatermark(eventTs, watermark)
      .groupBy(window(col(eventTs), "1 day").as("day"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("day.start").as("day_start"), col("cnt"))

  /** T6: stream→batch handoff — the reference chains transform.main(date)
    * after ingest (data_subscriber.py:132-143); here each micro-batch runs
    * the batch ETL function under the source's exactly-once envelope. */
  def foreachBatchHandoff(df: DataFrame, checkpoint: String)(etl: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) => etl(batch.toDF(), id))

  /** X1 (streaming): in-stream dedup with bounded state — the idempotent-
    * consumer half of the at-least-once delivery contract (T1): redelivered
    * records drop here instead of relying on sink-side reconciliation.
    * Dedup state is evicted once keys age past the watermark, so state is
    * bounded regardless of stream length. */
  def streamingDedup(df: DataFrame, eventTs: String, keys: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    df.withWatermark(eventTs, watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Stream-stream equi-join with an event-time interval bound — the
    * enrichment shape (click ⋈ its impression within `maxDelay`): a right
    * row matches a left row with the same `key` whose timestamp lies in
    * [leftTs, leftTs + maxDelay]. Spark buffers BOTH sides in state; the
    * watermark plus the interval predicate are what let it EVICT — a left
    * row older than (watermark − maxDelay) and a right row older than the
    * watermark can never match again and are dropped from state. Without
    * the time bound a stream-stream join's state grows with the whole
    * stream; the interval IS the 100 TB story. Inner join, append mode;
    * both inputs must share only the `key` column name. */
  def streamingIntervalJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, maxDelay: String,
      watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    // Typed-Column condition, not a spliced SQL string: column names with
    // spaces/reserved words resolve correctly, and a malformed `maxDelay`
    // fails HERE on the one fragment that is genuinely SQL (the interval
    // literal) instead of as an opaque whole-condition parse error.
    val delay = expr(s"INTERVAL $maxDelay")
    l.join(r, l(key) === r(key) && r(rightTs) >= l(leftTs) &&
        r(rightTs) <= l(leftTs) + delay)
      .drop(r(key))
  }

  /** X6 (streaming, built-in): native session-window aggregation — the
    * in-stream analogue of SessionOps.sessionize. One row per closed/updated
    * (entity, session); state bounded by the watermark. */
  def sessionWindowCounts(df: DataFrame, eventTs: String, entity: String,
      gap: String, watermark: String = "1 hour"): DataFrame =
    df.withWatermark(eventTs, watermark)
      .groupBy(col(entity), session_window(col(eventTs), gap).as("sess"))
      .agg(count(lit(1)).as("n_events"))
      .select(col(entity), col("sess.start").as("session_start"),
        col("sess.end").as("session_end"), col("n_events"))

  /** Event record for [[runningSessions]] — `ts` in epoch seconds. */
  case class UserEvent(user_id: Long, ts: Long)
  /** Per-user session state carried across micro-batches. */
  case class UserSessionState(nSessions: Long, lastTs: Long, currentEvents: Long)
  /** Update-mode output: the user's session tally after each micro-batch. */
  case class SessionProgress(user_id: Long, n_sessions: Long, current_session_events: Long)

  /** X6 (streaming, custom state): gap-based sessionization via
    * `mapGroupsWithState` — the KeyValueGroupedDataset custom-state surface
    * (T5). Within a micro-batch events are sorted by time; state is one
    * fixed-size record per user (bounded, no per-event state). Run the query
    * in Update output mode. */
  def runningSessions(events: Dataset[UserEvent], gapSeconds: Long): Dataset[SessionProgress] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserSessionState, SessionProgress](GroupStateTimeout.NoTimeout) {
        (uid, it, state) =>
          var s = state.getOption.getOrElse(UserSessionState(0L, Long.MinValue, 0L))
          it.toSeq.sortBy(_.ts).foreach { e =>
            s = if (s.lastTs == Long.MinValue || e.ts - s.lastTs > gapSeconds)
              UserSessionState(s.nSessions + 1, e.ts, 1L)
            else
              UserSessionState(s.nSessions, e.ts, s.currentEvents + 1)
          }
          state.update(s)
          SessionProgress(uid, s.nSessions, s.currentEvents)
      }
  }

  /** X2 (streaming): incremental near-dup SUSPECT flagging — q74's
    * crawl-dedup discipline under the streaming envelope. Each micro-batch
    * (1) computes its documents' MinHash band rows, (2) LEFT SEMI-probes
    * the STANDING band index accumulated by earlier batches
    * ([[graft.operators.DedupOps.incrementalLshSuspects]]) AND self-probes
    * its own bands for WITHIN-batch collisions (a doc is a suspect when it
    * band-collides with any doc that arrived earlier: a prior batch, or
    * the same batch with a smaller doc_id — first-seen is admitted, the
    * echo is flagged), (3) appends the flagged documents to `outPath`, and
    * (4) writes its own bands into the index under `batch=<id>` so later
    * batches see them. The index is the only state; it lives in FILES
    * (restart-safe next to the checkpoint, never in executor memory), and
    * the corpus is never rescanned — per-batch work is the batch's own
    * signature pass plus one equi-join against the index and one
    * batch-local self-join, corpus-size-independent.
    *
    * Effectively-once under replay: the batch's band partition is
    * OVERWRITTEN (not appended) and the probe reads only partitions with
    * batch < current ([[StandingStore.readBefore]]), so a replayed batch
    * neither double-registers its bands nor LSH-collides with its own
    * first attempt (the batch-local
    * self-probe is deterministic, so a replay re-flags the same docs). The
    * flagged OUTPUT append is at-least-once on replay, as with any
    * foreachBatch file append; dedup on doc_id downstream if the sink must
    * be exact.
    *
    * Every `compactEvery` batches the band index is COMPACTED
    * ([[StandingStore]]): the accumulated `batch=<id>` partitions are
    * rewritten as one level and dropped, so the per-batch index scan is
    * bounded by the index's own size (rows ∝ corpus bands, files O(1) +
    * O(compactEvery)) instead of degrading with stream age — the
    * small-file accumulation a 10⁵-micro-batch deployment would otherwise
    * hit. 0 disables. */
  def streamingLshSuspects(docs: DataFrame, checkpoint: String, indexPath: String,
      outPath: String, numHashes: Int = 8,
      compactEvery: Int = 16): DataStreamWriter[org.apache.spark.sql.Row] =
    foreachBatchHandoff(docs, checkpoint) { (batch, id) =>
      Materialize.scoped(graft.operators.DedupOps.minhashBandedRows(
        graft.operators.TextOps.shingleRows(batch, col("doc_id"), lit("all"), col("text")),
        numHashes, 1)) { bands => // probed AND registered — compute once
        flagAndRegister(batch, id, bands, LshKeys, indexPath, outPath, compactEvery)
      }
    }

  /** What a suspect operator's index rows are keyed by: the id column,
    * the columns a collision must agree on, and the output flag's name. */
  private final case class SuspectKeys(id: String, on: Seq[String], flag: String)
  private val LshKeys = SuspectKeys("doc_id", Seq("bucket", "band", "h"), "lsh_suspect")

  /** The probe→flag→register tail all three streaming suspect operators
    * share ([[streamingLshSuspects]], [[streamingCalibratedLshSuspects]],
    * [[streamingSemanticSuspects]]): compact the standing index, LEFT SEMI
    * probe it (strictly earlier batches only), add the within-batch
    * earlier-id collisions that close the intra-batch blind spot (id order
    * stands in for arrival order inside a batch), flag the batch rows
    * (rows without index entries — docs too short to shingle, or whose
    * every shingle a cap dropped — are never suspects), append them, and
    * register the batch's own rows under `batch=<id>`. An index whose key
    * types differ from the batch's (one written by an older band form)
    * refuses the batch before it writes anything
    * ([[StandingStore.requireKeyTypes]]). Factored so a
    * change to the replay contract or the blind-spot logic cannot drift
    * between the operators. `decorate` attaches variant-specific
    * observability columns before the append. Index state lives in a
    * [[StandingStore]] (raw per-batch partitions + periodic compaction);
    * the identity merge is correct for a semi-join index — row
    * multiplicity never changes a LEFT SEMI probe. */
  private def flagAndRegister(batch: DataFrame, id: Long, rows: DataFrame,
      keys: SuspectKeys, indexPath: String, outPath: String, compactEvery: Int,
      decorate: DataFrame => DataFrame = identity): Unit = {
    val spark = batch.sparkSession
    val standing = StandingStore.readBefore(spark, indexPath, id)
    standing.foreach(StandingStore.requireKeyTypes(indexPath, _, rows, keys.on))
    val compacted = StandingStore.maybeCompact(spark, indexPath, id, compactEvery, identity)
    val earlier = (if (compacted) StandingStore.readBefore(spark, indexPath, id) else standing)
      .map(idx => rows.join(idx, keys.on, "left_semi"))
    val intra = rows.as("p").join(rows.as("e"),
      keys.on.map(k => col(s"p.$k") === col(s"e.$k")).reduce(_ && _) &&
        col(s"e.${keys.id}") < col(s"p.${keys.id}"),
      "left_semi")
    val suspects = (earlier.toSeq :+ intra).map(_.select(col(keys.id))).reduce(_ union _)
      .distinct().withColumn(keys.flag, lit(true))
    decorate(batch.join(suspects, Seq(keys.id), "left")
        .withColumn(keys.flag, coalesce(col(keys.flag), lit(false))))
      .write.mode("append").parquet(outPath)
    StandingStore.writeRaw(rows, indexPath, id)
  }

  /** X2 (streaming, CALIBRATED): [[streamingLshSuspects]] with the
    * quantile df cap maintained INCREMENTALLY — the streaming form of the
    * round-7/8 saturation lesson. A fixed df cap set at deploy time
    * silently flips from no-op to drop-everything as the corpus saturates
    * (and a batch-local quantile would see only the batch's own df, never
    * the corpus's), so the operator keeps a SECOND standing table next to
    * the band index: per-batch (bucket, sh, __df) partial counts under
    * `batch=<id>`. Each micro-batch (1) sums prior partials with its own
    * — the standing GLOBAL df of every shingle seen so far, (2) derives
    * the df threshold from that table's histogram
    * ([[graft.operators.DedupOps.dfQuantileThreshold]] — BIT-IDENTICAL to
    * what a full-corpus recompute would calibrate, spec-proven), (3) caps
    * its shingles by the standing df, bands the survivors (r rows/band),
    * probes the standing band index + its own earlier-id rows exactly as
    * the uncalibrated op, and (4) registers its bands and its df partials.
    * Each output row carries the batch's `df_threshold` for observability.
    *
    * Signature drift is the honest trade: as the threshold moves,
    * signatures of NEW batches are computed over a slightly different
    * capped universe than old index entries — which only costs RECALL
    * (suspects feed a verifier downstream; a missed collision is the
    * documented LSH trade, a false one is verified away). Production
    * re-indexes on a cadence; the standing stats table is exactly what
    * that rebuild needs. Per-batch work stays corpus-size-independent in
    * ROWS SCANNED (the batch's own passes + two index equi-joins + one
    * df-stats aggregate whose input is the standing vocabulary — the
    * q50-measured SATURATING table, not the corpus); same replay contract
    * as the uncalibrated op (stats and bands partitions overwritten,
    * probe reads batch < current only).
    *
    * Both standing tables COMPACT every `compactEvery` batches
    * ([[StandingStore]]): without it the df-stats scan reads
    * batches × per-batch-vocabulary rows (the summed result is
    * vocabulary-bounded but the INPUT is not), a linear-in-time per-batch
    * regression at 10⁵ micro-batches. After compaction the scan input is
    * the merged vocabulary itself (one row per distinct (bucket, shingle))
    * plus ≤ compactEvery recent raw partials — bounded by vocabulary
    * saturation, not stream age. The df partials merge by bin-wise SUM,
    * which is exactly the associative partial-aggregate algebra; the
    * spec asserts compacted ≡ uncompacted bit-for-bit. 0 disables. */
  def streamingCalibratedLshSuspects(docs: DataFrame, checkpoint: String,
      indexPath: String, statsPath: String, outPath: String,
      numHashes: Int = 8, rowsPerBand: Int = 2, q: Double = 0.95,
      floor: Int = 2, compactEvery: Int = 16): DataStreamWriter[org.apache.spark.sql.Row] =
    foreachBatchHandoff(docs, checkpoint) { (batch, id) =>
      val spark = batch.sparkSession
      import graft.operators.{DedupOps, TextOps}
      StandingStore.maybeCompact(spark, statsPath, id, compactEvery,
        _.groupBy(col("bucket"), col("sh")).agg(sum(col("__df")).as("__df")))
      Materialize.scoped(
          TextOps.shingleRows(batch, col("doc_id"), lit("all"), col("text"))) { sh =>
        // df-counted, capped, AND banded — computed once
        val batchDf = sh.groupBy(col("bucket"), col("sh")).agg(count(lit(1)).as("__df"))
        val standing = StandingStore.readBefore(spark, statsPath, id) match {
          case Some(p) => p.unionByName(batchDf)
            .groupBy(col("bucket"), col("sh")).agg(sum(col("__df")).as("__df"))
          case None => batchDf
        }
        val thr = DedupOps.dfQuantileThreshold(standing.select(col("__df")), q, floor)
        val capped = sh.join(standing, Seq("bucket", "sh"))
          .crossJoin(broadcast(thr))
          .filter(col("__df") <= col("__thr"))
          .select(col("doc_id"), col("bucket"), col("sh"))
        // probed AND registered — compute once
        Materialize.scoped(DedupOps.minhashBandedRows(capped, numHashes, rowsPerBand)) { bands =>
          flagAndRegister(batch, id, bands, LshKeys, indexPath, outPath, compactEvery,
            decorate = out => out.crossJoin(broadcast(thr))
              .withColumn("df_threshold", col("__thr"))
              .drop("__thr"))
          StandingStore.writeRaw(batchDf, statsPath, id)
        }
      }
    }

  /** X2/X3 (streaming): the EMBEDDING analogue of [[streamingLshSuspects]]
    * — incremental SEMANTIC near-dup suspect flagging. Each micro-batch
    * sign-LSH-buckets its vectors under the given OR-ed plane tables
    * ([[graft.operators.SimilarityOps.tableBuckets]]), LEFT SEMI-probes the
    * standing (table, bucket) index of earlier batches plus its own
    * earlier-id rows (same first-seen-admitted discipline), appends the
    * flagged vectors to `outPath`, and registers its buckets under
    * `batch=<id>`. State = T small rows per vector in FILES; per-batch work
    * is the batch's own bucket pass + two equi-joins — corpus-size-
    * independent. Suspects feed an exact-cosine verifier downstream
    * (q32/q61's verification stage); same effectively-once replay contract
    * and `compactEvery`-batch index compaction ([[StandingStore]]) as the
    * lexical op. */
  def streamingSemanticSuspects(embs: DataFrame, checkpoint: String, indexPath: String,
      outPath: String, tables: Seq[Seq[Seq[Double]]],
      compactEvery: Int = 16): DataStreamWriter[org.apache.spark.sql.Row] =
    foreachBatchHandoff(embs, checkpoint) { (batch, id) =>
      Materialize.scoped(batch // probed AND registered — compute the buckets once
          .select(col("vec_id"), explode(graft.operators.SimilarityOps.tableBuckets(
            col("embedding").cast("array<double>"), tables)).as("tb"))
          .select(col("vec_id"), col("tb.t").as("t"), col("tb.b").as("b"))) { buckets =>
        flagAndRegister(batch, id, buckets, SuspectKeys("vec_id", Seq("t", "b"), "sem_suspect"),
          indexPath, outPath, compactEvery)
      }
    }

  /** Streaming distinct-count monitor — the deterministic HLL
    * ([[graft.operators.SketchOps]], q126) on the streaming path: each
    * micro-batch writes its own register table (batch-keyed, the standing
    * store discipline of the LSH index above) and appends the
    * register-merged estimate over everything seen so far. Two properties
    * make this the right 100 TB monitor shape:
    *
    *  - the standing state is 2^p registers PER BATCH of bookkeeping but
    *    the merge (`max` per bucket) collapses it to 2^p values — state
    *    is sketch-sized, never corpus-sized;
    *  - `max` is idempotent AND commutative, so at-least-once redelivery
    *    (a replayed batch id, a duplicated row) cannot move any register
    *    — the estimate after any prefix of batches is BIT-IDENTICAL to
    *    the one-shot batch sketch over the union of those batches
    *    (spec-asserted), with no dedup bookkeeping at all. A count-sum
    *    monitor needs the `batch < id` replay guard; a max-merge sketch
    *    gets replay safety from algebra.
    *
    * The register store compacts every `compactEvery` batches
    * ([[StandingStore]]): the per-batch 2^p-row tables max-merge into one
    * level, so the standing scan reads 2^p + (≤ compactEvery)·2^p rows
    * forever instead of batches·2^p. Max-merge makes the compacted level
    * trivially idempotent under replay. 0 disables. */
  def streamingHllMonitor(events: DataFrame, key: String, checkpoint: String,
      registersPath: String, outPath: String, p: Int = 8,
      compactEvery: Int = 16): DataStreamWriter[org.apache.spark.sql.Row] =
    foreachBatchHandoff(events, checkpoint) { (batch, id) =>
      val spark = batch.sparkSession
      import graft.operators.SketchOps
      StandingStore.maybeCompact(spark, registersPath, id, compactEvery,
        _.groupBy(col("bucket")).agg(max(col("reg")).as("reg")))
      StandingStore.writeRaw(
        SketchOps.hllRegisters(batch, col(key), p), registersPath, id)
      val standing = StandingStore.readThrough(spark, registersPath, id).get
        .groupBy(col("bucket")).agg(max(col("reg")).as("reg"))
      SketchOps.hllEstimate(standing, p)
        .withColumn("batch", lit(id))
        .write.mode("append").parquet(outPath)
    }

  /** X1×X4×X7 STREAMING ingest-admission funnel — q150's five batch stages
    * under the streaming envelope (the last un-streamed production
    * pipeline, round-10 verdict task #3): per micro-batch, (1)
    * canonical-URL revisit dedup against a STANDING curl index plus the
    * within-batch earlier-doc_id rule (arrival order stands in for crawl
    * order, the [[streamingLshSuspects]] blind-spot discipline); (2) Bloom
    * novelty probe of the fixed standing-corpus artifact
    * ([[graft.operators.DedupOps.bloomPrunedNovel]] — exact by
    * construction; `kept` is deterministic, satisfying its two-branch
    * contract); (3) the char-entropy gibberish gate; (4) per-source robust
    * length fence; (5) the per-source funnel report. Input `docs` must
    * carry (doc_id, source, text, n_chars, fp, curl) — fingerprinting and
    * URL canonicalization are stateless narrow maps the caller applies
    * upstream.
    *
    * The fence is the part a naive port gets WRONG: q150's med/MAD are
    * statistics of the whole fresh set, so a row's admission depends on
    * rows that arrive LATER — not a streamable predicate. The honest
    * streaming form keeps the q165 incremental-rollup shape: per-batch
    * PARTIALS (a per-(source, n_chars, kept, novel, h_ok) count histogram)
    * go to a [[StandingStore]], and each batch emits the funnel REDERIVED
    * over the merged state — fence included, via
    * [[graft.operators.CurationOps.robustStatsWeighted]], bit-identical to
    * the row form — so the batch-`id` snapshot equals batch q150 run on
    * the stream's prefix through that batch (spec-asserted). Per-batch
    * cost: the batch's own narrow maps + two standing-state scans whose
    * row counts are bounded by |unique curls| and |sources × length
    * domain × 8 flag combos| — never by stream age (both stores compact
    * every `compactEvery` batches). Snapshots land replay-idempotently
    * under `outPath/raw/batch=<id>` (a replayed batch overwrites its own
    * partition — the T1 discipline).
    *
    * OPT-IN stream-content dedup (`streamFpIndexPath`, round-11 verdict
    * task #4): by default novelty is checked against the FIXED corpus
    * artifact only — faithful to batch q150, where the whole "stream" is
    * one fresh set — so the SAME text re-crawled under a DIFFERENT URL in
    * a later batch is admitted twice (the URL index can't see it, the
    * corpus Bloom never grows). Passing a path enables a GROWING standing
    * fingerprint index: each batch's corpus-novel fps are content-deduped
    * within the batch (first doc_id wins, the curl-stage rule), probed
    * against the fps admitted by STRICTLY EARLIER batches, and the
    * survivors appended to the store. The probe is Bloom-accelerated the
    * bloomPrunedNovel way — a driver-held sketch OR-merges each batch's
    * fps ([[graft.operators.DedupOps.mergeBloomIndexes]]), rebuilt from
    * the store on restart, so a false positive costs one exact rescan and
    * never correctness; replay is safe because the exact side reads only
    * earlier batches and re-OR-ing the same bits is idempotent. THIS IS A
    * DELIBERATE SEMANTIC DIVERGENCE from batch q150: `novel` (and
    * everything downstream of it) then means "novel vs corpus AND vs the
    * stream so far", so snapshots no longer equal the batch pipeline on
    * the prefix — the spec asserts prefix-equality for the default and
    * the second-arrival drop for the opt-in. */
  def streamingAdmissionFunnel(docs: DataFrame, checkpoint: String,
      urlIndexPath: String, statsPath: String, outPath: String,
      corpusFps: DataFrame, corpusBloom: graft.operators.DedupOps.BloomIndex,
      entropyMin: Double = 4.0, z: Double = 3.5,
      compactEvery: Int = 16,
      streamFpIndexPath: Option[String] = None): DataStreamWriter[org.apache.spark.sql.Row] =
    foreachBatchHandoff(docs, checkpoint) { (batch, id) =>
      val spark = batch.sparkSession
      import graft.operators.{CurationOps, DedupOps, TextOps}
      import org.apache.spark.sql.expressions.Window
      StandingStore.maybeCompact(spark, urlIndexPath, id, compactEvery,
        _.select(col("curl")).distinct())
      StandingStore.maybeCompact(spark, statsPath, id, compactEvery,
        _.groupBy(col("source"), col("n_chars"), col("kept"), col("novel"),
            col("h_ok"))
          .agg(sum(col("n")).as("n")))
      Materialize.scoped(batch) { b =>
        // (1) revisit dedup: within-batch min doc_id per curl, then the
        // standing index (strictly earlier batches) — first batch wins.
        val intraKept = b.withColumn("__rn", row_number().over(
            Window.partitionBy(col("curl")).orderBy(col("doc_id"))))
          .filter(col("__rn") === 1).drop("__rn")
        Materialize.scoped(StandingStore.readBefore(spark, urlIndexPath, id) match {
          case Some(seen) => intraKept.join(
            seen.select(col("curl")).distinct(), Seq("curl"), "left_anti")
          case None => intraKept
        }) { kept =>
          // (2) novelty vs the standing corpus; (3) entropy on the novel
          // sliver only (exactly q150's evaluation set).
          val corpusNovel = DedupOps.bloomPrunedNovel(kept, "fp", corpusFps, corpusBloom)
          // (2b, opt-in) novelty vs the STREAM so far: content-dedup within
          // the batch (first doc_id per fp — the curl-stage rule), then the
          // Bloom-accelerated probe of fps admitted by earlier batches.
          Materialize.scoped(streamFpIndexPath match {
            case None => corpusNovel
            case Some(fpPath) =>
              StandingStore.maybeCompact(spark, fpPath, id, compactEvery,
                _.select(col("fp")).distinct())
              val intra = corpusNovel.withColumn("__fn", row_number().over(
                  Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
                .filter(col("__fn") === 1).drop("__fn")
              StandingStore.readBefore(spark, fpPath, id) match {
                case Some(seen) =>
                  val seenFps = seen.select(col("fp")).distinct()
                  DedupOps.bloomPrunedNovel(intra, "fp", seenFps,
                    StreamFpBloom.getOrRebuild(spark, fpPath, seenFps))
                case None => intra
              }
          }) { novel =>
            streamFpIndexPath.foreach { fpPath =>
              val outFps = novel.select(col("fp")).distinct()
              StandingStore.writeRaw(outFps, fpPath, id)
              StreamFpBloom.mergeIn(spark, fpPath, outFps)
            }
            val hOk = TextOps.docCharEntropy(novel, col("doc_id"), col("text"))
              .select(col("doc_id"), (col("h") >= entropyMin).as("__h_ok"))
            // register this batch's partials: flag histogram + curl keys
            val partial = b.select(col("doc_id"), col("source"), col("n_chars"))
              .join(kept.select(col("doc_id"))
                .withColumn("__kept", lit(true)), Seq("doc_id"), "left")
              .join(novel.select(col("doc_id"))
                .withColumn("__novel", lit(true)), Seq("doc_id"), "left")
              .join(hOk, Seq("doc_id"), "left")
              .groupBy(col("source"), col("n_chars"),
                coalesce(col("__kept"), lit(false)).as("kept"),
                coalesce(col("__novel"), lit(false)).as("novel"),
                coalesce(col("__h_ok"), lit(false)).as("h_ok"))
              .agg(count(lit(1)).as("n"))
            StandingStore.writeRaw(partial, statsPath, id)
            StandingStore.writeRaw(kept.select(col("curl")).distinct(),
              urlIndexPath, id)
            // (4)+(5): funnel REDERIVED over the merged standing histogram —
            // the snapshot that equals batch q150 on the prefix through `id`.
            Materialize.scoped(StandingStore.readThrough(spark, statsPath, id).get
                .groupBy(col("source"), col("n_chars"), col("kept"), col("novel"),
                  col("h_ok"))
                .agg(sum(col("n")).as("n"))) { merged =>
              val fence = CurationOps.robustStatsWeighted(
                merged, "source", col("n_chars"), col("n"))
              val funnel = merged.groupBy(col("source"))
                .agg(sum(col("n")).as("n_fetched"),
                  sum(when(col("kept"), col("n")).otherwise(0L)).as("n_url_unique"),
                  sum(when(col("kept") && col("novel"), col("n")).otherwise(0L))
                    .as("n_novel"))
              val admitted = merged.join(broadcast(fence), Seq("source"))
                .filter(col("kept") && col("novel") && col("h_ok") &&
                  abs(col("n_chars") - col("med")) <= lit(z) * col("mad"))
                .groupBy(col("source")).agg(sum(col("n")).as("n_admitted"))
              StandingStore.writeRaw(
                funnel.join(admitted, Seq("source"), "left")
                  .select(col("source"), col("n_fetched"), col("n_url_unique"),
                    col("n_novel"),
                    coalesce(col("n_admitted"), lit(0L)).as("n_admitted")),
                outPath, id)
            }
          }
        }
      }
    }

  /** Driver-held Bloom over the growing stream-fingerprint index
    * ([[streamingAdmissionFunnel]]'s opt-in stage): per batch the admitted
    * fps' sketch OR-merges into the standing one
    * ([[graft.operators.DedupOps.mergeBloomIndexes]]) — KB-sized driver
    * state however long the stream runs, held in [[graft.engine.Shared]]
    * under `stream-fp-bloom:<path>` and rebuilt from the exact store on a
    * miss (fresh driver, or after `Shared.clear`). FIXED geometry (2^21
    * bits, k = 5 — ~0.1% fp rate at 10^5 keys) so every batch's sketch is
    * merge-compatible; saturation only raises the false-positive rate,
    * which costs exact rescans, never correctness (the bloomPrunedNovel
    * contract). Merge is idempotent (OR of the same bits), so a replayed
    * batch cannot corrupt the sketch. */
  private[graft] object StreamFpBloom {
    import graft.operators.DedupOps
    private val mBits = 1 << 21
    private val k = 5

    private def key(path: String): String = s"stream-fp-bloom:$path"

    /** The standing sketch for `path`, rebuilt from the exact store's fps
      * on a miss. */
    def getOrRebuild(spark: SparkSession, path: String,
        seenFps: DataFrame): DedupOps.BloomIndex =
      Shared.cachedValue(spark, key(path))(
        DedupOps.buildFingerprintBloom(seenFps, col("fp"), k, mBits))

    /** OR-merge one batch's fps into the standing sketch (seeds the entry
      * when this is the stream's first batch). */
    def mergeIn(spark: SparkSession, path: String, batchFps: DataFrame): Unit =
      Shared.merge(spark, key(path),
        DedupOps.buildFingerprintBloom(batchFps, col("fp"), k, mBits))(
        DedupOps.mergeBloomIndexes)
  }

  /** Convenience: run a streaming query until all currently-available input
    * is processed, then stop (test/batch-catchup harness). */
  def runAvailableNow(w: DataStreamWriter[org.apache.spark.sql.Row]): Unit = {
    val q: StreamingQuery = w.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }
}
