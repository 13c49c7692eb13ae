package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.config.{GraftConfig, KafkaSettings, MsgSettings}
import graft.operators.{BucketCounts, Decode, Project}
import graft.store.{GenerationStore, RecentStore}

/** The streaming shell — the reference's DStream job
  * (`ss_kafka_bucket_counter`, `spark-streaming-kafka-bucket-counter.py:91-173`)
  * restated as Structured Streaming:
  *
  *   source → dropKey (P1) → decode/project/bucketize (P2–P7) →
  *   per-batch count-by-key (A1) → foreachBatch append to [[RecentStore]]
  *   (A3/K1 — batch isolation is native, so the reference's double-buffered
  *   accumulator pair + multiprocessing queue collapse into one call)
  *
  * Semantics pinned (SURVEY.md §2.7):
  *   - counts are PER MICRO-BATCH — no watermark, no cross-batch state. A
  *     bucket straddling two batches (or late data) yields another row for
  *     the same (key, bucket) under a new rst_id, exactly like the
  *     reference's blind per-batch append
  *     (`spark-streaming-kafka-bucket-counter.py:125-126` +
  *     `audit_utils/audit_utils/models.py:584-629`). Consumers SUM(count)
  *     via the Q2 SQL surface for totals.
  *   - the only cross-batch state is the store's rst_id counter + retention.
  *   - default trigger = `bucket_interval + 5` seconds
  *     (`spark-streaming-kafka-bucket-counter.py:111`).
  *
  * Scale: each micro-batch plans the same partial+final hash aggregate as
  * the batch path — shuffle volume per batch is bounded by key cardinality.
  * Checkpointing (pass `checkpoint`) upgrades the reference's
  * at-most-once receiver to Structured Streaming's exactly-once source
  * tracking; the store append itself stays idempotent per rst_id.
  */
object StreamShell {

  /** The reference's micro-batch period: `bucket_interval + 5` s. */
  def defaultTrigger(msg: MsgSettings): Trigger =
    Trigger.ProcessingTime((msg.bucketInterval + 5) * 1000L)

  /** The per-batch transform: Kafka-shaped frame (key, value) → counted
    * (projected cols…, bucket_start, bucket_end, count). Exposed separately
    * so tests and the batch path share it. `valueDecoder` is the S3 Avro
    * hook (`spark-streaming-kafka-bucket-counter.py:104,116`): a
    * DataFrame→DataFrame step that rewrites `value` from bytes to JSON. */
  def batchCounts(batch: DataFrame, msg: MsgSettings,
                  valueDecoder: Option[DataFrame => DataFrame] = None): DataFrame =
    BucketCounts.countByKey(parse(batch, msg, valueDecoder),
      msg.msgMapSchema.map(_._1) :+ "bucket_start" :+ "bucket_end")

  /** Kafka-shaped frame → decoded message columns. Key dropped first, value
    * kept in its RAW type (binary for Avro) — the decoder runs before the
    * to-string normalization, like the reference's valueDecoder on raw
    * Kafka bytes (`:104,116`). */
  private def parse(frame: DataFrame, msg: MsgSettings,
                    valueDecoder: Option[DataFrame => DataFrame]): DataFrame = {
    val values = frame.select(col("value"))
    Decode.decode(Project.dropKey(valueDecoder.map(_(values)).getOrElse(values)),
      "value", msg)
  }

  /** Start `frame` on `trigger` (default [[defaultTrigger]]), checkpointed
    * when a dir is given, handing every micro-batch to `onBatch`. */
  private def start(frame: DataFrame, msg: MsgSettings, outputMode: String,
                    trigger: Option[Trigger], checkpoint: Option[String])(
                    onBatch: DataFrame => Unit): StreamingQuery = {
    val writer = frame.writeStream
      .outputMode(outputMode)
      .trigger(trigger.getOrElse(defaultTrigger(msg)))
      .foreachBatch { (batch: DataFrame, _: Long) => onBatch(batch) }
    checkpoint.fold(writer)(writer.option("checkpointLocation", _)).start()
  }

  /** Attach the counting pipeline to a streaming frame and start it.
    * Every micro-batch appends one generation to the store. */
  def attach(stream: DataFrame, msg: MsgSettings, store: GenerationStore,
             trigger: Option[Trigger] = None,
             checkpoint: Option[String] = None,
             valueDecoder: Option[DataFrame => DataFrame] = None): StreamingQuery =
    start(stream, msg, "append", trigger, checkpoint) { batch =>
      // rst_id comes from the store's own restored counter, not batchId:
      // the reference's generation id survives restarts via MAX(RST_ID)
      // (`models.py:533-536`), whereas batchId restarts with the checkpoint.
      // appendStreaming materializes the generation within the trigger
      // (checkpoint or durable write, per deployment): a lazy plan over
      // the ephemeral micro-batch would re-read retired source offsets.
      store.appendStreaming(batchCounts(batch, msg, valueDecoder))
    }

  /** [[attach]] with exactly-once-by-message-id ingestion — the streaming
    * face of the dedup family: a training-data ingest that must not double-
    * count replayed messages (producer retries, at-least-once sources)
    * drops duplicates on `dedupCols` BEFORE the per-batch count, via
    * Spark's watermark-bounded dedup state
    * (`dropDuplicatesWithinWatermark`). State is bounded: an id is
    * remembered until the watermark passes its event time + `lateness`,
    * then dropped — so memory is (ids per lateness window), not (all ids
    * ever). A duplicate arriving LATER than `lateness` is counted again;
    * size `lateness` to the source's replay horizon.
    *
    * Downstream semantics are unchanged from [[attach]]: per-batch counts,
    * one generation per trigger, no cross-batch merge. */
  def attachDeduped(stream: DataFrame, msg: MsgSettings, store: GenerationStore,
                    dedupCols: Seq[String], lateness: String = "0 seconds",
                    trigger: Option[Trigger] = None,
                    checkpoint: Option[String] = None,
                    valueDecoder: Option[DataFrame => DataFrame] = None): StreamingQuery = {
    // Decode must sit in the STREAMING plan here (not inside foreachBatch
    // as attach() has it): the dedup state operator keys on decoded
    // message fields.
    val parsed = parse(stream, msg, valueDecoder)
      .withColumn("_ets", timestamp_seconds(col("bucket_start")))
      .withWatermark("_ets", lateness)
      .dropDuplicatesWithinWatermark(dedupCols)
      .drop("_ets")
    // The id columns exist to dedup on, not to group on: a message id in
    // the count keys would degenerate counts to per-message rows.
    val keyCols = msg.msgMapSchema.map(_._1).filterNot(dedupCols.contains)
    start(parsed, msg, "append", trigger, checkpoint) { batch =>
      val counted = BucketCounts.countByKey(
        batch, keyCols :+ "bucket_start" :+ "bucket_end")
      // The stateful dedup operator fires extra DATA-LESS micro-batches
      // to advance the watermark; blindly appending those would burn a
      // generation (and a retention tick) per watermark advance. Empty
      // checks are cheap at micro-batch scale (limit-1 over the agg).
      if (!counted.isEmpty) store.appendStreaming(counted)
    }
  }

  /** The UPGRADE-PATH mode (SURVEY.md §2.7): watermarked cross-batch
    * aggregation instead of the reference's per-batch counts. One row per
    * (key, bucket) is maintained by Spark's state store; each trigger emits
    * the UPDATED rows (output mode update) which are appended under a new
    * generation — so consumers read the LATEST rst_id per (key, bucket)
    * instead of SUMming per-batch fragments, and late data within
    * `lateness` folds into the same bucket. This mode trades the
    * reference's semantics for exact event-time totals; it is opt-in and
    * separate from [[attach]] for that reason.
    *
    * Scale: streaming state is bounded by (active buckets × keys) and
    * watermark-expired state is dropped by Spark; shuffle per trigger is the
    * same partial+final agg as the batch path. */
  def attachWatermarked(stream: DataFrame, msg: MsgSettings, store: GenerationStore,
                        lateness: String = "0 seconds",
                        trigger: Option[Trigger] = None,
                        checkpoint: Option[String] = None,
                        valueDecoder: Option[DataFrame => DataFrame] = None): StreamingQuery = {
    val keyCols = msg.msgMapSchema.map(_._1)
    val counts = parse(stream, msg, valueDecoder)
      .withColumn("_ets", timestamp_seconds(col("bucket_start")))
      .withWatermark("_ets", lateness)
      .groupBy(col("_ets") +: (keyCols :+ "bucket_start" :+ "bucket_end").map(col): _*)
      .count()
      .drop("_ets")
    start(counts, msg, "update", trigger, checkpoint) { batch =>
      store.appendStreaming(batch) // materialize within trigger: see attach()
    }
  }

  /** S1/S2 Kafka source (`spark-streaming-kafka-bucket-counter.py:113-121`).
    * Structured Streaming is always broker-direct, subsuming both the
    * receiver and direct variants (the reference's S2 is dead code — unbound
    * `timeinterval` NameError at `:152`). Requires the spark-sql-kafka
    * connector jar at deploy time (not shipped in this sandbox — the format
    * string resolves at runtime). */
  def kafkaSource(spark: SparkSession, kafka: KafkaSettings): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", kafka.broker)
      .option("subscribe", kafka.topic)
      .load()

  /** End-to-end assembly from config — the `kafka_http_sqlite` analog
    * (`spark-streaming-kafka-bucket-counter.py:243-288`): one JVM, one
    * session; the Flask sibling process is replaced by the store's temp view
    * + `spark.sql` (Q2). */
  def run(spark: SparkSession, cfg: GraftConfig,
          checkpoint: Option[String] = None): (RecentStore, StreamingQuery) =
    runWithSource(spark, cfg, kafkaSource(spark, cfg.kafka), checkpoint)

  /** [[run]] with an injected source frame — the testable assembly (any
    * (key, value)-shaped stream: MemoryStream in the sandbox, Kafka in
    * production). Wires the S3 Avro decoder when the config carries an
    * .avsc. */
  def runWithSource(spark: SparkSession, cfg: GraftConfig, source: DataFrame,
                    checkpoint: Option[String] = None,
                    trigger: Option[Trigger] = None): (RecentStore, StreamingQuery) = {
    val store = new RecentStore(spark,
      GraftConfig.schemaToStructType(cfg.store.schema),
      tableName = cfg.store.tableName,
      cleanInterval = cfg.store.cleanInterval.toLong,
      cleanFreq = cfg.store.cleanFreq.toLong,
      // This store runs UNBOUNDED: without periodic lineage truncation the
      // per-batch unions accumulate a thousands-child plan over a long
      // stream (planning + view re-registration degrade linearly; retention
      // trims data, not plan nodes). Truncate on the retention cadence,
      // clamped so a huge cleanFreq can't re-open the leak.
      materializeEvery = cfg.store.cleanFreq.min(64).max(1))
    val decoder = cfg.kafka.avroValueSchema.map { avsc => (df: DataFrame) =>
      graft.sources.AvroCodec.decodeValues(df, "value", avsc)
    }
    val query = attach(source, cfg.msg, store,
      trigger = trigger, checkpoint = checkpoint, valueDecoder = decoder)
    (store, query)
  }

  /** The reference's full `kafka_http_sqlite` assembly
    * (`spark-streaming-kafka-bucket-counter.py:243-288`): stream → store →
    * HTTP endpoint, one call. The Flask sibling PROCESS becomes an in-JVM
    * [[graft.serve.StoreHttpServer]] on an OS-assigned port (query it via
    * `server.port`); stop order on teardown: query, then server. */
  def runWithHttpSource(spark: SparkSession, cfg: GraftConfig, source: DataFrame,
                        checkpoint: Option[String] = None,
                        trigger: Option[Trigger] = None)
      : (RecentStore, StreamingQuery, graft.serve.StoreHttpServer) = {
    val (store, query) = runWithSource(spark, cfg, source, checkpoint, trigger)
    // Server bind can fail (fd exhaustion, policy): stop the already-running
    // query before rethrowing, or it would stream orphaned with no handle.
    val server = try new graft.serve.StoreHttpServer(store,
        avroSchema = cfg.kafka.avroValueSchema).start()
      catch { case e: Throwable => query.stop(); throw e }
    (store, query, server)
  }
}
