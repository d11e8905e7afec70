package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.functions.TextFns

/** Structured Streaming twin of the batch ingest pipeline: the reference's
  * fetch→clean loop (/root/reference/main.py:14-45) as a continuous query.
  *
  * The transforms are plain DataFrame functions, so the identical code runs
  * in batch (Relational.streamWindowedCounts verifies it against the DuckDB
  * oracle) and over `readStream` with a watermark for state cleanup.
  */
object StreamPipeline {

  /** NRQL-ish ingest filter + PII redaction, batch- and stream-compatible. */
  def ingestRedact(events: DataFrame): DataFrame =
    events
      .where(col("event_type").isNotNull && col("props").isNotNull)
      .withColumn("props", TextFns.redactPii(col("props")))

  /** Tumbling 1-hour counts by level. On a streaming input the 2h watermark
    * bounds state; on a batch input `withWatermark` is a no-op. A NULL ts
    * has no window to land in — the streaming engine drops such rows at
    * the watermark, so the batch twin filters them EXPLICITLY to keep the
    * two paths (and the SQL oracle) on one contract. */
  def windowedCounts(events: DataFrame): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "2 hours") else events
    src.where(col("ts").isNotNull)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count("*").as("n_events"), round(sum("value"), 2).as("total_value"))
  }

  /** Streaming upsert sink via foreachBatch: each micro-batch's windowed
    * aggregate overwrites only the (window, level) partitions it touches
    * (dynamic partition overwrite), giving idempotent latest-state parquet
    * — the streaming twin of the dashboard history file the reference
    * rewrites per run (dashboard/app.py:91-95).
    *
    * The partition granularity MUST match the update granularity: update
    * mode emits only the (window, event_type) groups the batch changed, so
    * overwriting any coarser partition (e.g. a whole day) would silently
    * drop that partition's untouched groups. `partitionOverwriteMode` is a
    * per-write option, not a session conf mutation. */
  def foreachBatchUpsert(agg: DataFrame, outPath: String, checkpoint: String): StreamingQuery =
    agg
      .select(date_format(col("w.start"), "yyyy-MM-dd'T'HH:mm").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("window_start", "event_type")
          .parquet(outPath)
      }
      .start()

  /** Continuous twin of the batch (message, ts) dedup
    * (LogOps.preprocessDedup): keep the first occurrence of each key seen
    * within the watermark horizon, drop later duplicates. State per key is
    * bounded by the watermark — `dropDuplicatesWithinWatermark` evicts a
    * key once the watermark passes its event time + delay, so state tracks
    * the in-flight horizon, not history (the unbounded-state trap of plain
    * `dropDuplicates` on a stream).
    */
  def streamDedup(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark("props", "ts")
    else
      // batch twin (dropDuplicatesWithinWatermark rejects batch inputs):
      // a full dedup, which is what the watermark variant converges to
      // when all data is present at once
      events.dropDuplicates("props", "ts")

  /** Kafka-source deployment shape: the log-bus twin of the reference's
    * continuous poll-ingest loop (new_relic_fetcher.py:43-90, main.py:14-45)
    * — a production deployment of this engine reads the log bus, not a
    * REST poll. Wires the standard Kafka source options and hands the raw
    * (key, value, timestamp) records to [[parseKafkaJson]]; the result
    * feeds the same ingestRedact → windowedCounts / streamDedup transforms
    * as every other source. Requires the spark-sql-kafka connector on the
    * deployment classpath (it is resolved by source name at runtime, so
    * this module has no compile-time Kafka dependency).
    */
  def readKafka(spark: SparkSession, servers: String, topic: String,
      schema: org.apache.spark.sql.types.StructType,
      startingOffsets: String = "latest",
      maxOffsetsPerTrigger: Long = 1000000L): DataFrame =
    parseKafkaJson(
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("subscribe", topic)
        .option("startingOffsets", startingOffsets)
        // bound per-micro-batch work so one backlogged topic can't produce
        // an unbounded first batch after downtime
        .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)
        .load(), schema)

  /** Kafka's (binary key/value) contract → the typed events relation:
    * JSON-decode `value` against an explicit schema (schema-first, like
    * IO.readJson — inference is an extra full pass and nondeterministic on
    * a stream). Malformed records surface as NULL columns (PERMISSIVE)
    * rather than killing the continuous query; the broker ingestion
    * timestamp rides along as `ingest_ts` for end-to-end lag monitoring.
    * Split from [[readKafka]] so the parse contract is spec-testable with
    * a MemoryStream shaped like the Kafka source's output — no broker. */
  def parseKafkaJson(raw: DataFrame,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    raw.select(
      col("timestamp").as("ingest_ts"),
      from_json(col("value").cast("string"), schema).as("r"))
      .select(col("ingest_ts"), col("r.*"))

  /** Streaming incremental dedup sink: each micro-batch of documents is
    * near-dup-checked against the PERSISTED signature index
    * ([[graft.operators.NearDup.dedupIncrementalFrom]]) and only fresh
    * docs (no near-duplicate already indexed, and not duplicating another
    * doc of the same batch) are appended to the index — the continuous
    * "ingest → dedup → index grows" loop a training-data pipeline runs,
    * and the signature twin of `IncidentPipeline.appendIndex`.
    *
    * Per micro-batch: one kernel pass over the batch builds (id, sig,
    * keys); the index side is never re-signed, only read. Within-batch
    * dups are resolved first — a doc is dropped when ANY match over the
    * threshold has a smaller id (greedy by id, so no directly-matching
    * pair can both survive; on a transitive A~B~C chain with A≁C, C is
    * still dropped through the already-dropped B — `NearDup.dedupClusters`
    * is the principled batch-mode path when exact cluster
    * canonicalization matters). Survivors are checked against the index,
    * then appended via a write-to-tmp + RENAME-ASIDE swap
    * ([[graft.sources.IO.swapInto]]): at every instant a complete index
    * exists on disk, and [[graft.sources.IO.recoverStore]] runs at batch
    * entry so a crash mid-swap heals before the next decision.
    * Exactly-once: re-running a batch after a crash re-flags its docs as
    * dups of the rows it already appended — the id-keyed merge makes the
    * append idempotent.
    */
  def dedupingIndexSink(docs: DataFrame, indexPath: String,
      checkpoint: String, thr: Double = 0.8): StreamingQuery = {
    import graft.operators.NearDup
    val sh = NearDup.wordShingles(col("text"), 3)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val sigs = batch
          .where(col("text").isNotNull)
          .select(col("doc_id").as("id"),
            NearDup.minhashSig(sh, 128).as("sig"),
            NearDup.minhashBandKeys(sh, 32, 4).as("keys"))
          .persist()
        try {
          // intra-batch dedup: a doc is dropped when ANY over-threshold
          // match has a smaller id (min_dup_id), not only its best-sim
          // match — best-only would let B (best match: larger-id C)
          // survive alongside its smaller-id near-dup A
          val intra = NearDup.dedupIncrementalFrom(sigs, sigs, thr)
            .where(col("is_dup") && col("min_dup_id") < col("doc_id"))
            .select(col("doc_id").as("id"))
          val fresh = sigs.join(intra, Seq("id"), "left_anti")
          val p = new org.apache.hadoop.fs.Path(indexPath)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val tmp = new org.apache.hadoop.fs.Path(indexPath + "__merge_tmp")
          // heal any crash from a previous run BEFORE deciding on exists(p)
          graft.sources.IO.recoverStore(fs, p, tmp)
          val toAppend = if (!fs.exists(p)) fresh else {
            val index = spark.read.parquet(indexPath)
            val verdict = NearDup.dedupIncrementalFrom(fresh, index, thr)
              .where(!col("is_dup")).select(col("doc_id").as("id"))
            fresh.join(verdict, Seq("id"), "left_semi").unionByName(index)
          }
          // dropDuplicates on id: replayed batches re-append rows the
          // crashed run already wrote; id-dedup keeps the merge idempotent
          toAppend.dropDuplicates("id")
            .write.mode("overwrite").parquet(tmp.toString)
          graft.sources.IO.swapInto(fs, tmp, p)
          ()
        } finally sigs.unpersist()
      }
      .start()
  }

  /** Continuous ingest into the durable z-clustered table — the fifth
    * store's streaming leg (the dedupingIndexSink / IVF-append family):
    * each micro-batch appends through
    * [[graft.operators.Relational.appendZorderTable]] — assignment
    * against the STORED cutpoints, I/O ∝ the batch, writer-entry healing
    * at every batch. Exactly-once: the append's content-keyed ledger
    * absorbs a BYTE-IDENTICAL batch replay (the checkpoint-recovery
    * case — a restarted query re-runs the same batch with the same
    * rows), so a crash between the append and the checkpoint commit
    * cannot double-land the increment. Re-batching the same rows under
    * DIFFERENT boundaries is a different increment by construction —
    * recover from the checkpoint, don't re-plan the source (the
    * standard foreachBatch contract). The base table must exist
    * (writeZorderTable over the bootstrap corpus): cutpoints FREEZE at
    * build time and increments cluster against them — re-cluster by
    * rebuild at maintenance cadence, never per batch (the lakehouse
    * OPTIMIZE pattern). */
  def zorderAppendSink(events: DataFrame, storePath: String,
      checkpoint: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.Relational.appendZorderTable(
          batch.sparkSession, storePath, batch.toDF())
        ()
      }
      .start()
}
