package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.{ParquetSink, Sinks}

/** Streaming SCD2 maintenance — the ingest-edge twin of A14's batch
  * rebuild (`sink_scd2`): each arriving version event closes the
  * previously-open interval of its key and opens a new one, the CDC
  * MERGE shape, maintained incrementally instead of rebuilding the
  * whole history per batch.
  *
  * Per micro-batch the merge is PER-KEY bounded: only the batch's keys
  * are touched — their current version rows are read back from the
  * sink's per-key-latest view, folded with the batch's new versions
  * (dedup on (user_id, event_id) makes source re-delivery a no-op), and
  * the interval chain for JUST those keys is recomputed with the batch
  * op's own window ([[graft.operators.SinkOps.scd2Intervals]] — one
  * definition, so stream and batch cannot drift). Late arrivals need no
  * special case: an event older than a key's open interval simply
  * re-sorts inside that key's version set and the rewritten chain
  * splices it where it belongs — exactly what the batch rebuild would
  * have produced.
  *
  * Storage is the engine's idempotent append log ([[ParquetSink]]):
  * each epoch appends the touched keys' FULL recomputed interval sets
  * under an epoch-tagged dump_id (at-least-once foreachBatch delivery →
  * exactly-once contents, the A10 recipe), and the authoritative table
  * is the per-KEY newest dump — the ReplacingMergeTree pattern with the
  * key's whole interval chain as the replaced unit. At scale the log
  * partitions by dump date and compacts like every sink in the engine;
  * the per-batch cost is O(batch keys × their version counts), never
  * O(history).
  */
object Scd2Stream {

  /** Start the maintenance on a streaming events frame (columns ts,
    * user_id, event_id, event_type, value).
    */
  def start(
      events: DataFrame,
      sinkDir: String,
      checkpointDir: String): StreamingQuery = {
    val stamp = Sinks.epochStamp(checkpointDir, "scd2")
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val s = batch.sparkSession
        val sink = ParquetSink(sinkDir)
        val b = batch.select(col("user_id"), col("event_id"),
          col("event_type"), col("value"), unix_micros(col("ts")).as("us"))
        // persisted per-batch: the landed rows feed BOTH the anti-join
        // (dedup) and the union (rebuild) below
        val existing = (
          if (!sink.initialized(s)) b.limit(0)
          else currentIntervals(s, sinkDir)
            .join(broadcast(b.select(col("user_id")).distinct()),
              Seq("user_id"), "left_semi")
            .select(col("user_id"), col("event_id"), col("event_type"),
              col("value"), col("valid_from_us").as("us"))
        ).persist()
        // Deterministic duplicate resolution (not dropDuplicates, which
        // keeps an ARBITRARY row): landed rows win outright — a
        // redelivered event_id never rewrites an already-landed payload
        // (payloads are assumed immutable per event_id; anti-join
        // enforces the assumption instead of trusting it) — and a
        // same-key collision WITHIN one batch resolves by max_by on the
        // full payload struct, so any replay of the batch rebuilds the
        // identical chain.
        val fresh = b
          .join(existing.select(col("user_id"), col("event_id")),
            Seq("user_id", "event_id"), "left_anti")
          .groupBy(col("user_id"), col("event_id"))
          .agg(max(struct(col("us"), col("event_type"), col("value")))
            .as("m"))
          .select(col("user_id"), col("event_id"),
            col("m.event_type"), col("m.value"), col("m.us"))
        val versions = existing.unionByName(fresh)
        val rebuilt =
          graft.operators.SinkOps.scd2Intervals(versions)
        sink.appendIdempotent(s, stamp(rebuilt, epochId))
        existing.unpersist(false)
        ()
      }
      .start()
  }

  /** The authoritative interval table: for each key, the rows of the
    * NEWEST dump that touched it — a whole interval chain is the
    * replaced unit, so a key's history is always internally consistent
    * (never a mix of two epochs' chains).
    */
  def currentIntervals(spark: SparkSession, sinkDir: String): DataFrame = {
    val log = ParquetSink(sinkDir).log(spark)
      .withColumn("v", struct(col("time_last_dumped_us"), col("dump_id")))
    val latest = log.groupBy(col("user_id")).agg(max(col("v")).as("m"))
    log.join(latest, Seq("user_id"))
      .filter(col("v") === col("m"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), col("valid_from_us"), col("valid_to_us"),
        col("is_current"))
  }
}
