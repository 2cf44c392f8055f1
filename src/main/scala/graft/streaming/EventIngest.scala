package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.Portable._
import graft.sources.{ParquetSink, SinkLog}

/** Structured-Streaming ingest twin of the reference's event-driven path
  * (signals.py:1-82 — change event fires; tasks.py:1-59 — async dump into
  * the sink): events arrive on a stream, are aggregated into 1-hour
  * tumbling windows with a watermark, and each micro-batch is appended
  * THROUGH the engine's idempotent sink abstraction
  * ([[graft.sources.ParquetSink]]), stamped with a (query-instance tag,
  * epoch id) dump_id. `foreachBatch` may re-deliver an epoch after a failure; the
  * dump-id dedup turns that at-least-once delivery into exactly-once
  * sink contents — the same idempotency design the reference gets from
  * dump_id + ReplacingMergeTree, and the standard Spark recipe for
  * exactly-once foreachBatch sinks. The authoritative current state is
  * the sink's latest-state view (newest epoch wins per window key).
  *
  * One micro-batch per arrival: the query starts through
  * [[UpdateStream]], without Spark's eviction-only "no-data" batch after
  * each data batch (it emits nothing in update mode but pays a full
  * epoch), and with late rows filtered against the single current
  * watermark, so a straggler past the watermark is still dropped. The
  * trade: the windows a batch touched stay in state until the next
  * batch evicts them — bounded by one batch's windows plus the 2 h
  * watermark.
  *
  * At scale: the window agg shuffles once on (window, event_type) with
  * map-side partial aggregation; the watermark bounds state; the sink
  * append is partition-parallel; compaction (ParquetSink.compact) runs
  * scheduled, like ClickHouse background merges.
  */
object EventIngest {

  /** The shared windowed-agg plan fragment — identical to the batch twin
    * (A9 `events_windowed_agg`), so batch and streaming compute the same
    * thing from the same code.
    */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), exactSum(col("value")).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Start the ingest on a streaming events frame (must have columns
    * ts: timestamp, event_type: string, value: double). Each arrival
    * runs one micro-batch, which appends its (possibly updated) window
    * rows through the idempotent sink, dump_id = (query-instance tag,
    * epoch id). The two settings [[UpdateStream]] scopes to the query
    * are set on the session only while this call runs; another thread
    * starting a stream on the same session meanwhile sees them too.
    */
  def start(
      events: DataFrame,
      sinkDir: String,
      checkpointDir: String): StreamingQuery =
    start(events, ParquetSink(sinkDir), checkpointDir)

  /** Same ingest against ANY [[SinkLog]] backend — a parquet log or an
    * external database over JDBC ([[graft.sources.ExternalSink]], the
    * reference's broker role): the epoch-id dump dedup makes
    * at-least-once foreachBatch delivery exactly-once in either store.
    */
  def start(
      events: DataFrame,
      sink: SinkLog,
      checkpointDir: String): StreamingQuery =
    UpdateStream.start(windowedAgg(events.withWatermark("ts", "2 hours")),
      sink, checkpointDir, "ingest")

  /** The authoritative current state of the sink: latest epoch wins per
    * (hour_start, event_type) — the ReplacingMergeTree-FINAL view.
    */
  def latestState(spark: SparkSession, sinkDir: String): DataFrame =
    ParquetSink(sinkDir)
      .latestState(spark, Seq("hour_start", "event_type"))
      .drop("dump_id", "time_last_dumped_us")
}
