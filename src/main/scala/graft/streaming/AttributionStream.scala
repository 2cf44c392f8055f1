package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.{ParquetSink, Sinks}

/** A20 — stream-stream INTERVAL JOIN at the ingest edge: each arriving
  * purchase attributes to the same user's preceding clicks within the
  * attribution horizon — the conversion-attribution join every event
  * analytics stack runs (the reference's events feed exactly this kind
  * of downstream funnel/attribution query once sunk), expressed as
  * Spark's watermarked stream-stream join, the ONE stateful operator
  * built for correlating two live streams. Every other streaming op in
  * the engine is a stateful aggregate or a foreachBatch merge; this is
  * the genuinely two-sided case — neither stream can be treated as a
  * static dimension because a click may arrive in one micro-batch and
  * its purchase three batches later.
  *
  * State stays bounded BY THE QUERY SHAPE, not by a cap dial: the
  * time-range join condition plus the two watermarks let Spark prove
  * how long each side can possibly match — a click older than
  * (max event time − watermark − horizon) can never join a future
  * purchase and is evicted; a purchase buffers only [[LATE_MIN]]
  * minutes. At 100 TB/day the state store holds one horizon's worth of
  * clicks per partition, never the day — the same
  * watermark-bounds-state doctrine as A10/A16/A17, here enforced by
  * the join's own range analysis.
  *
  * Batch ≡ stream by construction: [[pairs]] is the single join body;
  * the streaming query wraps it in watermarks, the spec replays the
  * same rows through it as a static frame and pins row-for-row
  * equality (the A15/A16 parity discipline).
  */
object AttributionStream {

  /** Attribution horizon: a purchase attributes to clicks at most this
    * many minutes before it.
    */
  val HORIZON_MIN = 30

  /** Allowed event-time lateness on both streams (the watermark). */
  val LATE_MIN = 10

  /** The interval-join condition (same user, purchase inside the
    * click-anchored horizon) — shared verbatim by stream and batch.
    */
  private def cond: Column =
    col("user_id") === col("p_user_id") &&
      col("purchase_ts") >= col("click_ts") &&
      col("purchase_ts") <= col("click_ts") +
        expr(s"INTERVAL $HORIZON_MIN MINUTES")

  /** The join body: clicks/purchases are (ts, user_id, event_id, value)
    * frames; emits one row per in-horizon (click, purchase) pair. Works
    * identically on static frames (the spec's batch replay) and on
    * watermarked streams (where Spark's range analysis turns the
    * condition into state-eviction bounds).
    */
  def pairs(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.select(col("user_id"), col("event_id").as("click_id"),
      col("ts").as("click_ts"))
    val p = purchases.select(col("user_id").as("p_user_id"),
      col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
      col("value"))
    c.join(p, cond)
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
  }

  /** Start the attribution on a streaming events frame (columns ts,
    * user_id, event_id, event_type, value): the stream self-splits into
    * its click and purchase sides, each watermarked [[LATE_MIN]]
    * minutes, and matched pairs append exactly-once through the
    * idempotent sink (append mode — a joined pair is immutable once
    * both watermarks pass it, so no row is ever updated).
    */
  def start(
      events: DataFrame,
      sinkDir: String,
      checkpointDir: String): StreamingQuery = {
    val stamp = Sinks.epochStamp(checkpointDir, "attr")
    val clicks = events.filter(col("event_type") === "click")
      .withWatermark("ts", s"$LATE_MIN minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .withWatermark("ts", s"$LATE_MIN minutes")
    pairs(clicks, purchases)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        ParquetSink(sinkDir).appendIdempotent(batch.sparkSession,
          stamp(batch, epochId))
        ()
      }
      .start()
  }

  /** The landed attribution pairs (dedup by pair identity — foreachBatch
    * re-delivery is already idempotent per epoch via the dump_id, this
    * view just strips the stamp columns).
    */
  def landed(spark: SparkSession, sinkDir: String): DataFrame =
    ParquetSink(sinkDir).log(spark)
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
}
