package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.LongType

import graft.sources.ParquetSink

/** Streaming per-window quantiles — G17's boundary-bucket technique at
  * the ingest edge (the A10 family's missing percentile monitor): the
  * maintained state is the per-(window, event_type, bucket) HISTOGRAM
  * over the value-monotone key floor(value·1000) — mergeable counts, so
  * state scales with windows × types × touched buckets and NEVER with
  * events — and the quantile readout derives from the histogram alone.
  *
  * The readout is bucket-granular by construction (a stream cannot
  * retain raw rows for G17's phase-2 boundary sort without
  * event-proportional state): for each target rank the histogram's
  * running sum names the single bucket holding it, reported with the
  * bucket's lower-bound value b/1000. The reconciliation with the
  * exact batch op is an identity, not an approximation bound: bucketing
  * is monotone in value, so the bucket holding rank r IS
  * floor(exact_quantile·1000) — G17's exact phase-1, stopped before
  * phase 2. StreamingSpec pins both: stream histogram ≡ the batch
  * histogram over the same prefix (exact), and readout bucket ≡
  * floor(exact per-window quantile · 1000).
  *
  * Delivery follows the [[EventIngest]] recipe through the same
  * [[UpdateStream]] start: update-mode windowed aggregation with a
  * watermark (bounded state, late data folds in), one micro-batch per
  * arrival (no eviction-only batch; touched windows stay in state until
  * the next batch), epoch-stamped idempotent sink appends (at-least-once
  * foreachBatch → exactly-once contents), authoritative histogram =
  * newest dump per (window, type, bucket) key.
  */
object QuantilesStream {

  val Targets: Seq[(String, Int)] = Seq(("p50", 50), ("p90", 90), ("p99", 99))

  /** The shared histogram fragment — identical for the stream and the
    * batch rebuild, so the two cannot drift: counts per 1-hour window,
    * event type, and G17's value bucket.
    */
  def bucketCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"),
        floor(col("value") * lit(1000.0)).cast(LongType).as("b"))
      .agg(count(lit(1)).as("c"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("b"), col("c"))

  /** Start the monitor on a streaming events frame (ts, event_type,
    * value). Each arrival runs one epoch, which appends the updated
    * histogram rows through the idempotent sink under an epoch-tagged
    * dump_id.
    */
  def start(
      events: DataFrame,
      sinkDir: String,
      checkpointDir: String): StreamingQuery =
    UpdateStream.start(bucketCounts(events.withWatermark("ts", "2 hours")),
      ParquetSink(sinkDir), checkpointDir, "quant")

  /** The authoritative histogram: newest dump wins per (hour_start,
    * event_type, b).
    */
  def latestHistogram(spark: SparkSession, sinkDir: String): DataFrame =
    ParquetSink(sinkDir)
      .latestState(spark, Seq("hour_start", "event_type", "b"))
      .drop("dump_id", "time_last_dumped_us")

  /** The quantile readout over ANY (hour_start, event_type, b, c)
    * histogram — G17's phase-1 boundary arithmetic per window: for each
    * target q, the bucket holding 0-based rank (n−1)·q div 100 under
    * ascending b, reported as its lower bound b/1000. Histogram-sized
    * work only (windows × types × buckets rows), no event-sized input.
    */
  def quantiles(hist: DataFrame): DataFrame = {
    val wB = Window.partitionBy(col("hour_start"), col("event_type"))
      .orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist
      .withColumn("cum", coalesce(sum(col("c")).over(wB), lit(0L)))
      .withColumn("n", sum(col("c")).over(
        Window.partitionBy(col("hour_start"), col("event_type"))))
    def idx(q: Int) = expr(s"(n - 1) * $q div 100")
    val picks = Targets.map { case (name, q) =>
      cum.filter(col("cum") <= idx(q) && idx(q) < col("cum") + col("c"))
        .select(col("hour_start"), col("event_type"), col("n"),
          lit(name).as("q"), (col("b").cast("double") / 1000.0).as("v"))
    }.reduce(_.unionAll(_))
    val aggCols = Targets.map { case (name, _) =>
      max(when(col("q") === name, col("v"))).as(name) }
    picks.groupBy(col("hour_start"), col("event_type"))
      .agg(max(col("n")).as("n_events"), aggCols: _*)
      .orderBy(col("hour_start"), col("event_type"))
  }
}
