package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.MgKernel
import graft.sources.{ParquetSink, Sinks}

/** Streaming per-window heavy hitters — G14's Misra-Gries discipline at
  * the ingest edge (the A10 family's skew monitor): which keys carry
  * more than 1/128 of a window's events, maintained incrementally as
  * events arrive.
  *
  * The batch op can afford a second EXACT pass over the full corpus;
  * a stream cannot re-count events it already discarded, so the
  * streaming-correct contract is the summary's own guarantee made
  * explicit: per (window) the state is ONE Misra-Gries summary of
  * ≤ `cap` (key, cnt) entries plus the window's event total — never
  * per-key state over the full cardinality — and the readout reports
  * every retained key with its error bracket
  * `cnt ≤ true ≤ cnt + (n − m) div (cap+1)` (m = retained mass) and
  * the flag `upper·128 > n`. With cap ≥ 129 the undercount is
  * < n/128, so every TRUE heavy hitter is retained AND flagged — the
  * monitor has no false negatives; the exact counts come from the
  * batch op whenever the corpus is re-scanned.
  *
  * Scale shape: each micro-batch reduces DISTRIBUTED — the
  * `mg_entries` aggregate runs with map-side partial aggregation
  * exactly like the batch phase-1, so a hot window costs its arrival
  * rate across the cluster, and only the ≤ cap-entry per-window
  * summaries reach the merge. Cross-batch state lives in the
  * idempotent append log, not the state store: per epoch the touched
  * windows' summaries are read back from the per-window-latest view,
  * folded with the batch summaries in one add-all-then-trim-once
  * [[MgKernel]] pass (order-independent, so replays are
  * deterministic), and re-appended under an epoch-tagged dump_id
  * (at-least-once foreachBatch → exactly-once contents — a replayed
  * epoch's append is dropped on its dump_id). Late events need no
  * watermark cutoff: an old window's summary simply gets one more
  * merge when a straggler arrives.
  */
object HeavyHittersStream {

  /** Summary capacity: 2× margin over the 1/128 threshold's minimum
    * (G15's dial) — undercount ≤ n/257, comfortably under n/128.
    */
  val Cap = 256

  case class Entry(key: Long, cnt: Long)
  case class WinSummary(hour_start: String, n: Long, entries: Seq[Entry])

  /** The per-batch distributed summary — the same shape the batch
    * phase-1 computes, grouped by 1-hour event-time window.
    */
  private def batchSummary(batch: DataFrame): DataFrame =
    batch
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(expr(s"mg_entries(user_id, $Cap)").as("entries"),
        count(lit(1)).as("n"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("n"), col("entries"))

  /** Start the monitor on a streaming events frame (ts, user_id, …). */
  def start(
      events: DataFrame,
      sinkDir: String,
      checkpointDir: String): StreamingQuery = {
    val stamp = Sinks.epochStamp(checkpointDir, "hh")
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        val sink = ParquetSink(sinkDir)
        val fresh = batchSummary(batch).as[WinSummary]
        val existing =
          (if (!sink.initialized(s)) fresh.limit(0)
           else currentSummaries(s, sinkDir)
             .join(broadcast(fresh.select(col("hour_start")).distinct()),
               Seq("hour_start"), "left_semi")
             .as[WinSummary])
        val merged = existing.unionByName(fresh)
          .groupByKey(_.hour_start)
          .mapGroups { (hs: String, it: Iterator[WinSummary]) =>
            // add-all-then-trim-once: commutative additions + a single
            // pivot trim, so the merged summary is independent of the
            // iterator's order and any epoch replay rebuilds it
            // identically
            val buf = mutable.LongMap.empty[Long]
            var n = 0L
            it.foreach { ws =>
              n += ws.n
              ws.entries.foreach(e =>
                buf(e.key) = buf.getOrElse(e.key, 0L) + e.cnt)
            }
            MgKernel.merge(buf, Iterator.empty, Cap)
            WinSummary(hs, n,
              buf.toSeq.sortBy(_._1).map { case (k, c) => Entry(k, c) })
          }
        sink.appendIdempotent(s, stamp(merged.toDF(), epochId))
        ()
      }
      .start()
  }

  /** The authoritative per-window summary: newest dump wins per
    * window — a window's summary is always one epoch's whole merge,
    * never a mix.
    */
  def currentSummaries(spark: SparkSession, sinkDir: String): DataFrame =
    ParquetSink(sinkDir)
      .latestState(spark, Seq("hour_start"))
      .drop("dump_id", "time_last_dumped_us")

  /** The monitor readout over any (hour_start, n, entries) summary
    * frame: every retained key with its error bracket and the
    * heavy-hitter flag. Summary-sized work (windows × ≤ cap rows).
    */
  def report(summaries: DataFrame): DataFrame = {
    // exact integer math: err = (n − retained mass) div (cap+1)
    summaries
      .withColumn("err", expr(
        s"(n - aggregate(entries, 0L, (acc, e) -> acc + e.cnt)) " +
          s"div ${Cap + 1}"))
      .select(col("hour_start"), col("n").as("n_total"),
        explode(col("entries")).as("e"), col("err"))
      .select(col("hour_start"), col("e.key").as("user_id"),
        col("e.cnt").as("n_lower"),
        (col("e.cnt") + col("err")).as("n_upper"),
        col("n_total"))
      .withColumn("is_heavy", col("n_upper") * lit(128L) > col("n_total"))
      .orderBy(col("hour_start"), col("n_lower").desc, col("user_id"))
  }
}
