package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.{SinkLog, Sinks}

/** The start of an update-mode windowed stream into an idempotent sink —
  * the one delivery block [[EventIngest]] and [[QuantilesStream]] share:
  * each micro-batch's updated rows are appended through
  * [[SinkLog.appendIdempotent]], stamped with a (query-instance tag,
  * epoch id) dump_id, so at-least-once `foreachBatch` delivery lands
  * exactly once.
  *
  * One micro-batch per arrival. By default a watermarked query follows
  * every data batch with a "no-data" batch that only advances the
  * watermark and evicts closed windows. In update mode that batch emits
  * nothing, yet it pays a full epoch: an offset-log write, a state-store
  * version, a sink write job and a commit-log write, so an arrival cost
  * two epochs. The query here starts with [[OneBatchConfs]]:
  *   - `noDataMicroBatches.enabled=false` drops that batch;
  *   - `statefulOperator.allowMultiple=false` makes each batch filter
  *     late rows and evict state against ONE watermark, the one the
  *     previous batches set. Both settings are needed: with the default
  *     (multiple stateful operators allowed) late rows are filtered
  *     against the watermark of the batch BEFORE, so without the no-data
  *     batch a straggler would re-open a window the watermark had
  *     already closed. With both, every data batch filters and evicts at
  *     the watermark it saw when a no-data batch ran before it.
  *
  * The cost: the windows a batch touched stay in state until the next
  * data batch evicts them (there is no eviction-only batch between
  * arrivals). State stays bounded by one batch's windows plus the 2 h
  * watermark.
  *
  * Neither setting goes into the session defaults: the append-mode
  * streams (sessions, attribution, near-dup, heavy hitters, SCD2, doc
  * ingest) emit their closed windows IN the eviction batch. They are
  * set on the caller's session only around `start()` and restored
  * afterwards: the query clones the session when it is constructed and
  * reads both from its clone, and neither is recorded in the
  * checkpoint's offset metadata, so a restart from the same checkpoint
  * applies them again through this method. Another thread that starts a
  * stream on the same session while `start()` runs sees the values too.
  */
object UpdateStream {

  /** The two settings [[start]] scopes to its query. */
  val OneBatchConfs: Seq[(String, String)] = Seq(
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
    "spark.sql.streaming.statefulOperator.allowMultiple" -> "false")

  /** Start `frame` (a streaming aggregate) in update mode into `sink`,
    * dump ids `"<dumpPrefix>-<tag>-epoch-<epoch>"`.
    */
  def start(
      frame: DataFrame,
      sink: SinkLog,
      checkpointDir: String,
      dumpPrefix: String): StreamingQuery = {
    val stamp = Sinks.epochStamp(checkpointDir, dumpPrefix)
    val writer = frame.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        sink.appendIdempotent(batch.sparkSession, stamp(batch, epochId))
        ()
      }
    // set for the query's construction only, then put back what was
    // there: the previous explicit value, or no setting at all
    val conf = frame.sparkSession.conf
    val before = conf.getAll
    OneBatchConfs.foreach { case (k, v) => conf.set(k, v) }
    try writer.start()
    finally OneBatchConfs.foreach { case (k, _) =>
      before.get(k).fold(conf.unset(k))(conf.set(k, _))
    }
  }
}
