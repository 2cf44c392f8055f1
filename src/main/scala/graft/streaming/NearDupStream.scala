package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.Portable._

/** Streaming MinHash-LSH near-duplicate detection — the streaming twin
  * of the batch D3 pipeline (DedupOps.minhashPairs): new documents are
  * checked against the recently-seen corpus as they arrive, the pass a
  * training-data pipeline runs at the ingest edge so near-dups never
  * reach the lake.
  *
  * Same signature scheme as batch (16 minhashes via the native
  * `minhash16` kernel, banded 8×2, candidates only within a band
  * bucket), re-expressed as ONE `flatMapGroupsWithState` keyed on the
  * (band, bucket-hash) pair:
  *
  *  - State per bucket is the signatures seen there (≤ [[MaxBucket]]
  *    docs × 16 hashes), NOT documents — the streaming analog of the
  *    batch occupancy cap. A bucket that fills up saturates: later
  *    arrivals pass through unpaired, the monotone streaming counterpart
  *    of the batch rule "oversized buckets emit no pairs" (a stream
  *    cannot retract pairs it already emitted).
  *  - Verification is the SIGNATURE-estimated Jaccard (fraction of
  *    agreeing minhashes, ±1/16 resolution) — the batch path re-checks
  *    candidates against exact shingle sets, but a stream cannot hold
  *    every past document's shingles; callers wanting exactness join the
  *    emitted pair's ids back to stored documents in `foreachBatch`.
  *  - Buckets idle past `idleEvictMinutes` of EVENT time are evicted via
  *    EventTimeTimeout, so state is bounded by (arrival rate × horizon)
  *    like every other stateful op here. Input must carry a watermark on
  *    `ts` (the caller chooses lateness; [[pipeline]] applies a default).
  *
  * At scale: the only shuffle is the groupByKey on (band, bkey) — the
  * same key the batch bucket-join shuffles on; per-key state and work
  * are occupancy-capped; a re-delivered doc id is recognized in-state
  * and not re-added, so at-least-once upstream delivery cannot inflate
  * buckets. The same (i, j) pair may surface from up to 8 bands
  * (batch runs `distinct()`; append-mode streams leave the cheap
  * per-batch dedup to the consumer).
  */
object NearDupStream {
  /** THE batch constants (graft.operators.DedupOps.K / R) — one
    * signature scheme across batch, index and stream by construction.
    */
  val Hashes: Int = graft.operators.DedupOps.K
  val BandRows: Int = graft.operators.DedupOps.R
  val Bands: Int = graft.operators.DedupOps.NumBands
  val MaxBucket = 200

  case class BandedDoc(
      band: Int, bkey: String, doc_id: Long, ts: Timestamp, mh: Seq[String])
  case class SeenDoc(docId: Long, mh: Seq[String])
  case class BucketState(docs: List[SeenDoc], saturated: Boolean)
  /** `first_id` was seen before `dup_id`; est_jaccard ∈ [tau, 1]. */
  case class NearDup(first_id: Long, dup_id: Long, est_jaccard: Double)

  /** (band, bkey, doc_id, ts, mh) — the banded LSH signature stream.
    * Same tokenize → shingle → minhash16 → 8×2 banding as batch; the
    * explode argument stays a raw expression (never a projected
    * attribute) for the same InferFiltersFromGenerate reason documented
    * at DedupOps.shingleRows.
    */
  def bandedSignatures(docs: DataFrame): Dataset[BandedDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.operators.DedupOps.bandedSignatureRows(docs, Seq("ts"))
      .select(col("band"), col("bkey"), col("doc_id"), col("ts"), col("mh"))
      .as[BandedDoc]
  }

  /** Near-dup pairs from a WATERMARKED doc stream (doc_id: long,
    * ts: timestamp, text: string). Append-mode output; one row per
    * (band-collision, signature-agreement ≥ tau) event.
    */
  def candidatePairs(
      docs: DataFrame,
      tau: Double = 0.5,
      maxBucket: Int = MaxBucket,
      idleEvictMinutes: Int = 120): Dataset[NearDup] = {
    val spark = docs.sparkSession
    import spark.implicits._
    bandedSignatures(docs)
      .groupByKey(b => (b.band, b.bkey))
      .flatMapGroupsWithState[BucketState, NearDup](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, rows, state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(BucketState(Nil, false))
            val out = Seq.newBuilder[NearDup]
            var maxMs = Long.MinValue
            // micro-batch order is not guaranteed — process in event
            // order so "first seen" is deterministic
            rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id)).foreach { r =>
              maxMs = math.max(maxMs, r.ts.getTime)
              if (st.saturated || st.docs.size >= maxBucket)
                st = st.copy(saturated = true)
              else if (!st.docs.exists(_.docId == r.doc_id)) {
                st.docs.foreach { seen =>
                  val agree = seen.mh.iterator.zip(r.mh.iterator)
                    .count { case (a, b) => a == b }
                  val est = agree.toDouble / Hashes
                  if (est >= tau) out += NearDup(seen.docId, r.doc_id, est)
                }
                st = st.copy(docs = st.docs :+ SeenDoc(r.doc_id, r.mh))
              }
            }
            state.update(st)
            state.setTimeoutTimestamp(maxMs + idleEvictMinutes * 60L * 1000L)
            out.result().iterator
          }
      }
  }

  /** The composed edge pass: watermark → near-dup pairs. */
  def pipeline(docs: DataFrame, watermark: String = "1 hour"): Dataset[NearDup] =
    candidatePairs(docs.withWatermark("ts", watermark))

  /** Run the detector into a durable [[graft.sources.SinkLog]]: each
    * micro-batch's pairs (multi-band duplicates collapsed per batch)
    * append under an epoch dump id, so foreachBatch's at-least-once
    * re-delivery lands exactly-once in the log — the same contract as
    * [[EventIngest.start]]. The log IS the dedup worklist a downstream
    * compaction job consumes.
    */
  def start(
      docs: DataFrame,
      sink: graft.sources.SinkLog,
      checkpointDir: String,
      watermark: String = "1 hour"): org.apache.spark.sql.streaming.StreamingQuery = {
    // Per-query-instance tag (Sinks.runTag): epoch numbers restart at 0
    // on a fresh checkpoint dir, so an epoch-only dump id would collide
    // with a previous run's ids against the same pair log and the
    // dump-id check would silently drop the new run's batches. Wall-clock
    // dump time keeps latest-state newest-wins across restarts.
    val tag = graft.sources.Sinks.runTag(checkpointDir)
    pipeline(docs, watermark)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[NearDup], epochId: Long) =>
        val pairs = batch.toDF()
          .groupBy(col("first_id"), col("dup_id"))
          .agg(max(col("est_jaccard")).as("est_jaccard"))
        sink.appendIdempotent(pairs.sparkSession,
          graft.sources.Sinks.stamped(pairs,
            f"neardup-$tag-epoch-$epochId%09d",
            System.currentTimeMillis() * 1000L))
        ()
      }
      .start()
  }
}
