package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Caches

/** Persistent MinHash-LSH index for INCREMENTAL near-duplicate
  * detection — the operational shape of D3 at 100 TB. A lake-scale
  * pipeline cannot re-shingle the whole corpus every time a batch
  * arrives: signatures are computed ONCE per document, stored banded
  * (doc_id, band, bkey, mh), and each arriving batch probes the stored
  * index and folds its own signatures in. The streaming twin is
  * [[graft.streaming.NearDupStream]] (same signature scheme, state held
  * in the stream instead of the lake); this is the batch/backfill side
  * of the same contract, and all three derive their banding from ONE
  * definition ([[DedupOps.bandedSignatureRows]]), so index, stream and
  * batch candidates can never drift apart.
  *
  * Scale shape of [[probe]]:
  *  - the NEW batch's signatures broadcast — the corpus-sized index
  *    NEVER shuffles; the probe is a broadcast hash join against the
  *    index scan (at petabyte scale, partition the index parquet by
  *    `band` and the join prunes to probed bands).
  *  - the band-bucket occupancy cap is enforced from the join output
  *    itself: every probe doc meets ALL index rows of its bucket, so a
  *    count windowed per (band, bkey, new_id) IS the bucket occupancy —
  *    no second read of the index. The count runs BEFORE the self-match
  *    filter, so a doc probing an index that already contains it sees
  *    the true occupancy. Saturated buckets emit no pairs, the same
  *    monotone rule as batch D3 and the stream.
  *  - verification is the signature-estimated Jaccard (fraction of
  *    agreeing minhashes, ±1/16 resolution) — the index stores
  *    signatures, not shingle sets; callers wanting exactness join the
  *    pair ids back to the documents, as with the stream.
  *
  * Incremental persistence: [[ingest]] returns the probe pairs plus the
  * logically-updated index for further IN-SESSION probing (replayed
  * doc_ids are anti-joined away, so at-least-once batch delivery cannot
  * inflate buckets — the same re-delivery tolerance as the stream's
  * state). To persist the step, use [[append]], which writes ONLY the
  * batch's new signature rows to the saved path — overwrite-saving a
  * loaded index's union would read and overwrite the same files. Pair
  * DELIVERY idempotence stays the sink's dump-id contract, as
  * everywhere else.
  */
object DedupIndex {

  /** The shared scheme's constants (DedupOps.K / R). */
  val Hashes: Int = DedupOps.K
  val BandRows: Int = DedupOps.R
  val Bands: Int = DedupOps.NumBands
  val MaxBucket = 200

  /** Banded signatures of a documents frame (doc_id, text):
    * (doc_id, band, bkey, mh) via the ONE shared banding definition.
    * The repartition spreads the CPU-bound shingling like every
    * D-series pipeline.
    */
  def signatures(docs: DataFrame): DataFrame =
    DedupOps.bandedSignatureRows(
        docs.transform(graft.Tables.spreadBy(col("doc_id"))).select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("band"), col("bkey"), col("mh"))

  /** Build the index for an initial corpus. */
  def build(docs: DataFrame): DataFrame = signatures(docs)

  /** Persist / reopen the index. Signature rows live under `sigs/`,
    * partitioned by band: a probe of b bands prunes to those
    * directories, and one band's buckets co-locate. A save is one
    * commit ([[Artifact.save]]): a crash leaves the previous signature
    * store or the whole new one, never a partial one (missing bands ⇒
    * silently missed near-duplicates, the worst failure mode a dedup
    * index can have).
    */
  def save(index: DataFrame, path: String): Unit =
    Artifact.save(index.sparkSession, path)(write(index, _))

  /** Write the signature rows under `dir`. */
  private def write(index: DataFrame, dir: String): Unit =
    // repartition on the partition column before the partitioned write
    // (r20, guide §6 small files — the KnnIndex.save finding)
    index.repartition(col("band"))
      .write.mode("overwrite").partitionBy("band").parquet(s"$dir/sigs")

  /** The stored signature rows, read with their schema: a retire of
    * every document leaves a `sigs` directory without part files, whose
    * schema Spark could not infer.
    */
  def load(spark: SparkSession, path: String): DataFrame = {
    Artifact.open(spark, path, "DedupIndex")
    spark.read.schema(SigSchema).parquet(s"$path/sigs")
  }

  private val SigSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("bkey", StringType),
    StructField("mh", ArrayType(LongType)), StructField("band", IntegerType)))

  /** Near-dup pairs between a NEW batch and the indexed corpus:
    * (first_id — the indexed doc, new_id, est_jaccard ≥ tau). Pairs
    * WITHIN the new batch are the caller's choice of a batch-local D3
    * pass; this probe answers "is this new document a dup of anything
    * we already hold" without touching old×old.
    */
  def probe(
      index: DataFrame,
      newDocs: DataFrame,
      tau: Double = 0.5,
      maxBucket: Int = MaxBucket): DataFrame =
    probeWithSigs(index, signatures(newDocs), tau, maxBucket)

  private def probeWithSigs(
      index: DataFrame,
      sigs: DataFrame,
      tau: Double,
      maxBucket: Int): DataFrame = {
    val probeSigs = sigs
      .select(col("doc_id").as("new_id"), col("band"), col("bkey"),
        col("mh").as("new_mh"))
    // every probe doc meets every index row of its bucket, so the count
    // per (band, bkey, new_id) IS the index-side bucket occupancy —
    // counted before the self-match filter so an already-indexed doc
    // doesn't see the bucket one smaller than it is
    val occ = Window.partitionBy(col("band"), col("bkey"), col("new_id"))
    index
      .join(broadcast(probeSigs), Seq("band", "bkey"))
      .withColumn("bucket_occ", count(lit(1)).over(occ))
      .filter(col("bucket_occ") <= maxBucket)
      .filter(col("doc_id") =!= col("new_id"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("mh"), col("new_mh"), (a, b) => a === b),
          x => x)) / lit(Hashes.toDouble))
      .filter(col("est_jaccard") >= tau)
      .groupBy(col("doc_id").as("first_id"), col("new_id"))
      .agg(max(col("est_jaccard")).as("est_jaccard"))
  }

  /** Signature rows of the batch that are NOT already indexed: the
    * batch ids broadcast twice (a semi-join prunes the index scan to
    * already-present ids — map-side over the corpus, tiny output — and
    * the anti-join drops them from the batch), so replayed batches fold
    * in as no-ops and the corpus side never shuffles.
    */
  private def freshSigs(index: DataFrame, sigs: DataFrame): DataFrame = {
    val present = index
      .join(broadcast(sigs.select(col("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id")).distinct()
    sigs.join(broadcast(present), Seq("doc_id"), "left_anti")
  }

  /** The incremental step: probe, then fold the batch into the index.
    * Returns (pairs, updated index); the signatures compute once and
    * feed both (persisted via [[graft.Caches]] — a long-running ingest
    * loop calls Caches.releaseScope() per batch once the probe and the
    * folded index have materialized, so per-batch cache entries never
    * accumulate; or it uses [[append]]/[[load]] as DedupIndexSpec's
    * foreachBatch cycle does). Re-delivered doc_ids are dropped before
    * the union.
    */
  def ingest(
      index: DataFrame,
      newDocs: DataFrame,
      tau: Double = 0.5,
      maxBucket: Int = MaxBucket): (DataFrame, DataFrame) = {
    val sigs = Caches.persist(signatures(newDocs))
    (probeWithSigs(index, sigs, tau, maxBucket),
      index.unionByName(freshSigs(index, sigs)))
  }

  /** Drop retired documents from an in-session index: an anti-join
    * against the (broadcast, id-width) retired set — the index twin of
    * the reference's user-retirement sweep (sinks/user_retire.py:23-49:
    * sunk state must be REMOVABLE, not just appendable). Retiring an id
    * that was never indexed — or was already retired — is a no-op by
    * construction, so at-least-once delivery of retirement batches is
    * safe, and a probe after retire can never pair with a retired doc
    * (its signature rows are gone from every band).
    */
  def retire(index: DataFrame, ids: DataFrame): DataFrame =
    index.join(broadcast(ids.select(col("doc_id")).distinct()),
      Seq("doc_id"), "left_anti")

  /** Retire ids from a SAVED index: the anti-join rewrite is saved over
    * the live one as one commit ([[Artifact.save]]), so a crash
    * mid-rewrite leaves the previous signature store whole instead of a
    * silently-truncated one. One pass over the index per retirement
    * batch — at lake scale, batch retirements per compaction window (the
    * reference's retirement is itself a periodic batch task), not per
    * request.
    */
  def retire(path: String, ids: DataFrame): Unit = {
    val spark = ids.sparkSession
    Artifact.save(spark, path)(write(retire(load(spark, path), ids), _))
  }

  /** Persist an ingest: append ONLY the batch's not-yet-indexed
    * signature rows to a saved index path, as one commit
    * ([[Artifact.append]]): the band-partitioned rows are staged, then
    * moved in, so probes never see a document with some of its bands
    * missing (silently missed near-duplicates). (A save() of ingest's
    * returned union over the load()ed path also lands, but rewrites the
    * whole index.)
    */
  def append(path: String, newDocs: DataFrame): Unit = {
    val spark = newDocs.sparkSession
    Artifact.append(spark, path) { staged =>
      freshSigs(load(spark, path), signatures(newDocs))
        .write.partitionBy("band").parquet(s"$staged/sigs")
    }
  }

  /** Rewrite the accumulated append files into a bounded number of
    * target-sized files — [[append]] adds files per batch forever (the
    * lakehouse small-file problem; the reference's batched bulk insert
    * exists for the same reason, base_sink.py:251-282). The rewrite
    * commits like [[retire]], is idempotent, and is probe-identical
    * before/after (DedupIndexSpec). File-count bound:
    * ≤ `partitions` files per band directory (rows repartition on
    * (band, bkey) so one output file holds whole buckets). Size
    * `partitions` so files land near the FS block size at the
    * deployment's corpus, e.g. corpusBytes / bands / 128 MiB.
    */
  def compact(path: String, partitions: Int = 8): Unit = {
    val spark = SparkSession.active
    Artifact.save(spark, path)(write(
      load(spark, path).repartition(partitions, col("band"), col("bkey")), _))
  }
}
