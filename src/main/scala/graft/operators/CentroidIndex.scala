package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent trained-coarse-quantizer artifact — the [[QualityIndex]]
  * pattern applied to the IVF coarse stage (the r15 verdict's
  * highest-leverage ask): the [[AnnOps.ivfTrainMicros]] Lloyd loop runs
  * ONCE per (corpus, cells, rounds), its cells × 64 micro vectors
  * persist/memoize, and every consumer — `ann_ivf`, `ann_ivfpq`,
  * [[IvfPqIndex.build]], and D11/E14's shared
  * [[AnnOps.cellBucketedPairs]] candidate generator — SCORES against
  * the artifact instead of re-paying two full-vector corpus passes per
  * invocation. At 100 TB the difference is 2 extra corpus scans per
  * lookup batch vs a one-time model build; the reference's analogue is
  * the sink persisting its serialized state once for all downstream
  * readers (sinks/base_sink.py:171-201).
  *
  * The model is MODEL-sized (cells × 64 longs — 8 KB at the board's 16
  * cells, ~4 MB at the 65536-cell clamp) and DETERMINISTIC: every
  * training floor is engine-exact and the oracle replays the rounds as
  * unrolled CTEs, so a loaded/memoized artifact is bit-identical to an
  * inline retrain (CentroidIndexSpec pins loaded ≡ trained to the
  * micro, and that a warm consumer triggers ZERO training passes).
  * [[forCorpus]] memoizes per (corpus dir, embeddings fingerprint,
  * cells, rounds) — an in-session corpus rewrite invalidates the memo
  * (the r14 QualityIndex memo-invalidation doctrine). The memo holds
  * only driver arrays, no executor memory; like every [[Artifact.Memo]]
  * it outlives the per-query [[graft.Caches]] scope.
  */
object CentroidIndex {

  /** Count of genuine Lloyd training runs this session — the spec's
    * observable for "a warm board query contains zero training
    * aggregates" (training is eager driver-side work, so it can never
    * appear in a consumer's plan; the counter proves it didn't run
    * either).
    */
  private[graft] val trainRuns = new AtomicLong(0)

  /** Train the coarse centroid micros (the one Lloyd-loop definition,
    * [[AnnOps.ivfTrainMicros]]) and count the run.
    */
  def trainMicros(
      e: DataFrame, cells: Int, rounds: Int = AnnOps.IVF_ROUNDS)
      : Array[Array[Long]] = {
    trainRuns.incrementAndGet()
    AnnOps.ivfTrainMicros(e, cells, rounds)
  }

  // ---- persistence (the artifact contract, [[Artifact]]) ----

  /** Persist the trained micros + the geometry that makes them
    * meaningful (cells, rounds, dim), as one commit ([[Artifact.save]])
    * — a crash mid-save never leaves cells to assign under a
    * half-written centroid set.
    */
  def save(
      spark: SparkSession, micros: Array[Array[Long]], rounds: Int,
      path: String): Unit = {
    val dim = micros.headOption.map(_.length).getOrElse(0)
    Artifact.save(spark, path) { dir =>
      spark.range(0L, 1L, 1L, 1).select(
        typedLit(micros.map(_.toSeq).toSeq).as("micros"),
        lit(micros.length).as("cells"),
        lit(rounds).as("rounds"),
        lit(dim).as("dim"))
        .write.mode("overwrite").parquet(s"$dir/model")
    }
  }

  /** Reopen saved micros. Refuses a partial save, and refuses a model
    * whose geometry disagrees with what the caller will assign under —
    * centroids at the wrong cell count or dimensionality would bucket
    * garbage, not fail ([[QualityIndex.load]]'s refusal doctrine).
    */
  def load(
      spark: SparkSession, path: String, cells: Int,
      rounds: Int = AnnOps.IVF_ROUNDS): Array[Array[Long]] = {
    Artifact.open(spark, path, "CentroidIndex")
    val m = spark.read.parquet(s"$path/model").head()
    val (c, r, dm) = (m.getAs[Int]("cells"), m.getAs[Int]("rounds"),
      m.getAs[Int]("dim"))
    if (c != cells || r != rounds)
      throw new IllegalStateException(
        s"CentroidIndex at $path was trained at cells=$c rounds=$r; " +
          s"this consumer assigns under cells=$cells rounds=$rounds")
    if (dm != AnnOps.FULL_DIM)
      throw new IllegalStateException(
        s"CentroidIndex at $path holds $dm-dim centroids; " +
          s"this engine embeds at ${AnnOps.FULL_DIM}")
    val out = m.getAs[scala.collection.Seq[scala.collection.Seq[Long]]](
      "micros").map(_.toArray).toArray
    require(out.length == cells, s"centroid rows ${out.length} != $cells")
    out
  }

  // ---- board consumption (train-once per corpus) ----

  private val memo = new Artifact.Memo[Array[Array[Long]]]

  /** The corpus' trained micros at a geometry, derived at most once per
    * (directory, embeddings-fingerprint, cells, rounds) per session —
    * the board-harness stand-in for [[load]]ing a saved artifact
    * (gate queries receive only (session, dir)). Training is
    * deterministic, so this returns the bit-identical model an inline
    * retrain would.
    */
  def microsForCorpus(
      s: SparkSession, d: String, cells: Int,
      rounds: Int = AnnOps.IVF_ROUNDS): Array[Array[Long]] =
    memo(s"${CorpusKey.key(d, "embeddings.parquet")}#c$cells#r$rounds")(
      trainMicros(AnnOps.withNorm(s, d), cells, rounds))

  /** The trained (c_id, c_emb, c_nm) centroid frame every downstream
    * stage speaks (assignment, probe, residuals, persistence) — the
    * exact float round-trip [[AnnOps.centroidFrame]] documents, over
    * the memoized micros.
    */
  def forCorpus(
      s: SparkSession, d: String, cells: Int,
      rounds: Int = AnnOps.IVF_ROUNDS): DataFrame =
    AnnOps.centroidFrame(s, microsForCorpus(s, d, cells, rounds))
}
