package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Caches, Checkpoints}

/** Persistent product-quantization index — the operational twin of E10's
  * `ann_pq`, as [[AnnIndex]] is to E2 and [[DedupIndex]] to D3. The PQ
  * scale claim is that the CODES COLUMN is the index ("it fits in
  * memory where the vectors don't"); this artifact makes that durable:
  * train the codebook and encode the corpus once, then every later
  * probe computes only its own ADC tables and scans the stored codes —
  * the corpus is never re-encoded, and the float vectors are touched
  * only for the R-row exact-cosine refine per query.
  *
  * Three persisted frames: `codes` (vec_id, m int codes), `vectors`
  * (vec_id, embedding, nm — the refine store, [[AnnOps.withNormDf]]'s
  * norm definition), and a one-row `meta` carrying (k, rerank) AND the
  * flattened codebook — codes are meaningless under any other codebook,
  * so the index PINS it exactly as AnnIndex pins its LSH geometry.
  * [[append]] encodes new batches under the pinned codebook (the
  * standard IVFPQ operational posture: retrain is a rebuild, not an
  * append — drift between the frozen codebook and a shifting corpus
  * distribution degrades recall gracefully and is re-measured at
  * rebuild time).
  *
  * Durability is [[AnnIndex]]'s: a save, a retire and a compact are
  * each one commit ([[Artifact.save]]), an append too
  * ([[Artifact.append]]), so a crash leaves the previous index or,
  * after the next load, the whole write.
  */
object PqIndex {

  /** One logical index: the coded corpus, the refine store, and the
    * pinned codebook + dials.
    */
  final case class Index(
      codes: DataFrame,
      vectors: DataFrame,
      codebook: Array[Long],
      k: Int,
      rerank: Int)

  /** Train + encode an initial corpus of (vec_id, embedding). Dials
    * default to the board geometry; a scale deployment passes
    * [[AnnOps.pqGeometryFor]]'s values.
    */
  def build(
      embeddings: DataFrame,
      k: Int = 32,
      rounds: Int = 2,
      rerank: Int = 64): Index = {
    val e = Caches.persist(AnnOps.withNormDf(embeddings))
    val cb = AnnOps.pqTrain(e, k, rounds)
    Index(AnnOps.pqEncodeDf(e, cb), e, cb, k, rerank)
  }

  /** Top-k indexed neighbors of each query vector — (q_id, rank,
    * vec_id, adc, cos), the exact `ann_pq` output contract
    * ([[AnnOps.pqSearch]] is the one shared search body), ranked by
    * exact-micros cosine over the ADC shortlist.
    */
  def probe(index: Index, queries: DataFrame, topK: Int = 5): DataFrame =
    AnnOps.pqSearch(index.codebook, index.k, index.rerank, topK,
      index.codes, index.vectors, AnnOps.withNormDf(queries))

  /** Persist meta (codebook + dials), vectors and codes as one commit
    * ([[Artifact.save]]): a crash never leaves stored codes under a
    * half-written codebook.
    */
  def save(index: Index, path: String): Unit =
    Artifact.save(index.codes.sparkSession, path)(write(index, _))

  /** Write the frames of `index` under `dir`. */
  private def write(index: Index, dir: String): Unit = {
    index.codes.sparkSession.range(0L, 1L, 1L, 1)
      .select(lit(index.k).as("k"), lit(index.rerank).as("rerank"),
        typedLit(index.codebook.toSeq).as("codebook"))
      .write.mode("overwrite").parquet(s"$dir/meta")
    index.vectors.write.mode("overwrite").parquet(s"$dir/vectors")
    index.codes.write.mode("overwrite").parquet(s"$dir/codes")
  }

  def load(spark: SparkSession, path: String): Index = {
    Artifact.open(spark, path, "PqIndex")
    val meta = spark.read.parquet(s"$path/meta").head()
    Index(spark.read.parquet(s"$path/codes"),
      spark.read.parquet(s"$path/vectors"),
      meta.getAs[scala.collection.Seq[Long]]("codebook").toArray,
      meta.getAs[Int]("k"), meta.getAs[Int]("rerank"))
  }

  /** Append a batch to a saved index under the PINNED codebook, as one
    * commit ([[Artifact.append]]): the batch's not-yet-indexed vectors
    * and their codes are staged, then moved in, so a replayed batch
    * stages no rows.
    */
  def append(path: String, newVecs: DataFrame): Unit = {
    val spark = newVecs.sparkSession
    Artifact.append(spark, path) { staged =>
      val idx = load(spark, path)
      val freshV = Checkpoints.checkpoint(
        AnnIndex.freshVecs(idx.vectors, AnnOps.withNormDf(newVecs)))
      freshV.write.parquet(s"$staged/vectors")
      AnnOps.pqEncodeDf(freshV, idx.codebook).write.parquet(s"$staged/codes")
    }
  }

  /** Drop retired ids in-session — both frames anti-join the broadcast
    * id set; retiring an unknown or already-retired id is a no-op.
    */
  def retire(index: Index, ids: DataFrame): Index = {
    val r = broadcast(ids.select(col("vec_id")).distinct())
    Index(index.codes.join(r, Seq("vec_id"), "left_anti"),
      index.vectors.join(r, Seq("vec_id"), "left_anti"),
      index.codebook, index.k, index.rerank)
  }

  /** Retire ids on a saved path: the rewrite, codebook preserved, is
    * saved over the live index as one commit ([[Artifact.save]]).
    */
  def retire(path: String, ids: DataFrame): Unit = {
    val spark = ids.sparkSession
    Artifact.save(spark, path)(write(retire(load(spark, path), ids), _))
  }

  /** Small-file compaction of the accumulated append files — bounded
    * file count, probe-identical before/after, committed like
    * [[retire]] (the AnnIndex/DedupIndex compaction contract).
    */
  def compact(path: String, partitions: Int = 8): Unit = {
    val spark = SparkSession.active
    Artifact.save(spark, path) { staged =>
      val idx = load(spark, path)
      write(idx.copy(
        codes = idx.codes.repartition(partitions, col("vec_id")),
        vectors = idx.vectors.repartition(partitions, col("vec_id"))), staged)
    }
  }
}
