package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{Caches, Checkpoints}
import graft.functions.Portable._

/** Persistent random-hyperplane LSH index for INCREMENTAL
  * approximate-nearest-neighbor search — the operational twin of E2's
  * `ann_lsh`, as [[DedupIndex]] is to D3. A lake-scale embedding store
  * cannot re-hash the corpus for every query batch: the index is built
  * once and probed/extended per batch.
  *
  * Two artifacts, deliberately separate (reference semantics:
  * `ann_lsh`'s "ids only" index note, AnnOps.scala:127):
  *  - `buckets` — (vec_id, tbl, bucket) membership rows, 8 id-width
  *    rows per vector, parquet-partitioned by `tbl` on save so a probe
  *    prunes to the tables it hashes;
  *  - `vectors` — (vec_id, embedding, nm) with the exact-micros
  *    self-dot precomputed via [[AnnOps.withNormDf]], the same norm
  *    definition as every E-series cosine.
  * Candidates travel as id pairs; the scoring join broadcasts the
  * (bounded: ≤ |batch|·tables·maxBucket) candidate ids against the
  * vector store, so no 0.5 KB embedding ever rides a bucket-join row
  * and the corpus-sized side never shuffles — loaded or freshly built.
  *
  * The per-(table, bucket, query) occupancy cap is enforced from the
  * join output itself, counted BEFORE the self-match filter (an
  * already-indexed probe sees the true occupancy), with the same
  * monotone saturation rule as [[DedupIndex]]: a degenerate hot bucket
  * (e.g. all-zero vectors, which share bucket 0 of every table)
  * contributes no candidates instead of a quadratic blowup. `ann_lsh`
  * itself carries no cap, so probe-vs-E2 row parity (AnnIndexSpec)
  * holds on any corpus whose buckets stay under the cap — a saturated
  * bucket is where the two deliberately diverge.
  */
object AnnIndex {

  /** Twin of the D-series MAX_BUCKET: candidates from a (table, bucket)
    * pair stop counting once the bucket holds more than this many
    * indexed vectors.
    */
  val MaxBucket = 200

  /** The two persisted frames of one logical index, plus the geometry
    * its bucket ids were hashed under — bucket ids are meaningless under
    * any other geometry, so the index PINS it (r9: geometry became a
    * sized parameter; a 10^9-vector deployment builds at
    * [[AnnOps.LshGeometry.forCorpus]] and every later probe/ingest must
    * hash with the same planes).
    */
  final case class Index(
      buckets: DataFrame,
      vectors: DataFrame,
      geometry: AnnOps.LshGeometry = AnnOps.LshGeometry.default)

  /** Build the index for an initial corpus of (vec_id, embedding). */
  def build(
      embeddings: DataFrame,
      geometry: AnnOps.LshGeometry = AnnOps.LshGeometry.default): Index = {
    val e = AnnOps.withNormDf(embeddings)
    Index(AnnOps.bucketIndex(e, geometry), e, geometry)
  }

  /** Persist / reopen. Buckets partition by `tbl` (a probe of t tables
    * prunes to those directories); vectors are plain parquet; the
    * geometry rides a one-row meta frame so a reopened index hashes its
    * probes identically. A save is one commit ([[Artifact.save]]): a
    * crash leaves the previous index or the whole new one, never a
    * non-default-geometry index reloaded at the default (probing with
    * mismatched bucket ids: near-empty results).
    */
  def save(index: Index, path: String): Unit =
    Artifact.save(index.buckets.sparkSession, path)(write(index, _))

  /** Write the frames of `index` under `dir`. */
  private def write(index: Index, dir: String): Unit = {
    index.buckets.sparkSession.range(0L, 1L, 1L, 1)
      .select(lit(index.geometry.tables).as("tables"),
        lit(index.geometry.planes).as("planes"))
      .write.mode("overwrite").parquet(s"$dir/geometry")
    // repartition on the partition column before the partitioned write
    // (r20, guide §6 small files — the KnnIndex.save finding): without
    // it every compute task writes a slice of every tbl directory
    index.buckets.repartition(col("tbl"))
      .write.mode("overwrite").partitionBy("tbl")
      .parquet(s"$dir/buckets")
    index.vectors.write.mode("overwrite").parquet(s"$dir/vectors")
  }

  def load(spark: SparkSession, path: String): Index = {
    Artifact.open(spark, path, "AnnIndex")
    val g = spark.read.parquet(s"$path/geometry").head()
    Index(spark.read.parquet(s"$path/buckets"),
      spark.read.parquet(s"$path/vectors"),
      AnnOps.LshGeometry(g.getAs[Int]("tables"), g.getAs[Int]("planes")))
  }

  /** Top-k indexed neighbors of each query vector:
    * (q_id, rank, vec_id, cos), ranked by exact-micros cosine with the
    * deterministic vec_id tie-break — the same output contract as
    * `ann_lsh`, row-for-row equal to E2 below bucket saturation
    * (proven in AnnIndexSpec).
    */
  def probe(
      index: Index,
      queries: DataFrame,
      k: Int = 5,
      maxBucket: Int = MaxBucket): DataFrame =
    probeWithNorm(index, AnnOps.withNormDf(queries), k, maxBucket)

  private def probeWithNorm(
      index: Index,
      q: DataFrame,
      k: Int,
      maxBucket: Int): DataFrame = {
    // the SAME multiprobe expansion as E2 (AnnOps.probeBuckets), at the
    // INDEX's pinned geometry — the probe-vs-ann_lsh parity contract
    // stays true by construction whenever the two geometries coincide
    val qb = AnnOps.probeBuckets(q, index.geometry)
    // every query meets every index row of its bucket, so the count per
    // (tbl, bucket, q_id) IS the index-side bucket occupancy — no
    // second read of the index, and counted before the self-filter
    val occ = Window.partitionBy(col("tbl"), col("bucket"), col("q_id"))
    val ids = index.buckets
      .join(broadcast(qb), Seq("tbl", "bucket"))
      .withColumn("bucket_occ", count(lit(1)).over(occ))
      .filter(col("bucket_occ") <= maxBucket)
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
      .distinct()
    val qv = q.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      col("nm").as("q_nm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    // candidate ids broadcast against the vector store: the corpus side
    // joins map-only whether the index is in-session or load()ed
    index.vectors.join(broadcast(ids), "vec_id")
      .join(broadcast(qv), "q_id")
      .select(col("q_id"), col("vec_id"),
        cosineFromMicros(dotMicros(col("q_emb"), col("embedding")),
          col("q_nm"), col("nm")).as("cos"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Near-dup PAIRS between a new batch and the indexed corpus —
    * (vec_id: the indexed vector, new_id, cos ≥ tau) — the
    * embedding-dedup twin of [[DedupIndex.probe]] and the deployment
    * shape of D5 `dedup_embedding`: a curation pipeline does not
    * re-enumerate corpus×corpus pairs per arriving batch, it asks "is
    * this new embedding a near-duplicate of anything we already hold".
    * Same candidate machinery as [[probe]] (multiprobe buckets,
    * occupancy cap counted before the self-filter, candidates as
    * broadcast id pairs), but thresholded on exact-micros cosine
    * instead of ranked top-k, so the output contract matches D5's
    * `cos >= tau` filter.
    */
  def probePairs(
      index: Index,
      newVecs: DataFrame,
      tau: Double = 0.3,
      maxBucket: Int = MaxBucket): DataFrame = {
    val q = AnnOps.withNormDf(newVecs)
    val qb = AnnOps.probeBuckets(q, index.geometry)
    val occ = Window.partitionBy(col("tbl"), col("bucket"), col("q_id"))
    val ids = index.buckets
      .join(broadcast(qb), Seq("tbl", "bucket"))
      .withColumn("bucket_occ", count(lit(1)).over(occ))
      .filter(col("bucket_occ") <= maxBucket)
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
      .distinct()
    val qv = q.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      col("nm").as("q_nm"))
    index.vectors.join(broadcast(ids), "vec_id")
      .join(broadcast(qv), "q_id")
      .select(col("vec_id"), col("q_id").as("new_id"),
        cosineFromMicros(dotMicros(col("q_emb"), col("embedding")),
          col("q_nm"), col("nm")).as("cos"))
      .filter(col("cos") >= tau)
      .orderBy(col("vec_id"), col("new_id"))
  }

  /** The batch's normed vectors that are NOT already in a vector store
    * (ids broadcast into a semi-prune of the corpus scan, then an
    * anti-join on the batch), so replayed batches fold in as no-ops —
    * the one definition for every vector index ([[PqIndex]],
    * [[IvfPqIndex]] too).
    */
  private[operators] def freshVecs(vectors: DataFrame, e: DataFrame): DataFrame = {
    val present = vectors
      .join(broadcast(e.select(col("vec_id")).distinct()),
        Seq("vec_id"), "left_semi")
      .select(col("vec_id")).distinct()
    e.join(broadcast(present), Seq("vec_id"), "left_anti")
  }

  /** The incremental step: probe the standing index with the batch,
    * then fold the batch in. The batch norms compute once and feed the
    * probe, the bucket rows and the vector union (persisted via
    * [[graft.Caches]] — a long-running ingest loop calls
    * Caches.releaseScope() per batch once the probe and the folded
    * index have materialized, so per-batch cache entries never
    * accumulate; or it uses [[append]]/[[load]] as the spec's
    * foreachBatch cycle does). Replayed vec_ids are dropped before the
    * unions.
    */
  def ingest(
      index: Index,
      newVecs: DataFrame,
      k: Int = 5,
      maxBucket: Int = MaxBucket): (DataFrame, Index) = {
    val e = Caches.persist(AnnOps.withNormDf(newVecs))
    val fresh = Caches.persist(freshVecs(index.vectors, e))
    (probeWithNorm(index, e, k, maxBucket),
      Index(
        index.buckets.unionByName(AnnOps.bucketIndex(fresh, index.geometry)),
        index.vectors.unionByName(fresh), index.geometry))
  }

  /** Drop retired vectors from an in-session index: an anti-join of
    * both frames against the (broadcast, id-width) retired set — the
    * index twin of the reference's user-retirement sweep
    * (sinks/user_retire.py:23-49: sunk state must be REMOVABLE, not
    * just appendable). Retiring an id that was never indexed — or was
    * already retired — is a no-op by construction, so at-least-once
    * delivery of retirement batches is safe.
    */
  def retire(index: Index, ids: DataFrame): Index = {
    val r = broadcast(ids.select(col("vec_id")).distinct())
    Index(index.buckets.join(r, Seq("vec_id"), "left_anti"),
      index.vectors.join(r, Seq("vec_id"), "left_anti"), index.geometry)
  }

  /** Retire ids from a SAVED index: the anti-join rewrite of both
    * frames, geometry preserved, is saved over the live one as one
    * commit ([[Artifact.save]]), so a crash leaves the previous or the
    * rewritten index, never a partial one. A rewrite prices at
    * one pass over the index — at lake scale, batch retirements per
    * compaction window (the reference's retirement is itself a periodic
    * batch task), not per request.
    */
  def retire(path: String, ids: DataFrame): Unit = {
    val spark = ids.sparkSession
    Artifact.save(spark, path)(write(retire(load(spark, path), ids), _))
  }

  /** Persist an ingest: append ONLY the batch's not-yet-indexed vector
    * rows, and the bucket rows hashed from them, to a saved index path,
    * as one commit ([[Artifact.append]]): both frames are staged, then
    * the commit record moves them in, so a crash leaves either the
    * previous index or, after the next load, the whole append — never
    * orphan bucket rows, which would inflate the occupancy count of
    * probe/probePairs. A replayed batch stages no rows. (A save() of
    * ingest's returned union over the load()ed path also lands, but
    * rewrites the whole index.)
    */
  def append(path: String, newVecs: DataFrame): Unit = {
    val spark = newVecs.sparkSession
    Artifact.append(spark, path) { staged =>
      val idx = load(spark, path)
      // feeds both writes: the corpus-side semi-join runs once
      val freshV = Checkpoints.checkpoint(freshVecs(idx.vectors, AnnOps.withNormDf(newVecs)))
      freshV.write.parquet(s"$staged/vectors")
      AnnOps.bucketIndex(freshV, idx.geometry)
        .write.partitionBy("tbl").parquet(s"$staged/buckets")
    }
  }

  /** Rewrite the accumulated append files into a bounded number of
    * target-sized files — the lakehouse small-file compaction every
    * long-running ingest loop needs: [[append]] adds files per batch
    * forever, and a thousand-batch index is a thousand-file scan. The
    * rewrite commits like [[retire]], is idempotent, and is
    * probe-identical before/after (AnnIndexSpec). File-count bound:
    * `partitions` files under vectors and per-tbl bucket directory
    * (buckets repartition on (tbl, bucket) so one output file holds
    * whole buckets — a probe of one bucket reads one file's row
    * groups). Size `partitions` so each file lands near the FS block
    * size at the deployment's corpus, e.g. corpusBytes / 128 MiB.
    */
  def compact(path: String, partitions: Int = 8): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    Artifact.save(spark, path) { staged =>
      val idx = load(spark, path)
      write(Index(
        idx.buckets.repartition(partitions, col("tbl"), col("bucket")),
        idx.vectors.repartition(partitions, col("vec_id")), idx.geometry), staged)
    }
  }
}
