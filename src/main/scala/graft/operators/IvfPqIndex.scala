package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{Caches, Checkpoints}

/** Persistent IVFPQ index — the composed operational artifact the r12
  * verdict named the remaining O(corpus) gap: [[PqIndex.probe]] scans
  * ALL stored codes per query batch (linear in n, however compressed),
  * while this index stores the codes INVERTED-FILE style — one parquet
  * partition per coarse cell — so a probe reads only the nprobe cells
  * its queries hash to. Partition pruning does the work: the probed
  * cell set is bounded (queries × nprobe values, collected driver-side
  * before the scan), the `cell IN (...)` filter prunes the codes scan
  * to those directories, and per-query compute is the probed cells'
  * occupancy (~nprobe/cells of the corpus under the √n cell dial),
  * never the corpus. IvfPqIndexSpec pins exactly that: a loaded probe's
  * input files are a strict subset of the codes partitions.
  *
  * Four persisted frames: `codes` (vec_id, codes; DIRECTORY-partitioned
  * by cell), `vectors` (the exact-cosine refine store), `centroids`
  * (the pinned coarse quantizer — cell assignment is meaningless under
  * any other), and a one-row `meta` pinning the residual codebook and
  * dials (cells, nprobe, k, rerank). [[append]] assigns and encodes new
  * batches under BOTH pinned models (coarse centroids + residual
  * codebook) — the FAISS operational posture: retrain is a rebuild.
  *
  * Durability is [[PqIndex]]'s: a save, [[retire]], [[compact]] and
  * [[append]] are each one commit ([[Artifact.save]],
  * [[Artifact.append]]), so a crash leaves a complete index, and
  * [[load]] finishes any commit a crash left recorded.
  */
object IvfPqIndex {

  /** One logical index: inverted-file codes, refine store, pinned
    * coarse centroids, pinned residual codebook + dials.
    */
  final case class Index(
      codes: DataFrame,
      vectors: DataFrame,
      centroids: DataFrame,
      codebook: Array[Long],
      cells: Int,
      nprobe: Int,
      k: Int,
      rerank: Int)

  /** Train + encode an initial corpus of (vec_id, embedding). Dials
    * default to the board geometry; a scale deployment passes
    * [[AnnOps.ivfCellsFor]] / [[AnnOps.pqGeometryFor]] values.
    */
  def build(
      embeddings: DataFrame,
      cells: Int = AnnOps.CENTROIDS,
      nprobe: Int = AnnOps.NPROBE,
      k: Int = AnnOps.PQ_K,
      rounds: Int = AnnOps.PQ_ROUNDS,
      rerank: Int = AnnOps.PQ_RERANK): Index = {
    val e = Caches.persist(AnnOps.withNormDf(embeddings))
    // trained coarse stage (r15): slice seeds + Lloyd rounds — the
    // exact ann_ivfpq board definition, so probe ≡ board stays pinned.
    // Routed through CentroidIndex.trainMicros (r16) so the session's
    // train-run counter covers the index build too: building IS the
    // train-once moment, and the centroids persist inside the index.
    val cent = AnnOps.centroidFrame(e.sparkSession,
      CentroidIndex.trainMicros(e, cells))
    val res = Caches.persist(AnnOps.ivfPqResiduals(e, cent))
    val cb = AnnOps.ivfPqTrain(res, k, rounds, AnnOps.ivfPqSeedBase(cells))
    val codes = res.select(col("vec_id"), col("cell"),
      call_function("pql_encode", col("rv"), typedLit(cb.toSeq),
        lit(AnnOps.PQ_SUBDIM)).as("codes"))
    Index(codes, e, cent, cb, cells, nprobe, k, rerank)
  }

  /** Top-k indexed neighbors of each query vector — (q_id, rank,
    * vec_id, adc, cos), the exact `ann_ivfpq` output contract
    * ([[AnnOps.ivfPqSearch]] is the one shared search body). The probed
    * cell set is resolved driver-side FIRST (bounded: ≤ queries×nprobe
    * values) so the codes scan carries a partition-pruning `cell IN`
    * filter — on a saved index only the probed directories are read.
    */
  def probe(index: Index, queries: DataFrame, topK: Int = 5): DataFrame = {
    val spark = queries.sparkSession
    val q = AnnOps.withNormDf(queries)
    // ONE queries×centroids job: the collected probe list both prunes
    // the codes scan (partition filter) and feeds the search as a
    // literal frame, so the scoring never re-runs
    val probeRows = AnnOps.ivfPqProbe(q, index.centroids, index.nprobe)
      .collect()
    val probedCells = probeRows.map(_.getAs[Long]("cell")).distinct.toSeq
    import spark.implicits._
    val probeLit = probeRows
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cell"))).toSeq
      .toDF("q_id", "cell")
    AnnOps.ivfPqSearch(index.codebook, index.k, index.rerank, topK,
      index.nprobe, index.centroids,
      index.codes.filter(col("cell").isin(probedCells: _*)),
      index.vectors, q, probeList = Some(probeLit))
  }

  /** Persist meta (codebook + dials), centroids, vectors and the
    * cell-partitioned codes as one commit ([[Artifact.save]]): a crash
    * never leaves codes under a half-written model.
    */
  def save(index: Index, path: String): Unit =
    Artifact.save(index.codes.sparkSession, path)(write(index, _))

  /** Write the frames of `index` under `dir`. */
  private def write(index: Index, dir: String): Unit = {
    index.codes.sparkSession.range(0L, 1L, 1L, 1)
      .select(lit(index.cells).as("cells"), lit(index.nprobe).as("nprobe"),
        lit(index.k).as("k"), lit(index.rerank).as("rerank"),
        typedLit(index.codebook.toSeq).as("codebook"))
      .write.mode("overwrite").parquet(s"$dir/meta")
    index.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    index.vectors.write.mode("overwrite").parquet(s"$dir/vectors")
    // the inverted file: one directory per coarse cell (cells ≤ 65536
    // by the ivfCellsFor clamp, so the partition count is bounded);
    // cell values are ints on disk and widen back to the engine's long
    // ids at load
    index.codes
      .withColumn("cell", col("cell").cast("int"))
      // repartition on the partition column before the partitioned
      // write (r20, guide §6 small files — the KnnIndex.save finding)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/codes")
  }

  def load(spark: SparkSession, path: String): Index = {
    Artifact.open(spark, path, "IvfPqIndex")
    val meta = spark.read.parquet(s"$path/meta").head()
    Index(
      spark.read.parquet(s"$path/codes")
        .withColumn("cell", col("cell").cast(LongType)),
      spark.read.parquet(s"$path/vectors"),
      spark.read.parquet(s"$path/centroids"),
      meta.getAs[scala.collection.Seq[Long]]("codebook").toArray,
      meta.getAs[Int]("cells"), meta.getAs[Int]("nprobe"),
      meta.getAs[Int]("k"), meta.getAs[Int]("rerank"))
  }

  /** Append a batch to a saved index under the PINNED coarse centroids
    * and residual codebook, as one commit ([[Artifact.append]]): the
    * batch's not-yet-indexed vectors and their cell-partitioned codes
    * are staged, then moved in, so a replayed batch stages no rows.
    */
  def append(path: String, newVecs: DataFrame): Unit = {
    val spark = newVecs.sparkSession
    Artifact.append(spark, path) { staged =>
      val idx = load(spark, path)
      val freshV = Checkpoints.checkpoint(
        AnnIndex.freshVecs(idx.vectors, AnnOps.withNormDf(newVecs)))
      freshV.write.parquet(s"$staged/vectors")
      AnnOps.ivfPqResiduals(freshV, idx.centroids)
        .select(col("vec_id"), col("cell").cast("int").as("cell"),
          call_function("pql_encode", col("rv"),
            typedLit(idx.codebook.toSeq), lit(AnnOps.PQ_SUBDIM)).as("codes"))
        .write.partitionBy("cell").parquet(s"$staged/codes")
    }
  }

  /** Drop retired ids in-session — codes and vectors anti-join the
    * broadcast id set; retiring an unknown or already-retired id is a
    * no-op. Centroids are model, not corpus: they stay.
    */
  def retire(index: Index, ids: DataFrame): Index = {
    val r = broadcast(ids.select(col("vec_id")).distinct())
    index.copy(
      codes = index.codes.join(r, Seq("vec_id"), "left_anti"),
      vectors = index.vectors.join(r, Seq("vec_id"), "left_anti"))
  }

  /** Retire ids on a saved path: the rewrite, centroids preserved, is
    * saved over the live index as one commit ([[Artifact.save]]).
    */
  def retire(path: String, ids: DataFrame): Unit = {
    val spark = ids.sparkSession
    Artifact.save(spark, path)(write(retire(load(spark, path), ids), _))
  }

  /** Small-file compaction of the accumulated append files: clustering
    * the codes by cell leaves each cell directory with one file per
    * holding task (a cell lives in exactly one task after the
    * repartition), probe-identical before/after, one commit like
    * [[retire]] — a crash preserves the pre-compaction index intact.
    */
  def compact(path: String, partitions: Int = 8): Unit = {
    val spark = SparkSession.active
    Artifact.save(spark, path) { staged =>
      val idx = load(spark, path)
      write(idx.copy(
        codes = idx.codes.repartition(partitions, col("cell")),
        vectors = idx.vectors.repartition(partitions, col("vec_id"))), staged)
    }
  }
}
