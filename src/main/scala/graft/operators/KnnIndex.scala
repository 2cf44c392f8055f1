package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{Caches, Checkpoints, DriverPool, Tables}
import graft.functions.Portable._

/** Persistent k-NN GRAPH artifact (r17, the r16 verdict's ask #4): E14
  * (`emb_knn_graph`) is an ARTIFACT consumers reuse — SemDeDup
  * clustering, dataset cartography, kNN-LM datastores, and the
  * graph-ANN probe (`ann_graph`) all read the same edge frame — yet
  * until r17 every warm invocation re-paid the full build (60 s at 2M
  * vectors, BASELINE.md s4). This gives the graph the E13 persisted-
  * index treatment: edges and the member store persist DIRECTORY-
  * PARTITIONED BY COARSE CELL (the graph is cell-blocked, so a cell is
  * the complete, closed unit of recomputation), the coarse quantizer
  * that makes cell ids meaningful is pinned inside the index, and
  * per-cell SEED members (coverage-ranked beam-search entry points —
  * see [[seedRanks]]) are precomputed at build so a graph probe never
  * scans a cell to find its way in.
  *
  * Mutations follow the family contract:
  *  - [[append]] assigns the batch under the PINNED quantizer and
  *    re-knns ONLY the affected cells (edges never cross cells, so the
  *    rewrite is exactly the closure of the change); it is one commit
  *    ([[Artifact.append]]) that replaces only those cell directories
  *    and the seed table, and a replayed batch rewrites the same rows
  *    (members recompute from current state — idempotent).
  *  - [[retire]] drops members and every edge TOUCHING a retired id
  *    (the stored graph keeps k edges, so the (k+1)-th neighbor a true
  *    re-knn would promote is not reconstructible — stated contract,
  *    same as DedupIndex retire); on disk it is one commit that saves
  *    the rewrite over the live index ([[Artifact.save]]).
  * A crash mid-save leaves the previous graph or the whole new one,
  * never a half-written one.
  *
  * Scale shape: the build is E14's (one bucket shuffle, occupancy-
  * bounded in-task pairs, bounded-heap top-k); a warm consumer reads
  * model-sized meta + the edge parquet (at sf100: a ~6M-row columnar
  * read vs the 60 s rebuild — records/); an append prices as the
  * affected cells' occupancy, not the corpus.
  */
object KnnIndex {

  /** Beam-search entry points stored per cell. */
  private[operators] val SEEDS = 4

  /** One logical index: ranked edges (vec_id, rank, nbr_id, cos,
    * cell), the member store, per-cell seed ranks, and the pinned
    * coarse quantizer + dials that make them meaningful.
    */
  final case class Index(
      edges: DataFrame,
      vectors: DataFrame,
      seeds: DataFrame,
      micros: Array[Array[Long]],
      cells: Int,
      rounds: Int,
      k: Int,
      sub: Option[AnnOps.LshGeometry],
      div: Boolean = false)

  /** The E14 edge contract (vec_id, rank, nbr_id, cos), ordered. */
  def neighbors(index: Index): DataFrame =
    index.edges
      .select(col("vec_id"), col("rank"), col("nbr_id"), col("cos"))
      .orderBy(col("vec_id"), col("rank"))

  /** Assemble an index over a normed corpus frame under an ALREADY
    * TRAINED quantizer — the seam [[append]] (pinned micros) and the
    * frozen-quantizer spec drive; [[build]] trains then delegates.
    * Edge semantics are EXACTLY E14's ([[AnnOps.cellBucketedPairs]]
    * candidates + [[EmbeddingOps.knnEdges]] ranking).
    */
  private[graft] def buildFrom(
      e: DataFrame,
      micros: Array[Array[Long]],
      cells: Int,
      rounds: Int,
      sub: Option[AnnOps.LshGeometry],
      k: Int = EmbeddingOps.KNN_K,
      div: Boolean = false): Index = {
    val s = e.sparkSession
    val cent = AnnOps.centroidFrame(s, micros)
    val assign = Caches.persist(AnnOps.assignCells(e, cent))
    val vectors = Caches.persist(assign.join(e, "vec_id")
      .select(col("vec_id"), col("embedding"), col("nm"), col("cell")))
    val pairs = AnnOps.bucketedPairsFromAssigned(vectors, sub)
    // div = true swaps the plain top-k ranking for the HNSW
    // select-neighbors heuristic (E18b) — same degree budget, same
    // pair stream, diversified edge CHOICE (see
    // [[EmbeddingOps.divKnnEdges]]); the dial is pinned in the index
    // meta so append/load re-knn with the selection they were built
    // under
    val ranked =
      if (div) EmbeddingOps.divKnnEdges(pairs, vectors, k)
      else EmbeddingOps.knnEdges(pairs, k)
    val edges = ranked.join(assign, "vec_id")
    Index(edges, vectors, seedRanks(vectors), micros, cells,
      rounds, k, sub, div)
  }

  /** Per-cell seed ranks: the [[SEEDS]] lowest-id members of each cell
    * — entry points chosen for COVERAGE, not proximity (the HNSW
    * upper-layer argument: a cell can hold several tight clusters, and
    * the degree-k edges connect cluster-mates almost exclusively, so
    * centroid-NEAREST seeds all land in one cluster and the walk
    * strands there — measured on the 112-cluster corpus: recall@5
    * 0.225 under proximity seeds; id-order seeds sample the cell's
    * ingest mix instead). Bounded-heap per cell; deterministic and
    * oracle-replayable with no scoring pass at all.
    */
  private def seedRanks(vectors: DataFrame): DataFrame =
    vectors
      .groupBy(col("cell"))
      .agg(topkMin(struct(col("vec_id")), SEEDS).as("ks"))
      .select(col("cell"), posexplode(col("ks")).as(Seq("p", "kv")))
      .select(col("cell"), (col("p") + 1).cast(LongType).as("s_rank"),
        col("kv.vec_id").as("vec_id"))

  /** Train + index an initial corpus of (vec_id, embedding). */
  def build(
      embeddings: DataFrame,
      cells: Int = AnnOps.CENTROIDS,
      rounds: Int = AnnOps.IVF_ROUNDS,
      sub: Option[AnnOps.LshGeometry] = None,
      k: Int = EmbeddingOps.KNN_K,
      div: Boolean = false): Index = {
    val e = Caches.persist(AnnOps.withNormDf(embeddings))
    buildFrom(e, CentroidIndex.trainMicros(e, cells, rounds), cells,
      rounds, sub, k, div)
  }

  /** Persist meta (pinned quantizer + dials), the cell-partitioned
    * member and edge frames, and the seed table as one commit
    * ([[Artifact.save]]).
    */
  def save(index: Index, path: String): Unit =
    Artifact.save(index.edges.sparkSession, path)(write(index, _))

  /** Write the frames of `index` under `dir`. */
  private def write(index: Index, dir: String): Unit = {
    index.edges.sparkSession.range(0L, 1L, 1L, 1).select(
      lit(index.cells).as("cells"), lit(index.rounds).as("rounds"),
      lit(index.k).as("k"), lit(SEEDS).as("seeds_per_cell"),
      lit(index.sub.map(_.tables).getOrElse(0)).as("sub_tables"),
      lit(index.sub.map(_.planes).getOrElse(0)).as("sub_planes"),
      lit(index.div).as("div"),
      lit(index.micros.headOption.map(_.length).getOrElse(0)).as("dim"),
      typedLit(index.micros.map(_.toSeq).toSeq).as("micros"))
      .write.mode("overwrite").parquet(s"$dir/meta")
    // repartition on the partition column before the partitioned write
    // (r20, guide §6 small files): the member/edge frames arrive on the
    // engine's compute partitioning, so every task held a slice of
    // every cell — 518 parquet files for a 2000-row gate index, and
    // commit overhead dominated the save (5.8 s measured). Keyed on
    // cell, each cell's rows land in one task (locally: one file per
    // cell; at scale the same hash spread across the conf width).
    //
    // The three data writes are INDEPENDENT, so they overlap (guide
    // §2.6) — the save prices as the slowest write instead of their
    // sum.
    DriverPool.inParallel(index.edges.sparkSession)(
      () => index.vectors.withColumn("cell", col("cell").cast("int"))
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$dir/vectors"),
      () => index.edges.withColumn("cell", col("cell").cast("int"))
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$dir/edges"),
      () => index.seeds.write.mode("overwrite").parquet(s"$dir/seeds"))
  }

  def load(spark: SparkSession, path: String): Index = {
    Artifact.open(spark, path, "KnnIndex")
    val metaDf = spark.read.parquet(s"$path/meta")
    val meta = metaDf.head()
    val dim = meta.getAs[Int]("dim")
    if (dim != AnnOps.FULL_DIM)
      throw new IllegalStateException(
        s"KnnIndex at $path holds $dim-dim centroids; " +
          s"this engine embeds at ${AnnOps.FULL_DIM}")
    val micros = meta
      .getAs[scala.collection.Seq[scala.collection.Seq[Long]]]("micros")
      .map(_.toArray).toArray
    val cells = meta.getAs[Int]("cells")
    require(micros.length == cells,
      s"centroid rows ${micros.length} != $cells")
    val st = meta.getAs[Int]("sub_tables")
    Index(
      spark.read.parquet(s"$path/edges")
        .withColumn("cell", col("cell").cast(LongType)),
      spark.read.parquet(s"$path/vectors")
        .withColumn("cell", col("cell").cast(LongType)),
      spark.read.parquet(s"$path/seeds"),
      micros, cells, meta.getAs[Int]("rounds"), meta.getAs[Int]("k"),
      if (st == 0) None
      else Some(AnnOps.LshGeometry(st, meta.getAs[Int]("sub_planes"))),
      // pre-r18 meta has no `div` column (r18 advisory: a breaking
      // read of the persisted artifact) — default to plain edges
      if (metaDf.schema.fieldNames.contains("div"))
        meta.getAs[Boolean]("div")
      else false)
  }

  /** Append a batch under the PINNED quantizer: re-knn ONLY the cells
    * the batch lands in, as one commit ([[Artifact.append]]). Members
    * of those cells recompute from current state (anti-join folds a
    * replayed batch in as a no-op); the staged members, edges and seeds
    * replace exactly the cell directories they write and the seed
    * table, so edges and seeds of untouched cells are never read or
    * written.
    */
  def append(path: String, newVecs: DataFrame): Unit = {
    val spark = newVecs.sparkSession
    Artifact.append(spark, path, replacing = Seq("vectors", "edges", "seeds")) { staged =>
      val idx = load(spark, path)
      val cent = AnnOps.centroidFrame(spark, idx.micros)
      val newE = AnnOps.withNormDf(newVecs)
      // both feed several jobs below: each is computed once
      val newAssigned = Checkpoints.checkpoint(
        AnnOps.assignCells(newE, cent).join(newE, "vec_id")
          .select(col("vec_id"), col("embedding"), col("nm"), col("cell")))
      val affected = newAssigned.select(col("cell")).distinct()
        .collect().map(_.getAs[Long]("cell")).toSeq
      // current members of the affected cells (partition-pruned read),
      // batch ids anti-joined out so replay converges, batch unioned in
      val members = Checkpoints.checkpoint(
        idx.vectors.filter(col("cell").isin(affected: _*))
          .join(broadcast(newAssigned.select(col("vec_id")).distinct()),
            Seq("vec_id"), "left_anti")
          .unionByName(newAssigned))
      val pairs2 = AnnOps.bucketedPairsFromAssigned(members, idx.sub)
      val edges2 = (if (idx.div)
          EmbeddingOps.divKnnEdges(pairs2, members, idx.k)
        else EmbeddingOps.knnEdges(pairs2, idx.k))
        .join(members.select(col("vec_id"), col("cell")), "vec_id")
      members.withColumn("cell", col("cell").cast("int"))
        .write.partitionBy("cell").parquet(s"$staged/vectors")
      edges2.withColumn("cell", col("cell").cast("int"))
        .write.partitionBy("cell").parquet(s"$staged/edges")
      idx.seeds.filter(!col("cell").isin(affected: _*))
        .unionByName(seedRanks(members))
        .write.parquet(s"$staged/seeds")
    }
  }

  /** Drop retired ids in-session: members, seeds, and every edge
    * touching a retired id (either endpoint). The quantizer is model,
    * not corpus: it stays. Any cell that LOST a seed member replenishes
    * its full seed rank list from surviving members (r18 advisory: a
    * populated cell whose [[SEEDS]] lowest-id members were all retired
    * would otherwise keep members and edges but zero beam-search entry
    * points — silent recall loss); the lost-cell list is model-sized
    * (≤ cells), so the replenish scan is partition-prunable on a loaded
    * index. The (k+1)-neighbor edge caveat stands: retired EDGES are
    * dropped, not re-ranked (stated contract, as DedupIndex).
    */
  def retire(index: Index, ids: DataFrame): Index = {
    val r = ids.select(col("vec_id")).distinct()
    val vectors2 = index.vectors.join(broadcast(r), Seq("vec_id"), "left_anti")
    val lostCells = index.seeds
      .join(broadcast(r), Seq("vec_id"), "left_semi")
      .select(col("cell")).distinct()
      .collect().map(_.getAs[Long]("cell")).toSeq
    val seeds2 =
      if (lostCells.isEmpty) index.seeds
      else index.seeds.filter(!col("cell").isin(lostCells: _*))
        .unionByName(seedRanks(
          vectors2.filter(col("cell").isin(lostCells: _*))))
    index.copy(
      edges = index.edges
        .join(broadcast(r), Seq("vec_id"), "left_anti")
        .join(broadcast(r.withColumnRenamed("vec_id", "nbr_id")),
          Seq("nbr_id"), "left_anti"),
      vectors = vectors2,
      seeds = seeds2)
  }

  /** Retire ids on a saved path: the rewrite is saved over the live
    * index as one commit ([[Artifact.save]]) — a crash leaves a complete
    * index (previous or rewritten) on disk.
    */
  def retire(path: String, ids: DataFrame): Unit = {
    val spark = ids.sparkSession
    Artifact.save(spark, path)(write(retire(load(spark, path), ids), _))
  }

  // ---- board consumption (build-once per corpus) ----

  private val memo = new Artifact.Memo[String]

  /** The corpus' saved index at a geometry, built and persisted AT MOST
    * ONCE per (corpus fingerprint, geometry) per session; every later
    * call — emb_knn_graph re-runs, ann_graph probes — is a LOADED
    * parquet read, zero training and zero pair enumeration (the r16
    * verdict's warm-rebuild gap closed). The quantizer comes from the
    * [[CentroidIndex]] memo, so the coarse training is also shared
    * with the IVF family's consumers.
    */
  def forCorpus(
      s: SparkSession,
      d: String,
      cells: Int,
      sub: Option[AnnOps.LshGeometry],
      rounds: Int = AnnOps.IVF_ROUNDS,
      k: Int = EmbeddingOps.KNN_K,
      div: Boolean = false): Index = {
    val subKey = sub.map(g => s"${g.tables}x${g.planes}").getOrElse("none")
    val key = s"${CorpusKey.key(d, "embeddings.parquet")}#c$cells" +
      s"#r$rounds#k$k#s$subKey#p$SEEDS#d$div"
    val path = memo(key) {
      val p = Artifact.scratchDir("graft_knn_idx") + "/knn"
      val e = Caches.persist(AnnOps.withNormDf(Tables.embeddings(s, d)))
      save(buildFrom(e,
        CentroidIndex.microsForCorpus(s, d, cells, rounds),
        cells, rounds, sub, k, div), p)
      p
    }
    load(s, path)
  }
}
