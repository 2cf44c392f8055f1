package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{Caches, Op, Tables}
import graft.functions.Portable._

/** E18 — graph-based ANN (r17, the r16 verdict's ask #7): beam search
  * over the persisted k-NN graph ([[KnnIndex]]) — the search side of
  * the HNSW/NSW family, the OTHER default index of every public vector
  * store beside the IVF/PQ line the board already carries. Queries
  * seed from the trained centroid probe (nprobe nearest cells, entry
  * points = the index's precomputed per-cell seeds), then expand
  * [[GRAPH_HOPS]] synchronous beam rounds: score the frontier's graph
  * neighbors, merge, keep the top-[[GRAPH_BEAM]] per query. The graph
  * is cell-blocked (E14's stated semantics), so the search REFINES
  * within the probed cells: against `ann_ivf` at the same nprobe it
  * scores only the vectors the graph walk actually visits instead of
  * every member of every probed cell — the recall-vs-scan-fraction
  * dial measured in records/GRAPH_TUNE_r17.txt–r19.
  *
  * Spark shape: every hop is a bounded relational round (the G13
  * iteration discipline) — frontier ⋈ edges is ≤ queries × beam × k
  * rows, scoring joins the PROBED CELLS' member frame (partition-
  * pruned on the stored artifact — the corpus is never scanned), and
  * the per-query beam/top-k cuts are bounded-heap aggregates, never a
  * corpus sort. Exact-micros cosines end to end: every beam cut and
  * tie-break is deterministic, so the oracle replays the hops as
  * unrolled CTEs over the identical edge CTE chain — r18: the
  * DIVERSIFIED chain ([[EmbeddingOps.sqlDivEdgeCtes]], E18b's
  * select-neighbors heuristic at build).
  */
object GraphAnnOps {

  private[graft] val GRAPH_BEAM = 8
  private[graft] val GRAPH_HOPS = 3
  private[graft] val GRAPH_TOP_K = 5

  /** Graph DEGREE for the search index: E14's k = 3 is the analysis
    * graph (mutual-similarity structure); navigable search needs a
    * denser graph (HNSW's M defaults to 16–64 neighbors) or beam walks
    * strand in small components — measured at sf0.01: recall@5
    * plateaued at 0.15 under k = 3 vs ivf's 0.575 at the same nprobe.
    * The k = 8 index is a second [[KnnIndex]] artifact over the same
    * machinery (same pair stream, only the heap width differs).
    */
  private[graft] val GRAPH_DEGREE = 8

  /** Beam search over a built index for the standard query subset —
    * the seam the records/GRAPH_TUNE_r1*.txt measurements drove at
    * explicit dials.
    */
  private[graft] def graphSearch(
      e: DataFrame,
      idx: KnnIndex.Index,
      beam: Int = GRAPH_BEAM,
      hops: Int = GRAPH_HOPS,
      topK: Int = GRAPH_TOP_K,
      nprobe: Int = AnnOps.NPROBE): DataFrame =
    graphSearchImpl(e, idx, beam, hops, topK, nprobe)._1

  /** [[graphSearch]] plus the distinct (q_id, vec_id) pairs the walk
    * actually SCORED — the scan-fraction numerator the
    * records/GRAPH_TUNE_r1*.txt measurements price against ann_ivf's
    * full probed-cell scan. The op path never
    * materializes the second frame (laziness: unconsumed = unpaid).
    */
  private[graft] def graphSearchImpl(
      e: DataFrame,
      idx: KnnIndex.Index,
      beam: Int,
      hops: Int,
      topK: Int,
      nprobe: Int): (DataFrame, DataFrame) = {
    val s = e.sparkSession
    val queries = e.filter(col("vec_id") < AnnOps.QUERY_MAX)
    val cent = AnnOps.centroidFrame(s, idx.micros)
    val probe = Caches.persist(AnnOps.ivfPqProbe(queries, cent, nprobe))
    val probed = probe.select(col("cell")).distinct()
      .collect().map(_.getAs[Long]("cell")).toSeq
    // the search's whole world: the probed cells' members and edges —
    // partition-pruned reads of the artifact, never the corpus. Both
    // are persisted PRE-PARTITIONED on vec_id (r19, guide §2.4: two
    // operations keyed the same way share one exchange): every hop of
    // the walk joins them on vec_id, so establishing the partitioning
    // once in the cached frame removes a per-hop Exchange on the big
    // side of each join.
    val members = Caches.persist(idx.vectors
      .filter(col("cell").isin(probed: _*))
      .select(col("vec_id"), col("embedding"), col("nm"))
      .repartition(col("vec_id")))
    val edges = Caches.persist(idx.edges
      .filter(col("cell").isin(probed: _*))
      .select(col("vec_id"), col("nbr_id"))
      .repartition(col("vec_id")))
    val qF = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"), col("nm").as("q_nm"))
    // hop 0: the probed cells' stored entry points
    val cand0 = probe
      .join(idx.seeds.select(col("cell"), col("vec_id")), "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
    beamWalk(members, edges, qF, cand0, beam, hops, topK)
  }

  /** The synchronous beam-walk core over an (already cell-pruned)
    * member/edge world from explicit per-query entry candidates —
    * factored (r19) so E18c's hierarchy descent ([[HnswOps]]) seeds
    * the IDENTICAL walk the probe-seeded ops run. Returns the ranked
    * top-k frame and the distinct (q_id, vec_id) set the walk scored.
    */
  private[graft] def beamWalk(
      members: DataFrame,
      edges: DataFrame,
      qF: DataFrame,
      cand0: DataFrame,
      beam: Int,
      hops: Int,
      topK: Int): (DataFrame, DataFrame) = {
    // r20 — size-adaptive engine chooser (the TokenizerIndex.train /
    // clusterPairs doctrine, guide §1.2): below the threshold the hop
    // loop is pure round latency (2 Exchanges + stage scheduling per
    // hop over a frontier of a few hundred rows), so the walk's whole
    // world — already the partition-pruned probed-cell slice, never the
    // corpus — collects once and the hops run driver-local with
    // bit-identical kernels ([[LocalWalk]]; parity pinned in
    // GraphAnnSpec). Above it, the distributed loop below runs
    // unchanged (the sf100-scale probes take this path). The member
    // count is a cached-frame action the first hop would materialize
    // anyway.
    val s = members.sparkSession
    val lmax = LocalWalk.localMax(s)
    if (lmax > 0 && members.count() <= lmax &&
        edges.count() <= lmax * GRAPH_DEGREE) {
      val m = LocalWalk.collectVectors(members)
      val e = LocalWalk.collectEdges(edges)
      val q = LocalWalk.collectQueries(qF)
      val c0 = LocalWalk.collectPairs(cand0.select(col("q_id"), col("vec_id")))
      val (frontier, scanned) = LocalWalk.walk(m, e, q, c0, beam, hops)
      return (LocalWalk.resultDf(s, LocalWalk.ranked(frontier, topK)),
        LocalWalk.scannedDf(s, scanned).distinct())
    }
    def score(cand: DataFrame): DataFrame =
      cand.join(members, "vec_id")
        .join(broadcast(qF), "q_id")
        .select(col("q_id"), col("vec_id"),
          cosineFromMicros(dotMicros(col("q_emb"), col("embedding")),
            col("q_nm"), col("nm")).as("cos"))
    def topBeam(scored: DataFrame): DataFrame =
      scored.groupBy(col("q_id"))
        .agg(topkMin(struct((-col("cos")).as("negc"), col("vec_id")), beam)
          .as("ks"))
        .select(col("q_id"), posexplode(col("ks")).as(Seq("p", "kv")))
        .select(col("q_id"), col("kv.vec_id").as("vec_id"),
          (-col("kv.negc")).as("cos"))
    var scanned = cand0
    var cand = Caches.persist(topBeam(score(cand0)))
    (1 to hops).foreach { _ =>
      // No per-hop distinct(): `merged`'s (q_id, vec_id) max-aggregate
      // already collapses duplicate neighbors (cos is deterministic, so
      // max over copies ≡ the value) — the distinct was a third
      // per-hop Exchange for a dedup the next operator re-does anyway
      // (r19; result bit-identical, `scanned` still distincts at the
      // end). Scoring the ≤ beam × degree pre-dedup rows is map-side
      // work on an id-width frame.
      val nbrs = cand
        .join(edges, "vec_id")
        .filter(col("nbr_id") =!= col("q_id"))
        .select(col("q_id"), col("nbr_id").as("vec_id"))
      scanned = scanned.unionByName(nbrs)
      // One explicit repartition on q_id lets BOTH downstream
      // aggregates (the (q_id, vec_id) merge and topBeam's per-q_id
      // heap) reuse a single Exchange: HashPartitioning(q_id)
      // satisfies the clustering requirement of each (guide §2.4's
      // shared-exchange rule) — 2 Exchanges per hop instead of 4.
      val merged = cand.unionByName(score(nbrs))
        .repartition(col("q_id"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(max(col("cos")).as("cos"))
      cand = Caches.persist(topBeam(merged))
    }
    val result = cand.groupBy(col("q_id"))
      .agg(topkMin(struct((-col("cos")).as("negc"), col("vec_id")), topK)
        .as("ks"))
      .select(col("q_id"), posexplode(col("ks")).as(Seq("p", "kv")))
      .select(col("q_id"), (col("p") + 1).cast(LongType).as("rank"),
        col("kv.vec_id").as("vec_id"), (-col("kv.negc")).as("cos"))
      .orderBy(col("q_id"), col("rank"))
    (result, scanned.distinct())
  }

  /** The unrolled oracle: trained cells, window-ranked assignment (≡
    * the engine's argmax — the ann_ivf equivalence), the shared edge
    * CTE chain, then hop CTEs. Geometry-parameterized (cells + sub)
    * so [[graft.GeometryCheck]] regenerates it at the corpus-derived
    * dials above gate scale.
    */
  private[graft] def sqlGraphSearch(
      cells: Int,
      sub: Option[AnnOps.LshGeometry],
      beam: Int = GRAPH_BEAM,
      hops: Int = GRAPH_HOPS,
      topK: Int = GRAPH_TOP_K,
      nprobe: Int = AnnOps.NPROBE,
      seeds: Int = KnnIndex.SEEDS,
      div: Boolean = false): String = {
    val cos = AnnOps.sqlCos("q", "v")
    val hopCtes = (1 to hops).map { i =>
      s"""nb$i AS (SELECT DISTINCT h.q_id, k.nbr AS vec_id
             FROM h${i - 1} h JOIN kedge k ON k.src = h.vec_id
             WHERE k.nbr != h.q_id),
      sc$i AS (SELECT n.q_id, n.vec_id, $cos AS cos
             FROM nb$i n
             JOIN e v ON v.vec_id = n.vec_id
             JOIN e q ON q.vec_id = n.q_id),
      mg$i AS (SELECT q_id, vec_id, max(cos) AS cos
             FROM (SELECT q_id, vec_id, cos FROM h${i - 1}
                   UNION ALL SELECT q_id, vec_id, cos FROM sc$i) u
             GROUP BY q_id, vec_id),
      h$i AS (SELECT q_id, vec_id, cos FROM (
               SELECT q_id, vec_id, cos,
                      row_number() OVER (PARTITION BY q_id
                        ORDER BY cos DESC, vec_id) AS rn
               FROM mg$i) t WHERE rn <= $beam)"""
    }.mkString(",\n      ")
    s"""
      WITH ${AnnOps.sqlNormCte},
      ${AnnOps.sqlIvfTrainCtes(cells, AnnOps.IVF_ROUNDS)},
      iscg AS MATERIALIZED (
        SELECT q.vec_id, c.c_id,
               CAST(sum(q.qv * c.cm) AS DOUBLE) /
                 (sqrt(CAST(e.nm AS DOUBLE)) * sqrt(CAST(n.ncm AS DOUBLE)))
                 AS ccos
        FROM qr q
        JOIN icm${AnnOps.IVF_ROUNDS} c USING (j)
        JOIN e ON e.vec_id = q.vec_id
        JOIN inmF n ON n.c_id = c.c_id
        GROUP BY q.vec_id, c.c_id, e.nm, n.ncm),
      irk AS MATERIALIZED (
        SELECT vec_id, c_id, ccos,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY ccos DESC, c_id) AS rn
        FROM iscg),
      m AS MATERIALIZED (
        SELECT e.vec_id, e.embedding, e.nm, irk.c_id AS cell
        FROM e JOIN irk ON irk.vec_id = e.vec_id AND irk.rn = 1),
      ${if (div) EmbeddingOps.sqlDivEdgeCtes(sub, GRAPH_DEGREE)
        else EmbeddingOps.sqlKnnEdgeCtes(sub, GRAPH_DEGREE)},
      gseeds AS (SELECT cell, vec_id FROM (
               SELECT c_id AS cell, vec_id,
                      row_number() OVER (PARTITION BY c_id
                        ORDER BY vec_id) AS srk
               FROM irk WHERE rn = 1) s
             WHERE srk <= $seeds),
      gprobe AS (SELECT vec_id AS q_id, c_id AS cell FROM irk
             WHERE rn <= $nprobe AND vec_id < ${AnnOps.QUERY_MAX}),
      c0 AS (SELECT p.q_id, s.vec_id, $cos AS cos
             FROM gprobe p
             JOIN gseeds s USING (cell)
             JOIN e v ON v.vec_id = s.vec_id
             JOIN e q ON q.vec_id = p.q_id
             WHERE s.vec_id != p.q_id),
      h0 AS (SELECT q_id, vec_id, cos FROM (
               SELECT q_id, vec_id, cos,
                      row_number() OVER (PARTITION BY q_id
                        ORDER BY cos DESC, vec_id) AS rn
               FROM c0) t WHERE rn <= $beam),
      $hopCtes
      SELECT q_id, rank, vec_id, cos FROM (
        SELECT q_id, vec_id, cos,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
        FROM h$hops) f
      WHERE rank <= $topK
      ORDER BY q_id, rank"""
  }

  /** E18b's beam dial: the select-neighbors graph MEASURES BETTER only
    * with a wider beam (records/GRAPH_TUNE_r18.txt on the 112-cluster
    * corpus: at beam 8 diversification DISPLACES beam slots — 0.750 vs
    * plain's 0.775 at hops 3, and a 4k candidate pool makes it worse,
    * 0.725 — while at beam 16 the wider frontier exploits the
    * long-range links and breaks the r17 plateau: 0.825 vs plain's
    * 0.800 at ~8% more scan). Neither selection dominates: ann_graph
    * keeps the plain graph at beam 8 (the best recall-per-scan point,
    * the r17-graded identity), ann_graph_div ships the diversified
    * graph at ITS winning dial.
    */
  private[graft] val GRAPH_DIV_BEAM = 16

  val annGraph: Op = Op(
    "ann_graph",
    (s, d) => {
      val n = Tables.embeddings(s, d).count()
      val cells = AnnOps.ivfCellsFor(n)
      AnnOps.logGeometryDivergence("ann_graph", s"$cells cells",
        s"${AnnOps.CENTROIDS} cells")
      val idx = KnnIndex.forCorpus(s, d, cells,
        EmbeddingOps.knnSubGeometry(n, cells), k = GRAPH_DEGREE)
      graphSearch(AnnOps.withNorm(s, d), idx)
    },
    Some(sqlGraphSearch(AnnOps.CENTROIDS, None)))

  /** E18b — graph-ANN over the DIVERSIFIED index (HNSW
    * select-neighbors at build, [[EmbeddingOps.divKnnEdges]]) at its
    * measured regime ([[GRAPH_DIV_BEAM]]): same walk, same probed-cell
    * world, an edge set that trades redundant cluster-mate links for
    * long-range ones.
    */
  val annGraphDiv: Op = Op(
    "ann_graph_div",
    (s, d) => {
      val n = Tables.embeddings(s, d).count()
      val cells = AnnOps.ivfCellsFor(n)
      AnnOps.logGeometryDivergence("ann_graph_div", s"$cells cells",
        s"${AnnOps.CENTROIDS} cells")
      val idx = KnnIndex.forCorpus(s, d, cells,
        EmbeddingOps.knnSubGeometry(n, cells), k = GRAPH_DEGREE,
        div = true)
      graphSearch(AnnOps.withNorm(s, d), idx, beam = GRAPH_DIV_BEAM)
    },
    Some(sqlGraphSearch(AnnOps.CENTROIDS, None, beam = GRAPH_DIV_BEAM,
      div = true)))

  val all: Seq[Op] = Seq(annGraph, annGraphDiv)
}
