package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Caches, Checkpoints, Op, Tables}
import graft.functions.Kernels
import graft.functions.Portable._

/** E18c — the HNSW HIERARCHY (r19, the r18 verdict's ask #1): the
  * graph-ANN family's measured recall ceiling is the centroid probe
  * (GRAPH_TUNE_r18.txt: div@beam16 = 0.825 vs ivf's 1.000 — both
  * E18/E18b enter through the nprobe nearest cells, so a true
  * neighbor in an unprobed cell is unreachable by construction). The
  * published fix is Malkov & Yashunin 2018 §4's multi-layer structure:
  * exponentially sparser upper layers navigated top-down seed the
  * base-layer beam, so entry depends on the DATA (actual near
  * neighbors found by descent), not on a trained quantizer's cell
  * ranking.
  *
  * This build re-expresses the recipe batch-first for Spark:
  *
  *  - '''Deterministic geometric level assignment''' — a vector is a
  *    member of layer ℓ iff `hm · 8^ℓ < P` where
  *    `hm = (vec_id·1000003 + 7919) mod P`, P = 1048573 (prime). The
  *    full-period affine map equidistributes sequential ids, so layer
  *    ℓ holds ≈ n/8^ℓ members (the paper's mL = 1/ln(M) geometric law
  *    at M = 8), membership is NESTED by construction, and — unlike
  *    the paper's RNG draw — the assignment replays in ANSI SQL with
  *    two integer ops (no overflow: hm < 2^20, 8^ℓ ≤ 8^7).
  *  - '''Top layer: exact global k-NN.''' [[levelsFor]] picks L so the
  *    top layer holds ~32–256 members; its degree-[[M_UP]] graph is
  *    exact over ALL member pairs (a blocked equi-join — block-pair
  *    driver table, never a cartesian plan), so one hop from the fixed
  *    entry points reaches any region of the space.
  *  - '''Middle layers: cell-blocked k-NN + bridge edges.''' A middle
  *    layer reuses the occupancy-bounded pair generator
  *    ([[AnnOps.bucketedPairsFromAssigned]]) restricted to its members
  *    — within-cell degree-[[M_UP]] edges at 1/8^ℓ the base cost —
  *    plus one BRIDGE edge per (member, neighboring cell): the
  *    member's nearest layer-mate in each of its cell's [[R_BRIDGE]]
  *    nearest cells (centroid cosine, exact integer dots). Bridges are
  *    the partitioned-build stitch (the DiskANN shard-merge idea,
  *    Subramanya et al. 2019): they restore inter-cell navigability
  *    that cell-blocking removes, at one bounded equi-join — no layer
  *    is ever brute-forced, so the build shape survives any corpus the
  *    base index survives.
  *  - '''Search''': greedy top-down descent ([[hnswSearch]]) — beam
  *    [[EF_UP]] for [[H_UP]] hops per layer from the top layer's two
  *    lowest-id members, the layer-1 result seeding the base-layer
  *    walk. The base layer then runs EXACTLY [[GraphAnnOps.beamWalk]]
  *    over the persisted [[KnnIndex]] edges, with the probed-cell set
  *    = the DISTINCT CELLS OF THE DESCENT'S WINNERS — the hierarchy
  *    replaces the quantizer probe one-for-one, and everything
  *    downstream (partition-pruned member/edge reads, bounded-heap
  *    beam cuts) is the audited E18 machinery.
  *
  * Scale: upper layers total ≤ n/7 extra members across all levels;
  * layer construction is the same bucketed shuffle as the base graph
  * at 1/64th the pair mass (+ the bridge equi-join, ≤ R_BRIDGE rows
  * per member); the descent's frontier is queries × EF_UP rows and
  * scores only layer-1 members (an n/8-sized cached frame). The one
  * driver-side structure is the cell-neighbor table (cells × R_BRIDGE
  * from the already-collected centroid micros — model-sized, like
  * every quantizer consumer). Deterministic end to end (exact-micros
  * cosines, id tie-breaks), so the DuckDB oracle replays level
  * assignment, both layer-edge constructions, the bridge ranking, and
  * every descent hop as unrolled CTEs ([[sqlHnsw]]).
  *
  * Reference provenance: the reference (openedx-event-sink-clickhouse)
  * has no vector search; this extends the brief's similarity-search
  * family (SURVEY.md §2 E) alongside E2/E3/E10/E12/E18.
  */
object HnswOps {

  /** Level-hash modulus (prime) and affine mixing constants — the
    * SQL-replayable stand-in for the paper's uniform draw.
    */
  private[graft] val HNSW_P = 1048573L
  private[graft] val HNSW_MULT = 1000003L
  private[graft] val HNSW_ADD = 7919L

  /** Layer thinning ratio (the paper's M-driven 1/ln(M) law at the
    * base graph's degree).
    */
  private[graft] val HNSW_RATIO = 8

  /** Upper-layer graph degree (= the base graph's [[GraphAnnOps.GRAPH_DEGREE]]). */
  private[graft] val M_UP = GraphAnnOps.GRAPH_DEGREE

  /** Bridge edges per (member, neighboring cell) targets this many
    * nearest cells — the inter-cell stitch for middle layers.
    */
  private[graft] val R_BRIDGE = 4

  /** Descent beam width and hops per upper layer. */
  private[graft] val EF_UP = 8
  private[graft] val H_UP = 3

  /** Base-layer beam (the E18b regime — the hierarchy hands the walk
    * diverse entries, and the wide frontier exploits them).
    */
  private[graft] val HNSW_BEAM = 16

  /** Fixed entry points: the top layer's two lowest-id members (two,
    * so every query keeps an entry when one IS the query).
    */
  private[graft] val HNSW_ENTRIES = 2

  /** Blocked all-pairs block size for the exact top layer. */
  private val TOP_BLOCK = 256

  /** Number of layers above the base: top layer expected size in
    * (32, 256] — L = ⌈log₈(n/256)⌉, min 1.
    */
  private[graft] def levelsFor(n: Long): Int =
    math.max(1, math.ceil(
      math.log(math.max(n, 1).toDouble / 256.0) / math.log(8.0)).toInt)

  /** The layer of a vector id (0..levels), as a column. */
  private[graft] def lvlCol(levels: Int): Column = {
    val hm = pmod(col("vec_id") * lit(HNSW_MULT) + lit(HNSW_ADD),
      lit(HNSW_P))
    // fold LOW level first so the HIGHEST matching level wraps
    // outermost (membership is nested: layer ℓ implies layer ℓ-1)
    (1 to levels).foldLeft(lit(0)) { (els, l) =>
      when(hm * lit(math.pow(8, l).toLong) < lit(HNSW_P), lit(l))
        .otherwise(els)
    }
  }

  /** Exact centroid-centroid cosine ranks from the pinned quantizer
    * micros: each cell's [[R_BRIDGE]] nearest other cells (cos desc,
    * id ties low). Driver-side over the already-collected model
    * (cells² integer dots — the quantizer consumers' size class).
    */
  private[graft] def cellNeighbors(
      micros: Array[Array[Long]]): Seq[(Long, Long)] = {
    val norms = micros.map(v => v.map(m => m * m).sum)
    val ids = micros.indices.map(i => AnnOps.QUERY_MAX + i.toLong)
    micros.indices.flatMap { a =>
      val ranked = micros.indices.filter(_ != a).map { b =>
        var dot = 0L
        var j = 0
        while (j < micros(a).length) {
          dot += micros(a)(j) * micros(b)(j); j += 1
        }
        (Kernels.cos(dot, norms(a), norms(b)), ids(b))
      }.sortBy { case (cos, id) => (-cos, id) }
      ranked.take(R_BRIDGE).map { case (_, cb) => (ids(a), cb) }
    }
  }

  /** All-pairs (i < j, cos) over a SMALL member frame via a block-pair
    * driver table — two broadcast equi-joins, never a cartesian plan
    * (the board-wide cart=0 invariant). `m` is the member count.
    */
  private def blockedAllPairs(members: DataFrame, m: Long): DataFrame = {
    val s = members.sparkSession
    import s.implicits._
    val blocks = math.max(1L, (m + TOP_BLOCK - 1) / TOP_BLOCK)
    val bp = (for { a <- 0L until blocks; b <- a until blocks }
      yield (a, b)).toDF("ba", "bb")
    val withB = members.withColumn("blk", pmod(col("vec_id"), lit(blocks)))
    val a = withB.select(col("blk").as("ba"), col("vec_id").as("i"),
      col("embedding").as("ea"), col("nm").as("na"))
    val b = withB.select(col("blk").as("bb"), col("vec_id").as("j"),
      col("embedding").as("eb"), col("nm").as("nb"))
    a.join(broadcast(bp), "ba")
      .join(b, "bb")
      .filter(col("i") < col("j"))
      .select(col("i"), col("j"),
        cosineFromMicros(dotMicros(col("ea"), col("eb")),
          col("na"), col("nb")).as("cos"))
  }

  /** Build the hierarchy's edge frame (lvl, vec_id, nbr_id) over an
    * assigned member store: exact global k-NN at the top layer,
    * cell-blocked k-NN + bridges at middle layers.
    */
  private[graft] def hierEdges(
      vectors: DataFrame,
      micros: Array[Array[Long]],
      levels: Int): DataFrame = {
    val s = vectors.sparkSession
    import s.implicits._
    val withLvl = Caches.persist(
      vectors.withColumn("lvl", lvlCol(levels)))
    val cnn = cellNeighbors(micros).toDF("ca", "cb")
    val layers = (1 to levels).map { l =>
      val mem = Caches.persist(withLvl.filter(col("lvl") >= l)
        .select(col("vec_id"), col("embedding"), col("nm"), col("cell")))
      val knn =
        if (l == levels)
          EmbeddingOps.knnEdges(blockedAllPairs(mem, mem.count()), M_UP)
        else
          EmbeddingOps.knnEdges(
            AnnOps.bucketedPairsFromAssigned(mem, None), M_UP)
      val edges =
        if (l == levels) knn.select(col("vec_id"), col("nbr_id"))
        else {
          val a = mem.select(col("vec_id"), col("embedding").as("ea"),
            col("nm").as("na"), col("cell").as("ca"))
          val b = mem.select(col("vec_id").as("nbr_id"),
            col("embedding").as("eb"), col("nm").as("nb"),
            col("cell").as("cb"))
          val bridges = a.join(broadcast(cnn), "ca")
            .join(b, "cb")
            .select(col("vec_id"), col("cb"), col("nbr_id"),
              cosineFromMicros(dotMicros(col("ea"), col("eb")),
                col("na"), col("nb")).as("cos"))
            .groupBy(col("vec_id"), col("cb"))
            .agg(topkMin(struct((-col("cos")).as("negcos"),
              col("nbr_id")), 1).as("ks"))
            .select(col("vec_id"),
              element_at(col("ks"), 1)("nbr_id").as("nbr_id"))
          knn.select(col("vec_id"), col("nbr_id")).unionByName(bridges)
        }
      edges.select(lit(l).as("lvl"), col("vec_id"), col("nbr_id"))
    }
    layers.reduce(_ unionByName _)
  }

  // ---- persisted hierarchy (build-once per corpus, the E19 pattern) ----

  private val memo = new Artifact.Memo[String]

  /** The corpus' hierarchy edges over its base [[KnnIndex]], built and
    * written AT MOST ONCE per (corpus, geometry) per session — the
    * frame is ≤ n/7 × (M_UP + R_BRIDGE) rows, so the artifact is a
    * small parquet read on every warm query. `n` is the corpus size.
    */
  private[graft] def hierFor(
      s: SparkSession, d: String, idx: KnnIndex.Index, n: Long): DataFrame = {
    val levels = levelsFor(n)
    val key = s"${CorpusKey.key(d, "embeddings.parquet")}#hnsw" +
      s"#c${idx.cells}#l$levels#m$M_UP#r$R_BRIDGE"
    val path = memo(key) {
      val p = Artifact.scratchDir("graft_hnsw") + "/hier"
      hierEdges(idx.vectors, idx.micros, levels)
        .write.mode("overwrite").parquet(p)
      p
    }
    s.read.parquet(path)
  }

  /** Greedy top-down descent + base-layer beam walk. Upper layers
    * score against the cached layer-1 member frame (every upper-layer
    * node is a layer-1 member by nesting); the base walk's world is
    * the DESCENT WINNERS' cells — partition-pruned artifact reads,
    * exactly [[GraphAnnOps.graphSearchImpl]]'s shape with the
    * hierarchy standing in for the quantizer probe. `n` is the corpus
    * size (the rows of `idx.vectors`).
    */
  private[graft] def hnswSearch(
      e: DataFrame,
      idx: KnnIndex.Index,
      hier: DataFrame,
      n: Long,
      beam: Int = HNSW_BEAM,
      hops: Int = GraphAnnOps.GRAPH_HOPS,
      topK: Int = GraphAnnOps.GRAPH_TOP_K): (DataFrame, DataFrame) = {
    val s = e.sparkSession
    val levels = levelsFor(n)
    val queries = e.filter(col("vec_id") < AnnOps.QUERY_MAX)
    val qF = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"), col("nm").as("q_nm"))
    // r20 — size-adaptive engine chooser (the beamWalk/LocalWalk
    // doctrine): the descent is levels × H_UP synchronous hop rounds
    // whose frontiers are ≤ queries × EF_UP rows — at gate scale the
    // round latency IS the query (~2.4 s warm, the r19 board's most
    // expensive). Below the threshold the
    // hierarchy, the upper world and the walk run driver-local with
    // bit-identical kernels; parity is pinned local≡distributed in
    // HnswSpec and the sf1 GeometryCheck replay. Above it, the
    // distributed loop below is unchanged.
    if (LocalWalk.localMax(s) > 0 && n <= LocalWalk.localMax(s)) {
      return hnswSearchLocal(s, idx, hier, qF, levels, beam, hops, topK)
    }
    // the upper world: layer-1+ members (n/8), cached once — both
    // frames pre-partitioned on vec_id, their join key in every
    // descent hop (r19, the beamWalk shared-exchange rule)
    val upper = Caches.persist(idx.vectors
      .filter(lvlCol(levels) >= 1)
      .select(col("vec_id"), col("embedding"), col("nm"), col("cell"))
      .repartition(col("vec_id")))
    val hierE = Caches.persist(hier.repartition(col("vec_id")))
    def score(cand: DataFrame): DataFrame =
      cand.join(upper.select(col("vec_id"), col("embedding"), col("nm")),
          "vec_id")
        .join(broadcast(qF), "q_id")
        .select(col("q_id"), col("vec_id"),
          cosineFromMicros(dotMicros(col("q_emb"), col("embedding")),
            col("q_nm"), col("nm")).as("cos"))
    def cut(scored: DataFrame): DataFrame =
      scored.groupBy(col("q_id"))
        .agg(topkMin(struct((-col("cos")).as("negc"), col("vec_id")),
          EF_UP).as("ks"))
        .select(col("q_id"), explode(col("ks")).as("kv"))
        .select(col("q_id"), col("kv.vec_id").as("vec_id"),
          (-col("kv.negc")).as("cos"))
    // entry: the top layer's HNSW_ENTRIES lowest-id members
    val entries = upper.filter(lvlCol(levels) >= levels)
      .select(col("vec_id")).orderBy(col("vec_id"))
      .limit(HNSW_ENTRIES)
      .collect().map(_.getLong(0)).toSeq
    val cand0 = queries
      .select(col("vec_id").as("q_id"),
        explode(typedLit(entries)).as("vec_id"))
      .filter(col("vec_id") =!= col("q_id"))
    var scanned = cand0
    var frontier = Caches.persist(cut(score(cand0)))
    (levels to 1 by -1).foreach { l =>
      val edgesL = hierE.filter(col("lvl") === l)
        .select(col("vec_id"), col("nbr_id"))
      (1 to H_UP).foreach { _ =>
        // same per-hop Exchange diet as [[GraphAnnOps.beamWalk]] (r19):
        // no distinct (the merge aggregate dedups identically), one
        // q_id repartition shared by both downstream aggregates
        val nbrs = frontier.join(edgesL, "vec_id")
          .filter(col("nbr_id") =!= col("q_id"))
          .select(col("q_id"), col("nbr_id").as("vec_id"))
        scanned = scanned.unionByName(nbrs)
        val merged = frontier.unionByName(score(nbrs))
          .repartition(col("q_id"))
          .groupBy(col("q_id"), col("vec_id"))
          .agg(max(col("cos")).as("cos"))
        frontier = Caches.persist(cut(merged))
      }
      // each hop's merge references the frontier twice, so the logical
      // plan doubles per hop; truncate per LAYER (the G13 iteration
      // discipline) or analysis cost compounds across the descent and
      // the base walk re-pays it 2^hops more times — measured 19 s vs
      // 1.8 s at the gate corpus before truncation
      frontier = Checkpoints.checkpoint(frontier)
    }
    // base layer: the descent winners' cells ARE the probe
    val entryCells = Caches.persist(frontier
      .join(idx.vectors.select(col("vec_id"), col("cell")), "vec_id"))
    val probed = entryCells.select(col("cell")).distinct()
      .collect().map(_.getAs[Long]("cell")).toSeq
    val members = Caches.persist(idx.vectors
      .filter(col("cell").isin(probed: _*))
      .select(col("vec_id"), col("embedding"), col("nm")))
    val edges = Caches.persist(idx.edges
      .filter(col("cell").isin(probed: _*))
      .select(col("vec_id"), col("nbr_id")))
    val (result, walkScanned) = GraphAnnOps.beamWalk(
      members, edges, qF,
      frontier.select(col("q_id"), col("vec_id")), beam, hops, topK)
    (result, scanned.unionByName(walkScanned).distinct())
  }

  /** The layer of a vector id, driver-local — exactly [[lvlCol]]'s
    * arithmetic (Long wrap-around multiply, pmod, highest matching
    * level; membership is nested so ascending assignment lands on the
    * same value the fold's outermost-when picks).
    */
  private[graft] def lvlLocal(id: Long, levels: Int): Int = {
    val m = id * HNSW_MULT + HNSW_ADD
    val hm = ((m % HNSW_P) + HNSW_P) % HNSW_P
    var lvl = 0
    var l = 1
    while (l <= levels) {
      if (hm * math.pow(8, l).toLong < HNSW_P) lvl = l
      l += 1
    }
    lvl
  }

  /** [[hnswSearch]]'s driver-local twin (r20): same entries, same
    * per-layer H_UP hop/cut rounds over the upper world, same
    * probed-cell base walk — every cosine, beam cut and tie-break via
    * [[LocalWalk]]'s bit-identical kernels. The base member/edge reads
    * stay partition-pruned Spark scans (collected, they are the same
    * rows the distributed walk caches).
    */
  private def hnswSearchLocal(
      s: org.apache.spark.sql.SparkSession,
      idx: KnnIndex.Index,
      hier: DataFrame,
      qF: DataFrame,
      levels: Int,
      beam: Int,
      hops: Int,
      topK: Int): (DataFrame, DataFrame) = {
    import scala.collection.mutable
    val (vecs, cells) = LocalWalk.collectVectorsWithCell(idx.vectors)
    val queries = LocalWalk.collectQueries(qF)
    // the upper world: layer-1+ members; entries: the top layer's
    // HNSW_ENTRIES lowest-id members
    val upper = mutable.LongMap.empty[LocalWalk.V]
    vecs.foreach { case (id, v) =>
      if (lvlLocal(id, levels) >= 1) upper(id) = v
    }
    val entries = upper.keys.toSeq
      .filter(lvlLocal(_, levels) >= levels).sorted.take(HNSW_ENTRIES)
    val cand0 = for {
      q <- queries.keys.toSeq.sorted
      v <- entries if v != q
    } yield (q, v)
    val scanned = mutable.LinkedHashSet.empty[(Long, Long)]
    scanned ++= cand0
    var frontier = mutable.LongMap.empty[Vector[(Long, Double)]]
    LocalWalk.score(cand0, upper, queries).foreach { case (q, m) =>
      frontier(q) = LocalWalk.cut(m, EF_UP)
    }
    // per-layer edge maps from the hierarchy artifact (≤ n/7 ×
    // (M_UP + R_BRIDGE) rows — one small collect)
    val hierRows = hier
      .select(col("lvl"), col("vec_id"), col("nbr_id")).collect()
    val perLvl = mutable.Map.empty[Int, mutable.LongMap[mutable.ArrayBuffer[Long]]]
    hierRows.foreach { r =>
      perLvl.getOrElseUpdate(r.getInt(0),
          mutable.LongMap.empty[mutable.ArrayBuffer[Long]])
        .getOrElseUpdate(r.getLong(1), mutable.ArrayBuffer.empty[Long]) +=
        r.getLong(2)
    }
    (levels to 1 by -1).foreach { l =>
      val edgesL = mutable.LongMap.empty[Array[Long]]
      perLvl.get(l).foreach(_.foreach { case (k, v) => edgesL(k) = v.toArray })
      (1 to H_UP).foreach { _ =>
        frontier =
          LocalWalk.hop(frontier, edgesL, upper, queries, EF_UP, scanned)
      }
    }
    // base layer: the descent winners' cells ARE the probe —
    // partition-pruned member/edge reads, then the beam walk
    val probed = frontier.values.flatMap(_.map(_._1)).map(cells(_)).toSet
    val membersB = mutable.LongMap.empty[LocalWalk.V]
    vecs.foreach { case (id, v) =>
      if (probed.contains(cells(id))) membersB(id) = v
    }
    val edgesB = LocalWalk.collectEdges(idx.edges
      .filter(col("cell").isin(probed.toSeq: _*))
      .select(col("vec_id"), col("nbr_id")))
    val frontierPairs = frontier.toSeq.sortBy(_._1).flatMap { case (q, vs) =>
      vs.map { case (v, _) => (q, v) }
    }
    val (walked, walkScanned) = LocalWalk.walk(
      membersB, edgesB, queries, frontierPairs, beam, hops)
    scanned ++= walkScanned
    (LocalWalk.resultDf(s, LocalWalk.ranked(walked, topK)),
      LocalWalk.scannedDf(s, scanned).distinct())
  }

  /** The unrolled DuckDB oracle: shared quantizer/assignment CTEs, the
    * base edge chain, level assignment, per-layer edge CTEs (global
    * top, cell-blocked + bridged middles), the descent hops, then the
    * base hops — all geometry-parameterized for
    * [[graft.GeometryCheck]].
    */
  private[graft] def sqlHnsw(
      cells: Int,
      sub: Option[AnnOps.LshGeometry],
      levels: Int,
      beam: Int = HNSW_BEAM,
      hops: Int = GraphAnnOps.GRAPH_HOPS,
      topK: Int = GraphAnnOps.GRAPH_TOP_K): String = {
    val cos = AnnOps.sqlCos("q", "v")
    val pairCos = AnnOps.sqlCos("x", "y")
    val r = AnnOps.IVF_ROUNDS
    // per-layer member CTEs from the level hash
    val layerCtes = (1 to levels).map { l =>
      s"""lm$l AS MATERIALIZED (
        SELECT vec_id, cell FROM m
        WHERE ((vec_id * $HNSW_MULT + $HNSW_ADD) % $HNSW_P) *
          ${math.pow(8, l).toLong} < $HNSW_P)"""
    }.mkString(",\n      ")
    // edge CTEs: top layer global, middles cell-blocked + bridges
    val edgeCtes = (1 to levels).map { l =>
      val within =
        if (l == levels)
          s"""wp$l AS MATERIALIZED (SELECT a.vec_id AS i, b.vec_id AS j, $pairCos AS cos
             FROM lm$l a JOIN lm$l b ON a.vec_id < b.vec_id
             JOIN ee x ON x.vec_id = a.vec_id
             JOIN ee y ON y.vec_id = b.vec_id)"""
        else
          s"""wp$l AS MATERIALIZED (SELECT a.vec_id AS i, b.vec_id AS j, $pairCos AS cos
             FROM lm$l a JOIN lm$l b
               ON a.cell = b.cell AND a.vec_id < b.vec_id
             JOIN ee x ON x.vec_id = a.vec_id
             JOIN ee y ON y.vec_id = b.vec_id)"""
      val ranked = s"""we$l AS MATERIALIZED (
        SELECT src, nbr FROM (
          SELECT src, nbr,
                 row_number() OVER (PARTITION BY src
                   ORDER BY cos DESC, nbr) AS rn
          FROM (SELECT i AS src, j AS nbr, cos FROM wp$l
                UNION ALL SELECT j, i, cos FROM wp$l) d) t
        WHERE rn <= $M_UP)"""
      val bridge =
        if (l == levels) ""
        else s""",
      br$l AS MATERIALIZED (
        SELECT src, nbr FROM (
          SELECT a.vec_id AS src, b.vec_id AS nbr, cnn.cb,
                 row_number() OVER (PARTITION BY a.vec_id, cnn.cb
                   ORDER BY $pairCos DESC, b.vec_id) AS rn
          FROM lm$l a
          JOIN cnn ON cnn.ca = a.cell
          JOIN lm$l b ON b.cell = cnn.cb
          JOIN ee x ON x.vec_id = a.vec_id
          JOIN ee y ON y.vec_id = b.vec_id) t
        WHERE rn = 1)"""
      val union =
        if (l == levels) s"lg$l AS MATERIALIZED (SELECT src, nbr FROM we$l)"
        else s"""lg$l AS MATERIALIZED (SELECT src, nbr FROM we$l
             UNION ALL SELECT src, nbr FROM br$l)"""
      s"$within,\n      $ranked$bridge,\n      $union"
    }.mkString(",\n      ")
    // descent hops: f{l}_{h} frontiers, layer l entered from above
    val descent = (levels to 1 by -1).map { l =>
      val f0 =
        if (l == levels)
          s"""f${l}_0 AS MATERIALIZED (
        SELECT q_id, vec_id, cos FROM (
          SELECT u.q_id, t.vec_id, $cos AS cos,
                 row_number() OVER (PARTITION BY u.q_id
                   ORDER BY $cos DESC, t.vec_id) AS rn
          FROM (SELECT vec_id AS q_id FROM ee
                WHERE vec_id < ${AnnOps.QUERY_MAX}) u
          CROSS JOIN (SELECT vec_id FROM lm$levels
                      ORDER BY vec_id LIMIT $HNSW_ENTRIES) t
          JOIN ee v ON v.vec_id = t.vec_id
          JOIN ee q ON q.vec_id = u.q_id
          WHERE t.vec_id != u.q_id) s
        WHERE rn <= $EF_UP)"""
        else s"""f${l}_0 AS MATERIALIZED (SELECT q_id, vec_id, cos FROM f${l + 1}_$H_UP)"""
      val hopsSql = (1 to H_UP).map { h =>
        s"""un${l}_$h AS (SELECT DISTINCT f.q_id, g.nbr AS vec_id
             FROM f${l}_${h - 1} f JOIN lg$l g ON g.src = f.vec_id
             WHERE g.nbr != f.q_id),
      us${l}_$h AS (SELECT n.q_id, n.vec_id, $cos AS cos
             FROM un${l}_$h n
             JOIN ee v ON v.vec_id = n.vec_id
             JOIN ee q ON q.vec_id = n.q_id),
      um${l}_$h AS (SELECT q_id, vec_id, max(cos) AS cos
             FROM (SELECT q_id, vec_id, cos FROM f${l}_${h - 1}
                   UNION ALL SELECT q_id, vec_id, cos FROM us${l}_$h) u
             GROUP BY q_id, vec_id),
      f${l}_$h AS MATERIALIZED (SELECT q_id, vec_id, cos FROM (
               SELECT q_id, vec_id, cos,
                      row_number() OVER (PARTITION BY q_id
                        ORDER BY cos DESC, vec_id) AS rn
               FROM um${l}_$h) t WHERE rn <= $EF_UP)"""
      }.mkString(",\n      ")
      s"$f0,\n      $hopsSql"
    }.mkString(",\n      ")
    // base-layer hops over the persisted edge chain (kedge)
    val baseHops = (1 to hops).map { i =>
      s"""nb$i AS (SELECT DISTINCT h.q_id, k.nbr AS vec_id
             FROM h${i - 1} h JOIN kedge k ON k.src = h.vec_id
             WHERE k.nbr != h.q_id),
      sc$i AS (SELECT n.q_id, n.vec_id, $cos AS cos
             FROM nb$i n
             JOIN ee v ON v.vec_id = n.vec_id
             JOIN ee q ON q.vec_id = n.q_id),
      mg$i AS (SELECT q_id, vec_id, max(cos) AS cos
             FROM (SELECT q_id, vec_id, cos FROM h${i - 1}
                   UNION ALL SELECT q_id, vec_id, cos FROM sc$i) u
             GROUP BY q_id, vec_id),
      h$i AS MATERIALIZED (SELECT q_id, vec_id, cos FROM (
               SELECT q_id, vec_id, cos,
                      row_number() OVER (PARTITION BY q_id
                        ORDER BY cos DESC, vec_id) AS rn
               FROM mg$i) t WHERE rn <= $beam)"""
    }.mkString(",\n      ")
    s"""
      WITH ${AnnOps.sqlNormCte},
      ${AnnOps.sqlIvfTrainCtes(cells, r)},
      iscg AS MATERIALIZED (
        SELECT q.vec_id, c.c_id,
               CAST(sum(q.qv * c.cm) AS DOUBLE) /
                 (sqrt(CAST(e.nm AS DOUBLE)) * sqrt(CAST(n.ncm AS DOUBLE)))
                 AS ccos
        FROM qr q
        JOIN icm$r c USING (j)
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
      ee AS MATERIALIZED (SELECT vec_id, embedding, nm FROM e),
      ${EmbeddingOps.sqlKnnEdgeCtes(sub, GraphAnnOps.GRAPH_DEGREE)},
      cnn AS MATERIALIZED (
        SELECT ca, cb FROM (
          SELECT a.c_id AS ca, b.c_id AS cb,
                 row_number() OVER (PARTITION BY a.c_id ORDER BY
                   CAST(sum(a.cm * b.cm) AS DOUBLE) /
                     (sqrt(CAST(na.ncm AS DOUBLE)) *
                      sqrt(CAST(nb.ncm AS DOUBLE))) DESC, b.c_id) AS rn
          FROM icm$r a
          JOIN icm$r b ON a.j = b.j AND a.c_id != b.c_id
          JOIN inmF na ON na.c_id = a.c_id
          JOIN inmF nb ON nb.c_id = b.c_id
          GROUP BY a.c_id, b.c_id, na.ncm, nb.ncm) t
        WHERE rn <= $R_BRIDGE),
      $layerCtes,
      $edgeCtes,
      $descent,
      h0 AS MATERIALIZED (SELECT q_id, vec_id, cos FROM f1_$H_UP),
      $baseHops
      SELECT q_id, rank, vec_id, cos FROM (
        SELECT q_id, vec_id, cos,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
        FROM h$hops) f
      WHERE rank <= $topK
      ORDER BY q_id, rank"""
  }

  /** Levels at the gate corpus (n = 500 → one global top layer). */
  private[graft] val GATE_LEVELS = 1

  /** E18c board op: gate geometry (16 cells, level count from the gate
    * corpus) in the static oracle; the engine derives both from the
    * corpus and logs divergence like every E-family op.
    */
  val annHnsw: Op = Op(
    "ann_hnsw",
    (s, d) => {
      val n = Tables.embeddings(s, d).count()
      val cells = AnnOps.ivfCellsFor(n)
      AnnOps.logGeometryDivergence("ann_hnsw",
        s"$cells cells, ${levelsFor(n)} levels",
        s"${AnnOps.CENTROIDS} cells, $GATE_LEVELS levels")
      val idx = KnnIndex.forCorpus(s, d, cells,
        EmbeddingOps.knnSubGeometry(n, cells),
        k = GraphAnnOps.GRAPH_DEGREE)
      hnswSearch(AnnOps.withNorm(s, d), idx, hierFor(s, d, idx, n), n)._1
    },
    Some(sqlHnsw(AnnOps.CENTROIDS, None, GATE_LEVELS)))

  val all: Seq[Op] = Seq(annHnsw)
}
