package graft

/** Above-gate-scale oracle check for the geometry-scaled queries.
  *
  * `ann_lsh`, `ann_ivf` and `dedup_embedding` size their geometry from
  * the corpus row count ([[operators.AnnOps.LshGeometry.forCorpus]] /
  * [[operators.AnnOps.ivfCellsFor]]), which equals the board default at
  * every oracle-checked SF — but ABOVE gate scale the engine
  * deliberately buckets finer than the static oracle SQL, so a raw
  * compare there reports a by-design difference, not a bug. This main
  * dumps those queries WITH MATCHING ORACLES for tools/compare.py:
  * ann_lsh/ann_ivf re-run pinned to the oracle's default geometry
  * (proving parity whenever geometries coincide — the r9 sf1 record:
  * CORRECTNESS_sf1_r09.txt); dedup_embedding instead runs at its
  * corpus-derived geometry with the oracle REGENERATED at that same
  * geometry (r12: DedupOps.sqlEmbeddingPairs is geometry-parameterized),
  * so above PAIR_DEFAULT_MAX the record proves parity at the geometry
  * the engine actually deploys — default-pinning it there would hit the
  * very occupancy blowup the corpus dial exists to prevent.
  *
  * Usage: runMain graft.GeometryCheck <sfDir> <outDir> [keys], then
  * point tools/compare.py at outDir (it carries the matching
  * oracle_sql.json). `keys` is an optional comma-separated subset of
  * the Known set below — pinned geometry makes the
  * buckets coarser than the corpus dial wants, so the three queries'
  * costs diverge sharply above gate scale and running them separately
  * keeps each record cheap to (re)produce.
  */
object GeometryCheck {
  /** E14's check geometry — corpus-derived, or forced via
    * SPARK_GRAFT_KNN_GEOM=cells,tables,planes (both the engine run and
    * the dumped oracle honor it, so the record stays self-consistent).
    */
  private def knnGeom(
      n: Long): (Int, Option[operators.AnnOps.LshGeometry]) =
    sys.env.get("SPARK_GRAFT_KNN_GEOM") match {
      case Some(s) =>
        val Array(c, t, p) = s.split(",").map(_.trim.toInt)
        (c, Some(operators.AnnOps.LshGeometry(t, p)))
      case None =>
        val c = operators.AnnOps.ivfCellsFor(n)
        (c, operators.EmbeddingOps.knnSubGeometry(n, c))
    }

  private val Known =
    Set("ann_lsh", "dedup_embedding", "ann_ivf", "dedup_semantic",
      "ann_pq", "mm_phash_dedup", "ann_ivfpq", "emb_knn_graph",
      "sample_prototypes", "doc_pack_semantic", "ann_filtered",
      "emb_bitext_mine", "ann_graph", "ann_graph_div", "ann_hnsw")

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val keys: Set[String] =
      if (args.length > 2)
        args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet
      else Known
    // An unknown or empty key set would run nothing and dump an empty
    // oracle_sql.json — which compare.py reports as "0 ok, 0 fail" with
    // exit 0, a silently-passing record. Refuse before starting Spark.
    val unknown = keys -- Known
    require(unknown.isEmpty,
      s"unknown keys ${unknown.mkString(", ")}; valid: ${Known.mkString(", ")}")
    require(keys.nonEmpty, s"empty key set; valid: ${Known.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val g = operators.AnnOps.LshGeometry.default
    if (keys("ann_lsh")) {
      operators.AnnOps.lshTopK(spark, sfDir, g)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/ann_lsh")
      Caches.releaseScope()
    }
    if (keys("dedup_embedding")) {
      // D5 checks at the CORPUS-derived geometry, not the pinned
      // default: its oracle generator is geometry-parameterized
      // (DedupOps.sqlEmbeddingPairs), so above PAIR_DEFAULT_MAX the
      // record proves parity at the geometry the engine actually runs —
      // and pinning default there would anyway be the exact occupancy
      // blowup (~n²/buckets in-task pairs) the corpus dial exists to
      // prevent (measured: OOM at sf10's 200k vectors).
      val gp = operators.AnnOps.LshGeometry.forCorpusPairs(
        Tables.embeddings(spark, sfDir).count())
      operators.DedupOps.embeddingPairsAt(spark, sfDir, gp)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/dedup_embedding")
      Caches.releaseScope()
    }
    if (keys("ann_ivf")) {
      operators.AnnOps.ivfTopK(spark, sfDir) // default = the pinned 16 cells
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/ann_ivf")
      Caches.releaseScope()
    }
    if (keys("mm_phash_dedup")) {
      // F6 checks at the CORPUS band geometry like D5/D11: the oracle
      // regenerates at the same (bands, width), a pure function of
      // sfDir's document count
      val (bands, width) = operators.MultimodalOps.phashGeometryFor(
        Tables.documents(spark, sfDir).count())
      operators.MultimodalOps.phashPairsAt(spark, sfDir, bands, width)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/mm_phash_dedup")
      Caches.releaseScope()
    }
    if (keys("ann_pq")) {
      // E10 re-runs PINNED to the oracle's default dials (k=32, R=64) —
      // the ann_lsh pattern: above the default region the engine runs
      // 8-bit codes + a widened shortlist, whose recall the scale bench
      // records; parity is proven wherever the geometries coincide.
      operators.AnnOps.pqTopK(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/ann_pq")
      Caches.releaseScope()
    }
    if (keys("ann_ivfpq")) {
      // E12 re-runs PINNED to the oracle's default dials (16 cells,
      // k=32, R=64, nprobe=4) — the ann_pq pattern: above the default
      // region the engine runs the corpus-derived cell count and 8-bit
      // codes, whose recall the scale bench records; parity is proven
      // wherever the geometries coincide.
      operators.AnnOps.ivfPqTopK(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/ann_ivfpq")
      Caches.releaseScope()
    }
    if (keys("emb_knn_graph")) {
      // E14 checks at the CORPUS geometry like D11 (they share the
      // cell-blocked candidate generator): cells and sub-planes derive
      // from the row count, and sqlKnnAt regenerates the oracle at that
      // exact geometry. SPARK_GRAFT_KNN_GEOM=cells,tables,planes forces
      // an explicit geometry instead — the cheap way to exercise the
      // sub-bucketed pair path (and its oracle text) at a small SF,
      // where the corpus dial would never engage it.
      val (cells, sub) = knnGeom(Tables.embeddings(spark, sfDir).count())
      operators.EmbeddingOps.knnAt(spark, sfDir, cells, sub)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/emb_knn_graph")
      Caches.releaseScope()
    }
    if (keys("ann_graph")) {
      // E18 checks at the CORPUS geometry like E14 (beam search walks
      // E14's cell-blocked graph at GRAPH_DEGREE); sqlGraphSearch
      // regenerates the matching oracle below.
      val (cells, sub) = knnGeom(Tables.embeddings(spark, sfDir).count())
      val idx = operators.KnnIndex.forCorpus(spark, sfDir, cells, sub,
        k = operators.GraphAnnOps.GRAPH_DEGREE)
      operators.GraphAnnOps
        .graphSearch(operators.AnnOps.withNorm(spark, sfDir), idx)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/ann_graph")
      Caches.releaseScope()
    }
    if (keys("ann_graph_div")) {
      // E18b at the corpus geometry: the DIVERSIFIED index walked at
      // its measured beam dial; the div oracle chain regenerates below.
      val (cells, sub) = knnGeom(Tables.embeddings(spark, sfDir).count())
      val idx = operators.KnnIndex.forCorpus(spark, sfDir, cells, sub,
        k = operators.GraphAnnOps.GRAPH_DEGREE, div = true)
      operators.GraphAnnOps
        .graphSearch(operators.AnnOps.withNorm(spark, sfDir), idx,
          beam = operators.GraphAnnOps.GRAPH_DIV_BEAM)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/ann_graph_div")
      Caches.releaseScope()
    }
    if (keys("ann_hnsw")) {
      // E18c at the corpus geometry AND corpus level count: the
      // hierarchy-seeded walk; sqlHnsw regenerates the full layered
      // oracle (level hash, top-layer exact k-NN, bridges, descent)
      // at the same dials below.
      val n = Tables.embeddings(spark, sfDir).count()
      val (cells, sub) = knnGeom(n)
      val idx = operators.KnnIndex.forCorpus(spark, sfDir, cells, sub,
        k = operators.GraphAnnOps.GRAPH_DEGREE)
      operators.HnswOps.hnswSearch(
        operators.AnnOps.withNorm(spark, sfDir), idx,
        operators.HnswOps.hierFor(spark, sfDir, idx, n), n)._1
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/ann_hnsw")
      Caches.releaseScope()
    }
    if (keys("sample_prototypes")) {
      // G25 checks at the CORPUS cell count; sqlPrototypesAt regenerates
      // the matching oracle (pure function of sfDir's row count).
      val cells = operators.AnnOps.ivfCellsFor(
        Tables.embeddings(spark, sfDir).count())
      operators.PipelineOps.prototypesAt(spark, sfDir, cells)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/sample_prototypes")
      Caches.releaseScope()
    }
    if (keys("doc_pack_semantic")) {
      // G26 checks at the CORPUS cell count, same pattern.
      val cells = operators.AnnOps.ivfCellsFor(
        Tables.embeddings(spark, sfDir).count())
      operators.PipelineOps.packSemanticAt(spark, sfDir, cells)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/doc_pack_semantic")
      Caches.releaseScope()
    }
    if (keys("ann_filtered")) {
      // E17 checks at the CORPUS geometry (cells AND the
      // selectivity-widened nprobe — both pure functions of sfDir);
      // sqlAnnFilteredAt regenerates the matching oracle below.
      val n = Tables.embeddings(spark, sfDir).count()
      val cells = operators.AnnOps.ivfCellsFor(n)
      val nKept = Tables.embeddings(spark, sfDir)
        .filter(org.apache.spark.sql.functions.col("label") <
          operators.AnnOps.FILTER_LABEL_LT).count()
      val np = operators.AnnOps.filteredNprobeFor(n, nKept, cells)
      operators.AnnOps.annFilteredAt(spark, sfDir, cells, np)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/ann_filtered")
      Caches.releaseScope()
    }
    if (keys("emb_bitext_mine")) {
      // E17 checks at the CORPUS geometry (E14's cells + occupancy
      // dial — the shared knnGeom seam, forceable via
      // SPARK_GRAFT_KNN_GEOM); sqlMineAt regenerates the oracle below.
      val (cells, sub) = knnGeom(Tables.embeddings(spark, sfDir).count())
      operators.BitextOps.mineAt(spark, sfDir, cells, sub)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/emb_bitext_mine")
      Caches.releaseScope()
    }
    if (keys("dedup_semantic")) {
      // D11 checks at the CORPUS geometry like D5: cells AND sub-planes
      // derive from the row count, and sqlSemanticAt regenerates the
      // oracle at that exact geometry (below: pure function of sfDir).
      val n = Tables.embeddings(spark, sfDir).count()
      val cells = operators.AnnOps.ivfCellsFor(n)
      operators.DedupOps.semanticAt(spark, sfDir, cells,
        operators.DedupOps.semSubGeometry(n, cells))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/dedup_semantic")
      Caches.releaseScope()
    }
    // A subset re-run into an outDir holding earlier dumps must not
    // shrink oracle_sql.json to just the latest subset (compare.py would
    // silently skip the parquet already on disk). The dumps themselves
    // are the durable record of what ran here: include every known key
    // whose dump directory exists.
    val dumped = Known.filter(k => new java.io.File(s"$outDir/$k").isDirectory)
    // dedup_embedding's dump is at the corpus geometry (above): its
    // oracle entry must be regenerated at the same geometry whenever the
    // dump exists — including merge re-runs where the key wasn't in THIS
    // subset (the geometry is a pure function of sfDir, so this is
    // stale-proof; at gate SFs it equals the static board oracle).
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => dumped(k) } ++
      (if (dumped("dedup_embedding"))
        Map("dedup_embedding" -> operators.DedupOps.sqlEmbeddingPairs(
          operators.AnnOps.LshGeometry.forCorpusPairs(
            Tables.embeddings(spark, sfDir).count())))
      else Map.empty) ++
      (if (dumped("dedup_semantic")) {
        val n = Tables.embeddings(spark, sfDir).count()
        val cells = operators.AnnOps.ivfCellsFor(n)
        Map("dedup_semantic" -> operators.DedupOps.sqlSemanticAt(cells,
          operators.DedupOps.semSubGeometry(n, cells)))
      } else Map.empty) ++
      (if (dumped("emb_knn_graph")) {
        val (cells, sub) = knnGeom(Tables.embeddings(spark, sfDir).count())
        Map("emb_knn_graph" -> operators.EmbeddingOps.sqlKnnAt(cells, sub))
      } else Map.empty) ++
      (if (dumped("sample_prototypes")) {
        val cells = operators.AnnOps.ivfCellsFor(
          Tables.embeddings(spark, sfDir).count())
        Map("sample_prototypes" ->
          operators.PipelineOps.sqlPrototypesAt(cells))
      } else Map.empty) ++
      (if (dumped("doc_pack_semantic")) {
        val cells = operators.AnnOps.ivfCellsFor(
          Tables.embeddings(spark, sfDir).count())
        Map("doc_pack_semantic" ->
          operators.PipelineOps.sqlPackSemanticAt(cells))
      } else Map.empty) ++
      (if (dumped("ann_filtered")) {
        val n = Tables.embeddings(spark, sfDir).count()
        val cells = operators.AnnOps.ivfCellsFor(n)
        val nKept = Tables.embeddings(spark, sfDir)
          .filter(org.apache.spark.sql.functions.col("label") <
            operators.AnnOps.FILTER_LABEL_LT).count()
        Map("ann_filtered" -> operators.AnnOps.sqlAnnFilteredAt(cells,
          operators.AnnOps.filteredNprobeFor(n, nKept, cells)))
      } else Map.empty) ++
      (if (dumped("ann_graph")) {
        val (cells, sub) = knnGeom(Tables.embeddings(spark, sfDir).count())
        Map("ann_graph" -> operators.GraphAnnOps.sqlGraphSearch(cells, sub))
      } else Map.empty) ++
      (if (dumped("ann_graph_div")) {
        val (cells, sub) = knnGeom(Tables.embeddings(spark, sfDir).count())
        Map("ann_graph_div" -> operators.GraphAnnOps.sqlGraphSearch(
          cells, sub, beam = operators.GraphAnnOps.GRAPH_DIV_BEAM,
          div = true))
      } else Map.empty) ++
      (if (dumped("ann_hnsw")) {
        val n = Tables.embeddings(spark, sfDir).count()
        val (cells, sub) = knnGeom(n)
        Map("ann_hnsw" -> operators.HnswOps.sqlHnsw(cells, sub,
          operators.HnswOps.levelsFor(n)))
      } else Map.empty) ++
      (if (dumped("emb_bitext_mine")) {
        val (cells, sub) = knnGeom(Tables.embeddings(spark, sfDir).count())
        Map("emb_bitext_mine" -> operators.BitextOps.sqlMineAt(cells, sub))
      } else Map.empty) ++
      (if (dumped("mm_phash_dedup")) {
        val (bands, width) = operators.MultimodalOps.phashGeometryFor(
          Tables.documents(spark, sfDir).count())
        Map("mm_phash_dedup" ->
          operators.MultimodalOps.sqlPhashAt(bands, width))
      } else Map.empty)
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      oracles.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    spark.stop()
  }
}
