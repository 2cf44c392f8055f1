package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, AnnOps, DedupIndex, IvfPqIndex, PqIndex}

/** Probe-only deployment benchmark for the index-backed ANN/dedup
  * queries (judge ask r10 #4).
  *
  * The board's `ann_lsh` / `dedup_minhash_lsh` / `dedup_embedding`
  * numbers include hashing the WHOLE corpus per run — the right cost
  * model for a one-shot batch job, but not for the deployment shape,
  * where the index persists beside the data ([[AnnIndex]] /
  * [[DedupIndex]]) and each arriving query batch only pays for itself.
  * This main measures that split honestly:
  *
  *  - **build** (once, reported separately): corpus → saved index, the
  *    amortized cost. Reused across runs unless SPARK_GRAFT_REBUILD=1.
  *  - **probe** (min-of-3 per query): a BOUNDED in-memory batch against
  *    the load()ed index — ann_lsh's own 8-vector query set, and
  *    SPARK_GRAFT_PROBE_N (default 1000) shifted-id docs/embeddings for
  *    the dedup probes. The batches are collected to the driver before
  *    timing (bounded by construction), so a probe plan that touched
  *    the corpus parquet would be a bug — AnnIndexSpec/DedupIndexSpec
  *    pin exactly that: the loaded-probe plan reads only the index
  *    artifact, never the corpus files.
  *
  * Output: one JSON line, `build` + per-query min-of-3 `queries`, the
  * same shape as [[Bench]] so rounds compare.
  */
object BenchProbe {
  private val REPS = 3

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val probeN = sys.env.getOrElse("SPARK_GRAFT_PROBE_N", "1000").toInt
    val idxDir = sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR",
      s"/root/repo/localdata/probeidx/${new java.io.File(sfDir).getName}")
    val rebuild = sys.env.get("SPARK_GRAFT_REBUILD").exists(_ == "1")
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()

    def secs(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }

    def loadable(load: => Unit): Boolean =
      try { load; true } catch { case _: Throwable => false }

    // ---- build phase (amortized; timed only when it actually runs) ----
    var annBuild, dedupBuild, pqBuild, ivfpqBuild = 0.0
    val annPath = s"$idxDir/ann"
    val dedupPath = s"$idxDir/dedup"
    val pqPath = s"$idxDir/pq"
    val ivfpqPath = s"$idxDir/ivfpq"
    if (rebuild || !loadable(AnnIndex.load(spark, annPath))) {
      annBuild = secs {
        val emb = Tables.embeddings(spark, sfDir)
          .select(col("vec_id"), col("embedding"))
        val g = AnnOps.LshGeometry.forCorpus(emb.count())
        AnnIndex.save(AnnIndex.build(emb, g), annPath)
      }
      Caches.releaseScope()
    }
    // the sf100 step materializes only the embeddings table (see
    // tools/gen_emb_sf100.py) — skip the document-side index there
    val hasDocs =
      new java.io.File(s"$sfDir/documents.parquet").exists()
    if (hasDocs && (rebuild || !loadable(DedupIndex.load(spark, dedupPath)))) {
      dedupBuild = secs {
        DedupIndex.save(
          DedupIndex.build(Tables.documents(spark, sfDir)
            .select(col("doc_id"), col("text"))), dedupPath)
      }
      Caches.releaseScope()
    }
    if (rebuild || !loadable(PqIndex.load(spark, pqPath))) {
      pqBuild = secs {
        val emb = Tables.embeddings(spark, sfDir)
          .select(col("vec_id"), col("embedding"))
        val (k, rerank) = AnnOps.pqGeometryFor(emb.count())
        PqIndex.save(PqIndex.build(emb, k = k, rerank = rerank), pqPath)
      }
      Caches.releaseScope()
    }

    if (rebuild || !loadable(IvfPqIndex.load(spark, ivfpqPath))) {
      ivfpqBuild = secs {
        val emb = Tables.embeddings(spark, sfDir)
          .select(col("vec_id"), col("embedding"))
        val n = emb.count()
        val (k, rerank) = AnnOps.pqGeometryFor(n)
        IvfPqIndex.save(IvfPqIndex.build(emb,
          cells = AnnOps.ivfCellsFor(n), k = k, rerank = rerank), ivfpqPath)
      }
      Caches.releaseScope()
    }

    // ---- bounded probe batches, collected BEFORE timing ----
    // ann: the board query set (vec_id < 8), exactly ann_lsh's
    val annQ = localize(spark, Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 8))
    // dedup: probeN corpus docs/vectors at shifted ids — guaranteed
    // near-dups of their indexed originals, the worst probe-cost case
    // (every probe row produces candidates)
    val docB = if (!hasDocs) null
    else localize(spark, Tables.documents(spark, sfDir)
      .filter(col("doc_id") < probeN)
      .select((col("doc_id") + 1000000000L).as("doc_id"), col("text")))
    val embB = localize(spark, Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < probeN)
      .select((col("vec_id") + 1000000000L).as("vec_id"), col("embedding")))
    Caches.releaseScope()

    val annIdx = AnnIndex.load(spark, annPath)
    val pqIdx = PqIndex.load(spark, pqPath)
    val ivfpqIdx = IvfPqIndex.load(spark, ivfpqPath)
    val probes: Seq[(String, () => Long)] = Seq(
      "ann_lsh_probe" ->
        (() => AnnIndex.probe(annIdx, annQ).count()),
      "ann_pq_probe" ->
        (() => PqIndex.probe(pqIdx, annQ).count()),
      "ann_ivfpq_probe" ->
        (() => IvfPqIndex.probe(ivfpqIdx, annQ).count())) ++
      (if (!hasDocs) Seq.empty else {
        val dedupIdx = DedupIndex.load(spark, dedupPath)
        Seq(
          "dedup_minhash_probe" ->
            (() => DedupIndex.probe(dedupIdx, docB).count()),
          "dedup_embedding_probe" ->
            (() => AnnIndex.probePairs(annIdx, embB, tau = 0.3).count()))
      })

    var anyFailed = false
    val results = probes.map { case (name, fn) =>
      var ok = true
      val runs = (1 to REPS).iterator.map { _ =>
        try Some(secs { val n = fn(); System.err.println(s"[probe] $name rows=$n") })
        catch {
          case e: Throwable =>
            System.err.println(s"[probe] $name FAILED: ${e.getMessage}")
            anyFailed = true; ok = false; None
        }
      }.takeWhile(_.isDefined).flatten.toSeq
      Caches.releaseScope()
      (name, runs.headOption.getOrElse(0.0),
        if (runs.isEmpty) 0.0 else runs.min, ok)
    }

    def jmap(entries: Seq[(String, Double)]): String = entries
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")

    // ---- IVFPQ operational drill (SPARK_GRAFT_DRILL=1): the full
    // index lifecycle at the bench SF — build on 90% of the corpus,
    // append the remaining 10% under the pinned models, compact the
    // accumulated small files, probe — recording each phase's cost,
    // the codes file counts before/after compaction, and two parity
    // facts: compaction is probe-invisible, and appended vectors are
    // findable (each is its own exact top-1). Fresh dirs per run: the
    // drill prices the cycle, not an amortized artifact.
    val drillJson =
      if (!sys.env.get("SPARK_GRAFT_DRILL").exists(_ == "1")) ""
      else {
        val drillPath = s"$idxDir/ivfpq_drill"
        def rmTree(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rmTree)
          f.delete(); ()
        }
        Seq("", ".pending").foreach(sfx =>
          rmTree(new java.io.File(drillPath + sfx)))
        val emb = Tables.embeddings(spark, sfDir)
          .select(col("vec_id"), col("embedding"))
        val n = emb.count()
        val cut = n * 9 / 10
        val (k, rerank) = AnnOps.pqGeometryFor(n)
        val tBuild = secs {
          IvfPqIndex.save(IvfPqIndex.build(emb.filter(col("vec_id") < cut),
            cells = AnnOps.ivfCellsFor(n), k = k, rerank = rerank), drillPath)
        }
        Caches.releaseScope()
        val tAppend = secs {
          IvfPqIndex.append(drillPath, emb.filter(col("vec_id") >= cut))
        }
        Caches.releaseScope()
        def codeFiles: Long = {
          def walk(f: java.io.File): Long =
            if (f.isDirectory) f.listFiles().map(walk).sum
            else if (f.getName.endsWith(".parquet")) 1L else 0L
          walk(new java.io.File(s"$drillPath/codes"))
        }
        def rows(df: DataFrame): Seq[(Long, Long, Long, Long)] =
          df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank"),
            r.getAs[Long]("vec_id"), r.getAs[Long]("adc"))).toSeq
        // appended-vector queries at SHIFTED ids (the dedup-probe trick:
        // self-exclusion matches on vec_id, so the shifted query's
        // indexed original must come back as its exact top-1, cos = 1)
        val appendedQ = localize(spark,
          emb.filter(col("vec_id") >= cut && col("vec_id") < cut + 8)
            .select((col("vec_id") + 1000000000L).as("vec_id"),
              col("embedding")))
        val filesBefore = codeFiles
        val idxA = IvfPqIndex.load(spark, drillPath)
        val beforeCorpus = rows(IvfPqIndex.probe(idxA, annQ))
        val beforeAppended = rows(IvfPqIndex.probe(idxA, appendedQ))
        Caches.releaseScope()
        val tCompact = secs { IvfPqIndex.compact(drillPath) }
        val filesAfter = codeFiles
        val idxC = IvfPqIndex.load(spark, drillPath)
        val afterCorpus = rows(IvfPqIndex.probe(idxC, annQ))
        val afterAppended = rows(IvfPqIndex.probe(idxC, appendedQ))
        val parity = beforeCorpus == afterCorpus &&
          beforeAppended == afterAppended
        val appendedFound = afterAppended.nonEmpty &&
          appendedQ.collect().forall { q =>
            val id = q.getAs[Long]("vec_id")
            afterAppended.exists(r =>
              r._1 == id && r._2 == 1L && r._3 == id - 1000000000L)
          }
        val codesComplete = idxC.codes.count() == n
        val probeRuns = (1 to REPS).map(_ =>
          secs(IvfPqIndex.probe(idxC, annQ).count()))
        Caches.releaseScope()
        if (!parity || !appendedFound || !codesComplete) anyFailed = true
        s""","drill":{"n":$n,"build":${f"$tBuild%.3f"},"append":${
          f"$tAppend%.3f"},"compact":${f"$tCompact%.3f"},"probe":${
          f"${probeRuns.min}%.3f"},"files_before":$filesBefore,"files_after":$filesAfter,"parity":$parity,"appended_found":$appendedFound,"codes_complete":$codesComplete}"""
      }

    val total = results.collect { case (_, _, mn, true) => mn }.sum
    println(s"""{"metric":"probe_total","value":$total,"unit":"sec","build":${
      jmap(Seq("ann" -> annBuild, "dedup" -> dedupBuild, "pq" -> pqBuild,
        "ivfpq" -> ivfpqBuild))
    },"queries":${jmap(results.map { case (k, _, mn, _) => k -> mn })},"first":${
      jmap(results.map { case (k, f, _, _) => k -> f })
    },"reps":$REPS,"probe_batch":{"ann":${annQ.count()},"dedup":${
      if (docB == null) 0L else docB.count()
    },"embedding":${embB.count()}},"failed":${
      results.collect { case (k, _, _, false) => "\"" + k + "\"" }
        .mkString("[", ",", "]")
    }$drillJson,"sf":"$sfDir"}""")
    spark.stop()
    if (anyFailed) sys.exit(1)
  }

  /** Collect a bounded frame to the driver and re-create it in-memory:
    * the timed probe plans must not contain a corpus file scan, which
    * is also what the spec asserts.
    */
  private def localize(spark: SparkSession, df: DataFrame): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(df.collect(): _*)),
      df.schema)
}
