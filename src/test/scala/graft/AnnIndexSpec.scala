package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.operators.AnnIndex

case class IdxVec(vec_id: Long, embedding: Array[Float])

/** The persistent incremental ANN index: probes find nearest indexed
  * neighbors without re-hashing or shuffling the indexed corpus.
  */
class AnnIndexSpec extends SparkSpec {

  private def sfDir = "/root/testdata/sf0.001"

  private def corpus: DataFrame = {
    import org.apache.spark.sql.functions.col
    Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
  }

  private def vecs(rows: (Long, Seq[Float])*): DataFrame =
    spark.createDataFrame(rows.map { case (id, v) => (id, v.toArray) })
      .toDF("vec_id", "embedding")

  private def unit(i: Int, scale: Float = 1f): Seq[Float] =
    (0 until 64).map(j => if (j == i) scale else 0f)

  test("probe of the corpus by its own query subset equals ann_lsh") {
    import org.apache.spark.sql.functions.col
    val index = AnnIndex.build(corpus)
    val queries = corpus.filter(col("vec_id") < 8)
    val got = AnnIndex.probe(index, queries).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val want = run("ann_lsh", sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == want.toSeq,
      s"index probe must reproduce E2 row-for-row (got ${got.length}, want ${want.length})")
  }

  test("planted duplicate is the rank-1 neighbor of its probe") {
    val index = AnnIndex.build(vecs(
      10L -> unit(0), 11L -> unit(7), 12L -> unit(13, 2f)))
    val r = AnnIndex.probe(index, vecs(99L -> unit(0, 0.5f)), k = 3).collect()
    assert(r.nonEmpty, "identical-direction vector must share buckets")
    val top = r.head
    assert(top.getLong(0) == 99L && top.getLong(1) == 1L &&
      top.getLong(2) == 10L && math.abs(top.getDouble(3) - 1.0) < 1e-9,
      s"expected (99,1,10,~1.0), got $top")
  }

  test("save/load roundtrip: tbl-partitioned buckets, identical probes") {
    val dir = Files.createTempDirectory("graft_annidx").toString + "/index"
    val index = AnnIndex.build(vecs(10L -> unit(0), 11L -> unit(7)))
    AnnIndex.save(index, dir)
    assert(new java.io.File(s"$dir/buckets").listFiles()
      .exists(_.getName.startsWith("tbl=")),
      "bucket parquet must partition by tbl")
    val reloaded = AnnIndex.load(spark, dir)
    val probeQ = vecs(99L -> unit(0))
    val a = AnnIndex.probe(index, probeQ).collect().map(_.toSeq).toSeq
    val b = AnnIndex.probe(reloaded, probeQ).collect().map(_.toSeq).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("a non-default geometry is pinned through save/load and probing") {
    import org.apache.spark.sql.functions.col
    import graft.operators.AnnOps
    val g = AnnOps.LshGeometry(8, 8)
    val dir = Files.createTempDirectory("graft_annidx_g").toString + "/index"
    AnnIndex.save(AnnIndex.build(corpus, g), dir)
    val reloaded = AnnIndex.load(spark, dir)
    assert(reloaded.geometry == g, "geometry must survive the roundtrip")
    // a loaded index probes with ITS planes: row-for-row equal to E2
    // run at the same geometry (buckets hashed under 8 planes would
    // never line up with default-6 probe ids otherwise)
    val queries = corpus.filter(col("vec_id") < 8)
    val got = AnnIndex.probe(reloaded, queries).collect().map(_.toSeq).toSeq
    val want = AnnOps.lshTopK(spark, sfDir, g).collect().map(_.toSeq).toSeq
    assert(got == want && got.nonEmpty,
      s"loaded-index probe must equal E2 at the same geometry (${got.length}/${want.length})")
  }

  test("occupancy cap: saturated buckets contribute no candidates") {
    // identical vectors share every bucket in every table: occupancy 2
    val index = AnnIndex.build(vecs(10L -> unit(0), 11L -> unit(0)))
    val q = vecs(99L -> unit(0))
    assert(AnnIndex.probe(index, q, maxBucket = 1).collect().isEmpty,
      "buckets over the cap must not pair")
    val ids = AnnIndex.probe(index, q).collect().map(_.getLong(2)).toSet
    assert(ids == Set(10L, 11L))
  }

  test("ingest folds the batch in: later probes see earlier batches") {
    val index0 = AnnIndex.build(vecs(10L -> unit(0)))
    val (n1, index1) = AnnIndex.ingest(index0, vecs(20L -> unit(7)))
    assert(!n1.collect().exists(_.getLong(2) == 20L),
      "a batch never probes itself")
    val r = AnnIndex.probe(index1, vecs(99L -> unit(7))).collect()
    assert(r.nonEmpty && r.head.getLong(2) == 20L,
      "the folded-in batch must be probeable")
  }

  test("probe plan broadcasts the batch; the index side never shuffles for the join") {
    val index = AnnIndex.build(vecs(10L -> unit(0), 11L -> unit(7)))
    val p = plan(AnnIndex.probe(index, vecs(99L -> unit(0))))
    assert(p.contains("BroadcastHashJoin"), "probe must broadcast-join")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("a loaded index's corpus-sized sides still join broadcast-only") {
    val dir = Files.createTempDirectory("graft_annld").toString + "/index"
    AnnIndex.save(AnnIndex.build(vecs(10L -> unit(0), 11L -> unit(7))), dir)
    val p = plan(AnnIndex.probe(AnnIndex.load(spark, dir), vecs(99L -> unit(0))))
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      "no stats on a loaded index may not demote the joins to shuffles")
  }

  test("a loaded probe reads ONLY the index artifact — never the corpus files") {
    // the deployment claim behind BenchProbe: probe cost scales with the
    // query batch, which is only true if the plan never re-reads (and so
    // never re-hashes) the corpus parquet the index was built from
    val dir = Files.createTempDirectory("graft_annart").toString + "/index"
    AnnIndex.save(AnnIndex.build(corpus), dir)
    val loaded = AnnIndex.load(spark, dir)
    for (probePlan <- Seq(
        plan(AnnIndex.probe(loaded, vecs(99L -> unit(0)))),
        plan(AnnIndex.probePairs(loaded, vecs(99L -> unit(0)))))) {
      assert(!probePlan.contains("embeddings.parquet"),
        "loaded probe must not scan the corpus the index was built from")
      assert(probePlan.contains(dir),
        "loaded probe must scan the saved index artifact")
      assert(probePlan.contains("LocalTableScan") ||
        probePlan.contains("RDDScan"),
        "the query batch rides in-memory, not from a file")
    }
  }

  test("probePairs: planted near-dup of an indexed vector surfaces with cos >= tau") {
    val index = AnnIndex.build(vecs(
      10L -> unit(0), 11L -> unit(7), 12L -> unit(13)))
    // batch: a scaled copy of vec 10 (cos 1.0) and an orthogonal vector
    val got = AnnIndex.probePairs(index,
        vecs(99L -> unit(0, 0.5f), 98L -> unit(21)), tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(p => (p._1, p._2)).toSeq == Seq((10L, 99L)),
      s"only the planted dup passes tau=0.9: ${got.toSeq}")
    assert(math.abs(got.head._3 - 1.0) < 1e-9)
    // tau above the pair's cosine filters it
    assert(AnnIndex.probePairs(index, vecs(99L -> unit(0, 0.5f)),
      tau = 1.01).collect().isEmpty)
  }

  test("probePairs occupancy cap: saturated buckets contribute no pairs") {
    // identical indexed vectors share every (tbl, bucket): occupancy 3
    val index = AnnIndex.build(vecs(
      10L -> unit(0), 11L -> unit(0), 12L -> unit(0)))
    val batch = vecs(99L -> unit(0))
    assert(AnnIndex.probePairs(index, batch, tau = 0.9, maxBucket = 2)
      .collect().isEmpty, "buckets over the cap must not pair")
    val uncapped = AnnIndex.probePairs(index, batch, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped == Set((10L, 99L), (11L, 99L), (12L, 99L)))
  }

  test("replayed batches fold in as no-ops: bucket and vector rows never duplicate") {
    val index0 = AnnIndex.build(vecs(10L -> unit(0)))
    val batch = vecs(20L -> unit(7))
    val (_, index1) = AnnIndex.ingest(index0, batch)
    val (bOnce, vOnce) = (index1.buckets.count(), index1.vectors.count())
    val (_, index2) = AnnIndex.ingest(index1, batch)
    assert(index2.buckets.count() == bOnce && index2.vectors.count() == vOnce,
      "re-ingesting a delivered batch must not inflate the index")
  }

  test("append persists only the batch's rows; the saved-path cycle works") {
    val dir = Files.createTempDirectory("graft_annapp").toString + "/index"
    AnnIndex.save(AnnIndex.build(vecs(10L -> unit(0))), dir)
    val batch = vecs(20L -> unit(7))
    AnnIndex.append(dir, batch)
    AnnIndex.append(dir, batch) // replay: must be a no-op
    val reloaded = AnnIndex.load(spark, dir)
    assert(reloaded.vectors.count() == 2,
      "one vector row per vec_id, replay appended nothing")
    val r = AnnIndex.probe(reloaded, vecs(99L -> unit(7))).collect()
    assert(r.nonEmpty && r.head.getLong(2) == 20L,
      "the appended batch must be probeable")
  }

  test("rows an ingest cached over a saved path do not outlive an append: " +
      "two appends of one batch land it once") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_anncache").toString + "/index"
    AnnIndex.save(AnnIndex.build(vecs(10L -> unit(0))), dir)
    val batch = vecs(20L -> unit(7))
    val (probed, folded) = AnnIndex.ingest(AnnIndex.load(spark, dir), batch)
    try {
      probed.collect(); folded.vectors.collect()
      AnnIndex.append(dir, batch)
      AnnIndex.append(dir, batch)
      val idx = AnnIndex.load(spark, dir)
      assert(idx.vectors.count() == 2, "the batch grows the vectors once")
      assert(idx.buckets.groupBy("vec_id", "tbl", "bucket").count()
        .filter(col("count") > 1).isEmpty, "no bucket row repeats")
    } finally Caches.releaseScope()
  }

  test("retire: probes never return a retired id; replayed retire is a no-op") {
    import spark.implicits._
    val index = AnnIndex.build(
      vecs(10L -> unit(0), 11L -> unit(0, 2f), 12L -> unit(7)))
    val retired = Seq(10L).toDF("vec_id")
    val idx1 = AnnIndex.retire(index, retired)
    val r = AnnIndex.probe(idx1, vecs(99L -> unit(0))).collect()
    assert(r.nonEmpty && !r.exists(_.getLong(2) == 10L),
      s"retired id must never surface: ${r.toSeq}")
    assert(r.head.getLong(2) == 11L, "surviving co-bucket vector still found")
    val idx2 = AnnIndex.retire(idx1, retired) // at-least-once replay
    assert(idx2.buckets.count() == idx1.buckets.count() &&
      idx2.vectors.count() == idx1.vectors.count(),
      "a replayed retire must be a no-op")
  }

  test("persisted retire rewrites the saved index; geometry survives") {
    import spark.implicits._
    import graft.operators.AnnOps
    val g = AnnOps.LshGeometry(8, 8)
    val dir = Files.createTempDirectory("graft_annret").toString + "/index"
    AnnIndex.save(AnnIndex.build(vecs(10L -> unit(0), 11L -> unit(0, 2f)), g), dir)
    AnnIndex.retire(dir, Seq(10L).toDF("vec_id"))
    val reloaded = AnnIndex.load(spark, dir)
    assert(reloaded.geometry == g, "retire must not lose the pinned geometry")
    assert(reloaded.vectors.count() == 1)
    val ids = AnnIndex.probe(reloaded, vecs(99L -> unit(0)))
      .collect().map(_.getLong(2)).toSet
    assert(ids == Set(11L), s"got $ids")
    AnnIndex.retire(dir, Seq(10L).toDF("vec_id")) // replay on the path
    assert(AnnIndex.load(spark, dir).vectors.count() == 1)
  }

  test("a partial save (stale completion marker) refuses to load") {
    import org.apache.spark.sql.functions.lit
    val dir = Files.createTempDirectory("graft_annpart").toString + "/index"
    AnnIndex.save(AnnIndex.build(vecs(10L -> unit(0))), dir)
    // an earlier build's torn in-place save: the first thing it wrote
    // was complete=false, and nothing reset it to true
    spark.range(1).select(lit(false).as("complete"))
      .write.mode("overwrite").parquet(s"$dir/complete")
    val e = intercept[IllegalStateException] { AnnIndex.load(spark, dir) }
    assert(e.getMessage.contains("partial save"))
  }

  test("a pre-marker layout (no geometry, no marker) is refused") {
    val dir = Files.createTempDirectory("graft_annold").toString + "/index"
    AnnIndex.save(AnnIndex.build(vecs(10L -> unit(0), 11L -> unit(7))), dir)
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(); ()
    }
    rmrf(new java.io.File(s"$dir/geometry"))
    rmrf(new java.io.File(s"$dir/complete"))
    val e = intercept[IllegalStateException] { AnnIndex.load(spark, dir) }
    assert(e.getMessage.contains("no completion marker"), e.getMessage)
  }

  test("compact bounds the file count; probes identical before/after; idempotent") {
    val dir = Files.createTempDirectory("graft_anncomp").toString + "/index"
    AnnIndex.save(AnnIndex.build(vecs(10L -> unit(0), 11L -> unit(7))), dir)
    // an N-batch ingest loop: each append adds parquet files forever —
    // the small-file growth compact() exists to bound
    for (i <- 0 until 6)
      AnnIndex.append(dir, vecs((20L + i) -> unit((i * 3) % 64)))
    def files(sub: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
        else if (f.getName.endsWith(".parquet") &&
          f.getName.startsWith("part-")) 1
        else 0
      walk(new java.io.File(s"$dir/$sub"))
    }
    assert(files("vectors") >= 7,
      s"each append adds vector files (got ${files("vectors")})")
    val q = vecs(99L -> unit(0), 98L -> unit(6))
    val before = AnnIndex.probe(AnnIndex.load(spark, dir), q)
      .collect().map(_.toSeq).toSeq
    AnnIndex.compact(dir, partitions = 2)
    assert(files("vectors") <= 2, s"vectors: ${files("vectors")} files > 2")
    val g = AnnIndex.load(spark, dir).geometry
    for (t <- 0 until g.tables)
      assert(files(s"buckets/tbl=$t") <= 2,
        s"tbl=$t: ${files(s"buckets/tbl=$t")} files > 2")
    val after = AnnIndex.probe(AnnIndex.load(spark, dir), q)
      .collect().map(_.toSeq).toSeq
    assert(after == before && after.nonEmpty,
      "compaction must not change probe results")
    AnnIndex.compact(dir, partitions = 2) // idempotent re-run
    assert(AnnIndex.probe(AnnIndex.load(spark, dir), q)
      .collect().map(_.toSeq).toSeq == before)
    // appends keep working on a compacted index
    AnnIndex.append(dir, vecs(50L -> unit(0, 4f)))
    assert(AnnIndex.probe(AnnIndex.load(spark, dir), vecs(99L -> unit(0)))
      .collect().exists(_.getLong(2) == 50L))
  }

  test("a foreachBatch stream lands vectors via append; loaded probes match a batch build") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft_annstrm").toString
    val idxPath = s"$dir/index"
    AnnIndex.save(AnnIndex.build(vecs(10L -> unit(0))), idxPath)
    val src = MemoryStream[IdxVec]
    val query = src.toDS().toDF().writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        AnnIndex.append(idxPath, batch)
      }.start()
    src.addData(IdxVec(20L, unit(7).toArray))
    query.processAllAvailable()
    // second epoch re-delivers vec 20 alongside a new vector: the
    // append's anti-join is the epoch-idempotency contract
    src.addData(IdxVec(21L, unit(13).toArray), IdxVec(20L, unit(7).toArray))
    query.processAllAvailable()
    query.stop()
    val reloaded = AnnIndex.load(spark, idxPath)
    assert(reloaded.vectors.count() == 3,
      "one vector row per vec_id across epochs, replay appended nothing")
    // probe parity: the streamed-in index answers exactly like an index
    // built from the full corpus in one shot
    val all = vecs(10L -> unit(0), 20L -> unit(7), 21L -> unit(13))
    val q = vecs(99L -> unit(7))
    val got = AnnIndex.probe(reloaded, q).collect().map(_.toSeq).toSeq
    val want = AnnIndex.probe(AnnIndex.build(all), q)
      .collect().map(_.toSeq).toSeq
    assert(got == want && got.nonEmpty,
      s"stream-built and batch-built probes must agree ($got vs $want)")
  }

  test("sf1 embedding stream through the append cycle: probe parity with " +
      "a batch build, file growth bounded by compact") {
    // The corpus-scale version of the foreachBatch drive above (fixture
    // scale proves semantics; this proves the cycle at 20k vectors /
    // 8 micro-batches): an index created EMPTY at the geometry sized for
    // the expected corpus (the deployment shape — geometry is pinned at
    // creation, batches must not re-derive it), filled entirely by the
    // stream, must probe identically to a one-shot batch build, before
    // and after compact() bounds the 8-append file growth.
    val sf1 = new java.io.File("/root/repo/localdata/sf1/embeddings.parquet")
    assume(sf1.exists, "locally generated sf1 data not present")
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val all = spark.read.parquet(sf1.toString)
      .select(col("vec_id"), col("embedding"))
    val n = all.count()
    assert(n >= 20000, s"sf1 must hold 20k vectors, found $n")
    val g = graft.operators.AnnOps.LshGeometry.forCorpus(n)
    val dir = Files.createTempDirectory("graft_annsf1").toString
    val idxPath = s"$dir/index"

    // fixture feed: the driver replays the corpus into the MemoryStream
    // (same pattern as the NearDupStream sf1 drive); the first batch
    // seeds the index at the corpus-sized geometry — pinned there for
    // every later append
    val rows = all.as[IdxVec].collect()
    val batchSize = 2500
    val batches = rows.grouped(batchSize).toSeq
    AnnIndex.save(AnnIndex.build(
      spark.createDataFrame(spark.sparkContext.parallelize(
        batches.head.toSeq, 4)).toDF("vec_id", "embedding"), g), idxPath)
    val src = MemoryStream[IdxVec]
    val query = src.toDS().toDF().writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        AnnIndex.append(idxPath, batch)
      }.start()
    batches.tail.foreach { chunk =>
      src.addData(chunk.toIndexedSeq)
      query.processAllAvailable()
    }
    query.stop()

    val streamed = AnnIndex.load(spark, idxPath)
    assert(streamed.geometry == g,
      "the creation-time geometry must survive the whole ingest cycle")
    assert(streamed.vectors.count() == n,
      "every streamed vector must land exactly once")

    def files(sub: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
        else if (f.getName.endsWith(".parquet") &&
          f.getName.startsWith("part-")) 1
        else 0
      walk(new java.io.File(s"$idxPath/$sub"))
    }
    val vecFilesGrown = files("vectors")
    assert(vecFilesGrown >= rows.length / batchSize,
      s"each batch appends files (got $vecFilesGrown)")

    val queries = all.filter(col("vec_id") % 1000 === 0)
    val want = AnnIndex.probe(AnnIndex.build(all, g), queries)
      .collect().map(_.toSeq).toSeq
    val got = AnnIndex.probe(streamed, queries)
      .collect().map(_.toSeq).toSeq
    assert(got == want && got.nonEmpty,
      s"stream-built probes must equal the batch build " +
        s"(got ${got.length}, want ${want.length})")

    AnnIndex.compact(idxPath, partitions = 4)
    val vecFilesCompacted = files("vectors")
    assert(vecFilesCompacted <= 4,
      s"compact must bound vector files (got $vecFilesCompacted)")
    val gotCompacted = AnnIndex.probe(AnnIndex.load(spark, idxPath), queries)
      .collect().map(_.toSeq).toSeq
    assert(gotCompacted == want, "compaction must not change probe results")
    info(s"n=$n batches=${(n + batchSize - 1) / batchSize} " +
      s"geometry=$g vectorFiles: $vecFilesGrown -> $vecFilesCompacted")
  }
}
