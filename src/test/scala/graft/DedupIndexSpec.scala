package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.operators.DedupIndex

case class IdxDoc(doc_id: Long, text: String)

/** The persistent incremental LSH index: probe finds cross-batch
  * near-dups without re-shingling or shuffling the indexed corpus.
  */
class DedupIndexSpec extends SparkSpec {

  private def docs(rows: (Long, String)*): DataFrame =
    spark.createDataFrame(rows).toDF("doc_id", "text")

  private val base = (1 to 40).map(i => s"idx$i").mkString(" ")
  private val other = (1 to 40).map(i => s"oth$i").mkString(" ")

  test("probe finds new-vs-indexed near-dups, never old-vs-old") {
    val index = DedupIndex.build(docs(0L -> base, 1L -> other))
    val batch = docs(2L -> base.replace("idx9", "edited"), 3L -> "tiny text here")
    val pairs = DedupIndex.probe(index, batch).collect()
      .map(r => (r.getAs[Long]("first_id"), r.getAs[Long]("new_id"),
        r.getAs[Double]("est_jaccard")))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((0L, 2L)),
      s"expected only (0,2): ${pairs.toSeq}")
    assert(pairs.head._3 >= 0.5 && pairs.head._3 <= 1.0)
  }

  test("ingest folds the batch in: later probes see earlier batches") {
    val index0 = DedupIndex.build(docs(0L -> base))
    val (p1, index1) = DedupIndex.ingest(index0, docs(1L -> other))
    assert(p1.collect().isEmpty, "unrelated batch pairs with nothing")
    // the next batch dups BOTH an original doc and a previous batch's
    val batch2 = docs(2L -> base.replace("idx3", "x"), 3L -> other)
    val pairs = DedupIndex.probe(index1, batch2).collect()
      .map(r => (r.getAs[Long]("first_id"), r.getAs[Long]("new_id"))).toSet
    assert(pairs == Set((0L, 2L), (1L, 3L)), s"got $pairs")
  }

  test("save/load roundtrip: band-partitioned layout, identical probes") {
    val dir = Files.createTempDirectory("graft_lshidx").toString + "/index"
    val index = DedupIndex.build(docs(0L -> base, 1L -> other))
    DedupIndex.save(index, dir)
    assert(new java.io.File(s"$dir/sigs").listFiles()
        .exists(_.getName.startsWith("band=")),
      "index parquet must partition by band")
    val reloaded = DedupIndex.load(spark, dir)
    val batch = docs(2L -> base.replace("idx9", "edited"))
    val a = DedupIndex.probe(index, batch).collect()
      .map(r => (r.getAs[Long]("first_id"), r.getAs[Long]("new_id"))).toSet
    val b = DedupIndex.probe(reloaded, batch).collect()
      .map(r => (r.getAs[Long]("first_id"), r.getAs[Long]("new_id"))).toSet
    assert(a == b && a == Set((0L, 2L)))
  }

  test("occupancy cap: saturated index buckets emit no pairs") {
    // two identical indexed docs share every band bucket: occupancy 2
    val index = DedupIndex.build(docs(0L -> base, 1L -> base))
    val batch = docs(2L -> base)
    val capped = DedupIndex.probe(index, batch, maxBucket = 1).collect()
    assert(capped.isEmpty, "buckets over the cap must not pair")
    val uncapped = DedupIndex.probe(index, batch).collect()
      .map(r => (r.getAs[Long]("first_id"), r.getAs[Long]("new_id"))).toSet
    assert(uncapped == Set((0L, 2L), (1L, 2L)))
  }

  test("probe plan broadcasts the batch; the index side never shuffles") {
    val index = DedupIndex.build(docs(0L -> base, 1L -> other))
    val batch = docs(2L -> base.replace("idx9", "edited"))
    val p = plan(DedupIndex.probe(index, batch))
    assert(p.contains("BroadcastHashJoin"), "probe must broadcast-join")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("a loaded probe reads ONLY the index artifact — never the corpus files") {
    // the deployment claim behind BenchProbe: probe cost scales with the
    // query batch, which requires the plan to never re-read (so never
    // re-shingle) the corpus the index was built from
    val dir = Files.createTempDirectory("graft_lshart").toString + "/index"
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    DedupIndex.save(DedupIndex.build(corpus), dir)
    val p = plan(DedupIndex.probe(DedupIndex.load(spark, dir),
      docs(1000000000L -> base)))
    assert(!p.contains("documents.parquet"),
      "loaded probe must not scan the corpus the index was built from")
    assert(p.contains(dir), "loaded probe must scan the saved index artifact")
    assert(p.contains("LocalTableScan") || p.contains("RDDScan"),
      "the probe batch rides in-memory, not from a file")
  }

  test("replayed batches fold in as no-ops: bucket rows never duplicate") {
    val index0 = DedupIndex.build(docs(0L -> base))
    val batch = docs(1L -> base.replace("idx3", "x"))
    val (_, index1) = DedupIndex.ingest(index0, batch)
    val once = index1.count()
    // at-least-once delivery replays the same batch
    val (_, index2) = DedupIndex.ingest(index1, batch)
    assert(index2.count() == once,
      "re-ingesting a delivered batch must not inflate the index")
    // and probes through the replayed index are unchanged
    val probeQ = docs(9L -> base)
    val a = DedupIndex.probe(index1, probeQ).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = DedupIndex.probe(index2, probeQ).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b && a.nonEmpty)
  }

  test("append persists only the batch's rows; the saved-path cycle works") {
    val dir = Files.createTempDirectory("graft_lshapp").toString + "/index"
    DedupIndex.save(DedupIndex.build(docs(0L -> base)), dir)
    val batch = docs(1L -> other)
    DedupIndex.append(dir, batch)
    DedupIndex.append(dir, batch) // replay: must be a no-op
    val reloaded = DedupIndex.load(spark, dir)
    assert(reloaded.count() == 2L * DedupIndex.Bands,
      "one row set per doc per band, replay appended nothing")
    val r = DedupIndex.probe(reloaded, docs(2L -> other)).collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSet == Set((1L, 2L)),
      "the appended batch must be probeable")
  }

  test("a foreachBatch loop drives the saved index: probe then append per micro-batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft_lshstrm").toString
    val idxPath = s"$dir/index"
    val pairsPath = s"$dir/pairs"
    DedupIndex.save(DedupIndex.build(docs(0L -> base)), idxPath)
    val src = MemoryStream[IdxDoc]
    val query = src.toDS().toDF().writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        DedupIndex.probe(DedupIndex.load(batch.sparkSession, idxPath), batch)
          .write.mode("append").parquet(pairsPath)
        DedupIndex.append(idxPath, batch)
      }.start()
    src.addData(IdxDoc(1L, other)) // unrelated: no pairs, folds in
    query.processAllAvailable()
    // dups BATCH 1's doc, which was never in the built index — only the
    // per-epoch append can surface this pair
    src.addData(IdxDoc(2L, other.replace("oth5", "x")))
    query.processAllAvailable()
    query.stop()
    val got = spark.read.parquet(pairsPath).collect()
      .map(r => (r.getAs[Long]("first_id"), r.getAs[Long]("new_id"))).toSet
    assert(got == Set((1L, 2L)),
      s"cross-batch dup must surface via the appended index: $got")
  }

  test("retire: probes never pair with a retired doc; replayed retire is a no-op") {
    import spark.implicits._
    val index = DedupIndex.build(
      docs(0L -> base, 1L -> base.replace("idx9", "y"), 2L -> other))
    val retired = Seq(0L).toDF("doc_id")
    val idx1 = DedupIndex.retire(index, retired)
    val pairs = DedupIndex.probe(idx1, docs(9L -> base)).collect()
      .map(r => (r.getAs[Long]("first_id"), r.getAs[Long]("new_id"))).toSet
    assert(!pairs.exists(_._1 == 0L),
      s"retired doc must never pair: $pairs")
    assert(pairs == Set((1L, 9L)), s"surviving near-dup still found: $pairs")
    val idx2 = DedupIndex.retire(idx1, retired) // at-least-once replay
    assert(idx2.count() == idx1.count(), "a replayed retire must be a no-op")
  }

  test("persisted retire rewrites the saved index; probe after retire is clean") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lshret").toString + "/index"
    DedupIndex.save(DedupIndex.build(
      docs(0L -> base, 1L -> base.replace("idx9", "y"))), dir)
    DedupIndex.retire(dir, Seq(0L).toDF("doc_id"))
    val reloaded = DedupIndex.load(spark, dir)
    assert(reloaded.count() == 1L * DedupIndex.Bands,
      "only the surviving doc's band rows remain")
    val pairs = DedupIndex.probe(reloaded, docs(9L -> base)).collect()
      .map(r => (r.getAs[Long]("first_id"), r.getAs[Long]("new_id"))).toSet
    assert(pairs == Set((1L, 9L)), s"got $pairs")
    DedupIndex.retire(dir, Seq(0L).toDF("doc_id")) // replay on the path
    assert(DedupIndex.load(spark, dir).count() == 1L * DedupIndex.Bands)
  }

  test("a partial save (stale completion marker) refuses to load") {
    import org.apache.spark.sql.functions.lit
    val dir = Files.createTempDirectory("graft_lshpart").toString + "/index"
    DedupIndex.save(DedupIndex.build(docs(0L -> base)), dir)
    // an earlier build's torn in-place save: the first thing it wrote
    // was complete=false, and nothing reset it to true
    spark.range(1).select(lit(false).as("complete"))
      .write.mode("overwrite").parquet(s"$dir/complete")
    val e = intercept[IllegalStateException] { DedupIndex.load(spark, dir) }
    assert(e.getMessage.contains("partial save"))
    // a crash BEFORE the first marker write (nothing on disk yet at a
    // fresh path) must also refuse, not read garbage
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(); ()
    }
    rmrf(new java.io.File(s"$dir/complete"))
    val e2 = intercept[IllegalStateException] { DedupIndex.load(spark, dir) }
    assert(e2.getMessage.contains("no completion marker"))
  }

  test("a crash-interrupted retire rewrite refuses to load, then a re-save recovers") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lshcrash").toString + "/index"
    val full = DedupIndex.build(docs(0L -> base, 1L -> other))
    DedupIndex.save(full, dir)
    // an earlier build's in-place retire dying between its
    // complete=false and the band rewrite: marker false, band dirs
    // half-gone
    spark.range(1).select(org.apache.spark.sql.functions.lit(false)
      .as("complete")).write.mode("overwrite").parquet(s"$dir/complete")
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(); ()
    }
    new java.io.File(s"$dir/sigs").listFiles()
      .filter(_.getName.startsWith("band=")).take(DedupIndex.Bands / 2)
      .foreach(rmrf)
    intercept[IllegalStateException] { DedupIndex.load(spark, dir) }
    // recovery path: rebuild from the corpus and re-save over the wreck
    DedupIndex.save(full, dir)
    assert(DedupIndex.load(spark, dir).count() == 2L * DedupIndex.Bands)
    val pairs = DedupIndex.probe(DedupIndex.load(spark, dir),
        docs(9L -> base)).collect()
      .map(r => (r.getAs[Long]("first_id"), r.getAs[Long]("new_id"))).toSet
    assert(pairs == Set((0L, 9L)), s"got $pairs")
  }

  test("compact bounds the file count; probes identical before/after; idempotent") {
    val dir = Files.createTempDirectory("graft_lshcomp").toString + "/index"
    DedupIndex.save(DedupIndex.build(docs(0L -> base)), dir)
    for (i <- 0 until 5)
      DedupIndex.append(dir, docs((10L + i) -> other.replace("oth3", s"v$i")))
    def bandFiles(band: Int): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
        else if (f.getName.endsWith(".parquet") &&
          f.getName.startsWith("part-")) 1
        else 0
      walk(new java.io.File(s"$dir/sigs/band=$band"))
    }
    assert(bandFiles(0) >= 6,
      s"each append adds files per band dir (got ${bandFiles(0)})")
    val probeQ = docs(9L -> base, 8L -> other)
    def pairs() = DedupIndex.probe(DedupIndex.load(spark, dir), probeQ)
      .collect().map(r => (r.getAs[Long]("first_id"),
        r.getAs[Long]("new_id"), r.getAs[Double]("est_jaccard"))).toSet
    val before = pairs()
    DedupIndex.compact(dir, partitions = 2)
    for (b <- 0 until DedupIndex.Bands)
      assert(bandFiles(b) <= 2, s"band=$b: ${bandFiles(b)} files > 2")
    assert(pairs() == before && before.nonEmpty,
      "compaction must not change probe results")
    DedupIndex.compact(dir, partitions = 2) // idempotent re-run
    assert(pairs() == before)
    // appends keep working on a compacted index
    DedupIndex.append(dir, docs(30L -> base.replace("idx5", "z")))
    val after = DedupIndex.probe(DedupIndex.load(spark, dir), docs(9L -> base))
      .collect().map(_.getAs[Long]("first_id")).toSet
    assert(after.contains(30L))
  }

  test("index signatures are the stream's signatures (one banding scheme)") {
    import org.apache.spark.sql.functions.{col, lit}
    val d = docs(0L -> base, 1L -> other)
    val idx = DedupIndex.build(d).select("doc_id", "band", "bkey")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val stream = graft.streaming.NearDupStream.bandedSignatures(
        d.withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))))
      .select(col("doc_id"), col("band"), col("bkey"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(idx == stream,
      "DedupIndex and NearDupStream must bucket identically — the index's value rests on it")
  }
}
