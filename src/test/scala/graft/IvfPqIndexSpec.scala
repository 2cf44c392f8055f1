package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.IvfPqIndex

/** The persistent IVFPQ index: the inverted-file layout (one parquet
  * partition per coarse cell) must make a loaded probe read ONLY the
  * probed cells' code partitions — the sub-linear probe path flat
  * PqIndex lacks — while reproducing E12 exactly.
  */
class IvfPqIndexSpec extends SparkSpec {

  private def sfDir = "/root/testdata/sf0.001"

  private def corpus: DataFrame =
    Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))

  private def probeRows(df: DataFrame) = df.collect()
    .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank"),
      r.getAs[Long]("vec_id"), r.getAs[Long]("adc"),
      r.getAs[Double]("cos"))).toSeq

  test("probe of the corpus by its own query subset equals ann_ivfpq " +
      "row-for-row") {
    val index = IvfPqIndex.build(corpus)
    val got = probeRows(
      IvfPqIndex.probe(index, corpus.filter(col("vec_id") < 8)))
    val want = probeRows(run("ann_ivfpq", sfDir))
    assert(got == want,
      s"index probe must reproduce E12 (got ${got.length}, want ${want.length})")
  }

  test("save/load roundtrip: identical probes, pinned models and dials") {
    val dir = Files.createTempDirectory("graft_ivfpq").toString + "/index"
    val index = IvfPqIndex.build(corpus)
    IvfPqIndex.save(index, dir)
    val reloaded = IvfPqIndex.load(spark, dir)
    assert(reloaded.cells == index.cells && reloaded.nprobe == index.nprobe &&
      reloaded.k == index.k && reloaded.rerank == index.rerank)
    assert(reloaded.codebook.toSeq == index.codebook.toSeq,
      "the residual codebook must reload bit-identically")
    val q = corpus.filter(col("vec_id") < 8)
    assert(probeRows(IvfPqIndex.probe(reloaded, q)) ==
      probeRows(IvfPqIndex.probe(index, q)))
  }

  test("a loaded probe reads ONLY the probed cells' code partitions — " +
      "never the corpus, never the unprobed inverted lists") {
    val dir = Files.createTempDirectory("graft_ivfpq2").toString + "/index"
    IvfPqIndex.save(IvfPqIndex.build(corpus), dir)
    val reloaded = IvfPqIndex.load(spark, dir)
    // ONE query from a literal frame: it probes nprobe = 4 of the 16
    // cells, so ≥ 12 inverted lists must never be read
    val q = spark.createDataFrame(
      corpus.filter(col("vec_id") < 1).collect().map(r =>
        (r.getAs[Long]("vec_id"),
          r.getAs[scala.collection.Seq[Float]]("embedding").toArray)).toSeq)
      .toDF("vec_id", "embedding")
    val df = IvfPqIndex.probe(reloaded, q)
    df.collect()
    val p = plan(df)
    assert(!p.contains(sfDir), "loaded probe must not rescan the corpus")
    // the executed scan over the inverted file must carry the probed
    // cells as PARTITION filters and read ≤ nprobe of the 16 partitions
    // (DataFrame.inputFiles reports the pre-pruning listing, so the
    // check reads the scan node's own partition metric)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(pl: SparkPlan): Seq[FileSourceScanExec] = pl match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case qs: QueryStageExec => scans(qs.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => (other.children ++ other.subqueries).flatMap(scans)
    }
    val codeScans = scans(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("/codes")))
    assert(codeScans.nonEmpty, "probe must read the saved inverted file")
    codeScans.foreach { s =>
      assert(s.partitionFilters.nonEmpty,
        "the probed-cell set must reach the scan as a partition filter")
      val partsRead = s.metrics("numPartitions").value
      assert(partsRead > 0 && partsRead <= reloaded.nprobe,
        s"one query probes ≤ nprobe cells, scan read $partsRead partitions")
    }
  }

  test("torn save refuses to load") {
    val dir = Files.createTempDirectory("graft_ivfpq3").toString + "/index"
    val base = corpus.filter(col("vec_id") < 400)
    IvfPqIndex.save(IvfPqIndex.build(base), dir)
    spark.range(1)
      .select(org.apache.spark.sql.functions.lit(false).as("complete"),
        org.apache.spark.sql.functions.lit("save").as("op"))
      .write.mode("overwrite").parquet(s"$dir/complete")
    intercept[IllegalStateException] { IvfPqIndex.load(spark, dir) }
  }

  test("a foreachBatch stream lands vectors via append under the PINNED " +
      "models; loaded probes match the same appends applied batch-wise") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft_ivfpqstrm").toString
    val (pathS, pathB) = (s"$dir/stream", s"$dir/batch")
    val base = IvfPqIndex.build(corpus.filter(col("vec_id") < 450))
    IvfPqIndex.save(base, pathS)
    IvfPqIndex.save(base, pathB)
    val rows = corpus.filter(col("vec_id") >= 450).collect()
      .map(r => IdxVec(r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
    val (e1, e2) = rows.partition(_.vec_id < 475)
    val src = MemoryStream[IdxVec]
    val query = src.toDS().toDF().writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        IvfPqIndex.append(pathS, batch)
      }.start()
    src.addData(e1: _*)
    query.processAllAvailable()
    // epoch 2 re-delivers one epoch-1 vector: the per-frame anti-join is
    // the idempotency contract
    src.addData((e2 :+ e1.head): _*)
    query.processAllAvailable()
    query.stop()
    IvfPqIndex.append(pathB, corpus.filter(col("vec_id") >= 450))
    val streamed = IvfPqIndex.load(spark, pathS)
    val batched = IvfPqIndex.load(spark, pathB)
    assert(streamed.vectors.count() == corpus.count() &&
      streamed.codes.count() == corpus.count(),
      "one row per vec_id across epochs; the replayed vector appended nothing")
    val q = corpus.filter(col("vec_id") < 8)
    val got = probeRows(IvfPqIndex.probe(streamed, q))
    val want = probeRows(IvfPqIndex.probe(batched, q))
    assert(got == want && got.nonEmpty,
      "stream-appended and batch-appended probes must agree")
  }

  test("append under the pinned models: appended vectors become " +
      "findable; retire removes them; compact bounds files with probe " +
      "parity") {
    val dir = Files.createTempDirectory("graft_ivfpq4").toString + "/index"
    val base = corpus.filter(col("vec_id") < 450)
    IvfPqIndex.save(IvfPqIndex.build(base), dir)
    IvfPqIndex.append(dir, corpus.filter(col("vec_id") >= 450))
    val idx = IvfPqIndex.load(spark, dir)
    val q = corpus.filter(col("vec_id") < 8)
    val withAppended = probeRows(IvfPqIndex.probe(idx, q))
    assert(idx.codes.count() == corpus.count())
    val someHit = withAppended.head._3
    IvfPqIndex.retire(dir, spark.createDataFrame(Seq(Tuple1(someHit)))
      .toDF("vec_id"))
    val afterRetire =
      probeRows(IvfPqIndex.probe(IvfPqIndex.load(spark, dir), q))
    assert(!afterRetire.exists(_._3 == someHit), "retired id must not surface")
    IvfPqIndex.compact(dir, partitions = 2)
    val compacted = IvfPqIndex.load(spark, dir)
    // one file per cell directory after clustering by cell
    val cellDirs = new java.io.File(s"$dir/codes").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty)
    cellDirs.foreach { cd =>
      assert(cd.listFiles().count(_.getName.endsWith(".parquet")) <= 1,
        s"${cd.getName} must compact to one file")
    }
    assert(probeRows(IvfPqIndex.probe(compacted, q)) == afterRetire,
      "compaction must be probe-invisible")
    // a finished commit leaves nothing staged
    assert(Option(new java.io.File(dir + ".pending").listFiles()).forall(_.isEmpty),
      "a commit must drop its staging")
  }

  test("an index an earlier build left mid-swap is refused; its " +
      "siblings are never read or deleted") {
    val dir = Files.createTempDirectory("graft_ivfpq5").toString + "/index"
    IvfPqIndex.save(IvfPqIndex.build(corpus.filter(col("vec_id") < 400)), dir)
    // that build's swap, between its two renames: the live index
    // displaced to .old, a complete staged copy not yet promoted
    val live = Paths.get(dir)
    Files.walk(live).forEach(p =>
      Files.copy(p, Paths.get(dir + ".staged").resolve(live.relativize(p))))
    Files.move(live, Paths.get(dir + ".old"))
    val e = intercept[IllegalStateException] { IvfPqIndex.load(spark, dir) }
    assert(e.getMessage.contains("no completion marker"), e.getMessage)
    assert(Files.exists(Paths.get(dir + ".staged")) && Files.exists(Paths.get(dir + ".old")),
      "a load must leave both siblings")
  }
}
