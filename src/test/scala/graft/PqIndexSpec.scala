package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.PqIndex

/** The persistent product-quantization index: probes compute their own
  * ADC tables against the STORED codes and codebook — the corpus is
  * never re-encoded after build.
  */
class PqIndexSpec extends SparkSpec {

  private def sfDir = "/root/testdata/sf0.001"

  private def corpus: DataFrame =
    Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))

  private def probeRows(df: DataFrame) = df.collect()
    .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank"),
      r.getAs[Long]("vec_id"), r.getAs[Long]("adc"),
      r.getAs[Double]("cos"))).toSeq

  test("probe of the corpus by its own query subset equals ann_pq " +
      "row-for-row") {
    val index = PqIndex.build(corpus)
    val got = probeRows(
      PqIndex.probe(index, corpus.filter(col("vec_id") < 8)))
    val want = probeRows(run("ann_pq", sfDir))
    assert(got == want,
      s"index probe must reproduce E10 (got ${got.length}, want ${want.length})")
  }

  test("save/load roundtrip: identical probes, pinned codebook and dials") {
    val dir = Files.createTempDirectory("graft_pqidx").toString + "/index"
    val index = PqIndex.build(corpus)
    PqIndex.save(index, dir)
    val reloaded = PqIndex.load(spark, dir)
    assert(reloaded.k == index.k && reloaded.rerank == index.rerank)
    assert(reloaded.codebook.toSeq == index.codebook.toSeq,
      "the codebook must reload bit-identically — codes are meaningless " +
        "under any other")
    val q = corpus.filter(col("vec_id") < 8)
    assert(probeRows(PqIndex.probe(reloaded, q)) ==
      probeRows(PqIndex.probe(index, q)))
  }

  test("a loaded probe never touches the corpus parquet — codes + " +
      "refine store only") {
    val dir = Files.createTempDirectory("graft_pqidx2").toString + "/index"
    PqIndex.save(PqIndex.build(corpus), dir)
    val reloaded = PqIndex.load(spark, dir)
    // queries come from a literal frame, so the only files the plan can
    // read are the index's own
    val q = spark.createDataFrame(
      corpus.filter(col("vec_id") < 2).collect().map(r =>
        (r.getAs[Long]("vec_id"),
          r.getAs[scala.collection.Seq[Float]]("embedding").toArray)).toSeq)
      .toDF("vec_id", "embedding")
    val df = PqIndex.probe(reloaded, q)
    df.collect()
    val p = plan(df)
    assert(!p.contains(sfDir), s"loaded probe must not rescan the corpus")
    assert(p.contains(dir), "probe must read the saved index frames")
  }

  test("torn save refuses to load") {
    val dir = Files.createTempDirectory("graft_pqidx3").toString + "/index"
    val base = corpus.filter(col("vec_id") < 400)
    PqIndex.save(PqIndex.build(base), dir)
    // torn overwrite: marker false + op=save → load must refuse
    spark.range(1)
      .select(org.apache.spark.sql.functions.lit(false).as("complete"),
        org.apache.spark.sql.functions.lit("save").as("op"))
      .write.mode("overwrite").parquet(s"$dir/complete")
    intercept[IllegalStateException] { PqIndex.load(spark, dir) }
  }

  test("append under the pinned codebook: appended vectors become " +
      "findable; retire removes them; compact bounds files with probe " +
      "parity") {
    val dir = Files.createTempDirectory("graft_pqidx4").toString + "/index"
    val base = corpus.filter(col("vec_id") < 450)
    PqIndex.save(PqIndex.build(base), dir)
    PqIndex.append(dir, corpus.filter(col("vec_id") >= 450))
    val idx = PqIndex.load(spark, dir)
    val q = corpus.filter(col("vec_id") < 8)
    val withAppended = probeRows(PqIndex.probe(idx, q))
    assert(idx.codes.count() == corpus.count())
    // retire an id that currently surfaces in some probe result
    val someHit = withAppended.head._3
    PqIndex.retire(dir, spark.createDataFrame(Seq(Tuple1(someHit)))
      .toDF("vec_id"))
    val afterRetire = probeRows(PqIndex.probe(PqIndex.load(spark, dir), q))
    assert(!afterRetire.exists(_._3 == someHit), "retired id must not surface")
    // compaction: file count bounded, probes identical
    PqIndex.compact(dir, partitions = 2)
    val compacted = PqIndex.load(spark, dir)
    assert(new java.io.File(s"$dir/codes").listFiles()
      .count(_.getName.endsWith(".parquet")) <= 2, "file-count bound")
    assert(probeRows(PqIndex.probe(compacted, q)) == afterRetire,
      "compaction must be probe-invisible")
  }
}
