package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.lit

import graft.operators._

/** The shared artifact contract ([[operators.Artifact]]), pinned once
  * for every writer: a directory with no completion marker, or with an
  * incomplete one, refuses to load with the same wording whichever
  * artifact reads it — also the `op=append` marker an earlier build's
  * in-place append left behind.
  */
class ArtifactContractSpec extends SparkSpec {

  private val loaders: Seq[(String, String => Any)] = Seq(
    "AnnIndex" -> (AnnIndex.load(spark, _)),
    "CentroidIndex" -> (CentroidIndex.load(spark, _, AnnOps.CENTROIDS)),
    "DedupIndex" -> (DedupIndex.load(spark, _)),
    "IvfPqIndex" -> (IvfPqIndex.load(spark, _)),
    "KnnIndex" -> (KnnIndex.load(spark, _)),
    "LangIndex" -> (LangIndex.load(spark, _)),
    "LmIndex" -> (LmIndex.load(spark, _)),
    "LmIndex(3)" -> (LmIndex.load3(spark, _)),
    "PqIndex" -> (PqIndex.load(spark, _)),
    "QualityIndex" -> (QualityIndex.load(spark, _)),
    "TokenizerIndex" -> (TokenizerIndex.load(spark, _)),
    "UnigramLm" -> (UnigramLm.load(spark, _)))

  private def dir(tag: String): String = {
    val d = Files.createTempDirectory("graft_contract").resolve(tag)
    Files.createDirectories(d)
    d.toString
  }

  private def refusal(load: String => Any, path: String): String =
    intercept[IllegalStateException](load(path)).getMessage

  loaders.foreach { case (kind, load) =>
    test(s"$kind: no marker refuses; an incomplete marker refuses as " +
        "a partial op, a marker without op reading as save") {
      val bare = dir(kind)
      val none = refusal(load, bare)
      assert(none.contains("no completion marker") && none.contains(kind),
        none)
      spark.range(1).select(lit(false).as("complete"))
        .write.mode("overwrite").parquet(s"$bare/complete")
      val torn = refusal(load, bare)
      assert(torn.contains("partial save") && torn.contains(kind), torn)
      spark.range(1).select(lit(false).as("complete"), lit("append").as("op"))
        .write.mode("overwrite").parquet(s"$bare/complete")
      val legacy = refusal(load, bare)
      assert(legacy.contains("partial append") && legacy.contains("rebuild or re-save it"),
        legacy)
    }
  }

  test("the save bracket leaves the op's incomplete marker when a write " +
      "fails, and closes it only after every write") {
    val d = dir("bracket")
    intercept[RuntimeException] {
      Artifact.save(spark, d) { throw new RuntimeException("crash") }
    }
    val e = intercept[IllegalStateException](Artifact.open(spark, d, "Thing"))
    assert(e.getMessage.contains("partial save"), e.getMessage)
    Artifact.save(spark, d) {
      Artifact.inParallel(
        () => spark.range(3).write.mode("overwrite").parquet(s"$d/a"),
        () => spark.range(5).write.mode("overwrite").parquet(s"$d/b"))
    }
    Artifact.open(spark, d, "Thing")
    assert(spark.read.parquet(s"$d/a").count() == 3 &&
      spark.read.parquet(s"$d/b").count() == 5)
    val failed = intercept[IllegalStateException] {
      Artifact.inParallel(() => (), () => throw new IllegalStateException("w"))
    }
    assert(failed.getMessage == "w", "a failed parallel write must surface")
  }

  test("memo-built directories share one per-JVM root") {
    val a = new java.io.File(Artifact.scratchDir("graft_a"))
    val b = new java.io.File(Artifact.scratchDir("graft_b"))
    assert(a.isDirectory && b.isDirectory && a != b)
    assert(a.getParentFile == b.getParentFile)
  }
}
