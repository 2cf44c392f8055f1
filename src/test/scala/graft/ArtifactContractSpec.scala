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

  test("a save lands its writes in one commit; one whose write fails " +
      "leaves the previous artifact and nothing staged") {
    val d = dir("commit")
    def save(a: Long, b: Long): Unit = Artifact.save(spark, d) { staged =>
      DriverPool.inParallel(spark)(
        () => spark.range(a).write.parquet(s"$staged/a"),
        () => spark.range(b).write.parquet(s"$staged/b"))
    }
    def counts = {
      Artifact.open(spark, d, "Thing")
      (spark.read.parquet(s"$d/a").count(), spark.read.parquet(s"$d/b").count())
    }
    save(3, 5)
    assert(counts == ((3L, 5L)))
    intercept[RuntimeException] {
      Artifact.save(spark, d) { staged =>
        spark.range(7).write.parquet(s"$staged/a")
        throw new RuntimeException("crash")
      }
    }
    assert(counts == ((3L, 5L)), "the previous artifact serves")
    assert(Files.list(java.nio.file.Paths.get(d + ".pending")).count() == 0,
      "nothing is left staged")
    save(4, 6)
    assert(counts == ((4L, 6L)), "a save over an artifact replaces its frames")
    val failed = intercept[IllegalStateException] {
      DriverPool.inParallel(spark)(() => (), () => throw new IllegalStateException("w"))
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
