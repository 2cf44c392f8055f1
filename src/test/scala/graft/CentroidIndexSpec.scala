package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{AnnOps, CentroidIndex}

/** The persistent trained-coarse-quantizer artifact (r16 — the r15
  * verdict's top ask): loading or memoizing the trained centroids must
  * be bit-identical to retraining inline, warm consumers must trigger
  * ZERO training passes, and torn/wrong-geometry artifacts must refuse
  * rather than assign cells under garbage centroids. Plus the
  * dedup-side layout-robustness pin the r15 tune table demanded:
  * trained cells keep their occupancy balanced on cluster-ORDERED
  * ingest where slice seeds collapse.
  */
class CentroidIndexSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("loaded micros == inline-trained micros, to the micro") {
    val e = AnnOps.withNorm(spark, sf)
    val trained = CentroidIndex.trainMicros(e, 16)
    val path = tmp("graft_centidx")
    CentroidIndex.save(spark, trained, AnnOps.IVF_ROUNDS, path)
    val loaded = CentroidIndex.load(spark, path, cells = 16)
    assert(loaded.length == trained.length)
    trained.zip(loaded).foreach { case (a, b) =>
      assert(a.sameElements(b), "loaded centroid differs from trained")
    }
    // and the consumer frame built from loaded micros is row-identical
    // to the inline ivfTrainedCentroids frame
    val fromLoaded = AnnOps.centroidFrame(spark, loaded)
      .orderBy(col("c_id")).collect()
    val inline = AnnOps.ivfTrainedCentroids(e, 16)
      .orderBy(col("c_id")).collect()
    assert(fromLoaded.toSeq == inline.toSeq)
    Caches.releaseScope()
  }

  test("forCorpus memoizes: second lookup trains zero times and " +
      "returns the bit-identical model") {
    operators.Artifact.clearMemos()
    val m1 = CentroidIndex.microsForCorpus(spark, sf, cells = 16)
    val runs = CentroidIndex.trainRuns.get()
    val m2 = CentroidIndex.microsForCorpus(spark, sf, cells = 16)
    assert(CentroidIndex.trainRuns.get() == runs,
      "warm forCorpus lookup must not retrain")
    assert(m1.zip(m2).forall { case (a, b) => a.sameElements(b) })
    // a different geometry is a different artifact — trains once more
    CentroidIndex.microsForCorpus(spark, sf, cells = 16, rounds = 0)
    assert(CentroidIndex.trainRuns.get() == runs + 1)
    Caches.releaseScope()
  }

  test("warm board queries are score-only consumers: ann_ivf/ann_ivfpq/" +
      "dedup_semantic/emb_knn_graph re-runs train zero times") {
    // cold pass warms the one shared artifact for the corpus
    Seq("ann_ivf", "ann_ivfpq", "dedup_semantic", "emb_knn_graph")
      .foreach { k => run(k).collect(); Caches.releaseScope() }
    val runs = CentroidIndex.trainRuns.get()
    Seq("ann_ivf", "ann_ivfpq", "dedup_semantic", "emb_knn_graph")
      .foreach { k => run(k).collect(); Caches.releaseScope() }
    assert(CentroidIndex.trainRuns.get() == runs,
      "a warm board query re-ran coarse Lloyd training — the r15 " +
        "per-invocation-training regression is back")
  }

  test("torn save refuses to load") {
    val e = AnnOps.withNorm(spark, sf)
    val path = tmp("graft_centidx_torn")
    CentroidIndex.save(spark, CentroidIndex.trainMicros(e, 16),
      AnnOps.IVF_ROUNDS, path)
    // simulate the crash: marker back to incomplete
    spark.range(1).select(lit(false).as("complete"))
      .write.mode("overwrite").parquet(s"$path/complete")
    val ex = intercept[IllegalStateException] {
      CentroidIndex.load(spark, path, cells = 16)
    }
    assert(ex.getMessage.contains("partial save"))
    Caches.releaseScope()
  }

  test("wrong-geometry artifact refuses (cells, rounds, dim)") {
    val e = AnnOps.withNorm(spark, sf)
    val path = tmp("graft_centidx_geom")
    CentroidIndex.save(spark, CentroidIndex.trainMicros(e, 16),
      AnnOps.IVF_ROUNDS, path)
    assert(intercept[IllegalStateException] {
      CentroidIndex.load(spark, path, cells = 32)
    }.getMessage.contains("cells=16"))
    assert(intercept[IllegalStateException] {
      CentroidIndex.load(spark, path, cells = 16, rounds = 0)
    }.getMessage.contains("rounds=2"))
    Caches.releaseScope()
  }

  test("incomplete seed slice fails with the contract named, not a " +
      "bare key miss") {
    // 40 vectors with ids 0..39: the [8, 8+64) slice is short
    val dir = tmp("graft_centidx_seed")
    val rnd = new scala.util.Random(7)
    val rows = (0 until 40).map { i =>
      (i.toLong, Seq.fill(64)(rnd.nextGaussian().toFloat), 0)
    }
    spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val ex = intercept[IllegalArgumentException] {
      AnnOps.ivfTrainMicros(AnnOps.withNorm(spark, dir), 64, 1)
    }
    assert(ex.getMessage.contains("coarse seed slice"))
    Caches.releaseScope()
  }

  /** 512 unit vectors in 16 Gaussian clusters ORDERED BY CLUSTER (the
    * AnnSpec sortedClusteredDir layout — grouped-by-source ingest): the
    * seed slice [8, 24) lands entirely inside cluster 0.
    */
  private lazy val sortedDir: String = {
    val dir = tmp("graft_centidx_sorted")
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(16, 64)(rnd.nextGaussian())
    def unit(v: Array[Double]): Seq[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat).toSeq
    }
    val rows = (0 until 512).map { i =>
      val cl = i / 32
      (i.toLong, unit(centers(cl).map(_ + 0.35 * rnd.nextGaussian())), cl)
    }
    spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("cluster-SORTED corpus: trained cells balance the occupancy " +
      "that slice seeds collapse (the D11/E14 candidate generator)") {
    val e = AnnOps.withNorm(spark, sortedDir)
    def occupancy(rounds: Int): Seq[Long] = {
      val cent = AnnOps.centroidFrame(spark,
        CentroidIndex.trainMicros(e, 16, rounds))
      val (assign, _) = AnnOps.cellBucketedPairs(e, cent, None)
      assign.groupBy(col("cell")).count().collect()
        .map(_.getAs[Long]("count")).toSeq
    }
    val slice = occupancy(rounds = 0)
    val trained = occupancy(rounds = AnnOps.IVF_ROUNDS)
    // the slice seeds tile cluster 0, so most of the corpus piles into
    // the few cells whose Voronoi boundary happens to face it — the max
    // cell holds a large corpus share; Lloyd rounds pull centroids onto
    // the real clusters and flatten the histogram. Both effects are the
    // in-cell pair-work bound D11/E14's quadratic depends on.
    info(s"slice-seeded occupancy: ${slice.sorted.reverse.take(5)} over " +
      s"${slice.size} non-empty cells; trained: " +
      s"${trained.sorted.reverse.take(5)} over ${trained.size}")
    assert(trained.max < slice.max,
      s"trained max occupancy ${trained.max} must undercut slice-seeded " +
        s"${slice.max} on cluster-ordered ingest")
    // the quadratic pair work (Σ occ²) — the actual D11/E14 cost —
    // must shrink (live-cell COUNT may drop by a merge: two seeds from
    // the same cluster converging is fine; what matters is the bound)
    def pairWork(o: Seq[Long]): Long = o.map(c => c * c).sum
    assert(pairWork(trained) < pairWork(slice),
      s"in-cell pair work ${pairWork(trained)} !< ${pairWork(slice)}")
    Caches.releaseScope()
  }

  test("size-adaptive Lloyd engines: driver-local micros == " +
      "distributed micros, to the micro (r20)") {
    val e = AnnOps.withNorm(spark, sf)
    // default gate: the gate corpus sits far below the work budget, so
    // this takes the driver-local engine
    val local = AnnOps.ivfTrainMicros(e, 16, AnnOps.IVF_ROUNDS)
    // localMax = 0 disables the local engine (the LocalWalk convention)
    val dist = AnnOps.ivfTrainMicros(e, 16, AnnOps.IVF_ROUNDS, localMax = 0)
    assert(local.length == dist.length)
    local.zip(dist).zipWithIndex.foreach { case ((a, b), c) =>
      assert(a.sameElements(b),
        s"cell $c: local engine centroid differs from distributed")
    }
    Caches.releaseScope()
  }
}
