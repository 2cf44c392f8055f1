package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{AnnOps, CentroidIndex, EmbeddingOps, KnnIndex}

/** The persistent k-NN graph artifact: a loaded index must reproduce
  * E14's edges exactly, refuse torn saves, append by re-knning ONLY the
  * affected cells (≡ a full rebuild under the frozen quantizer), and
  * retire by dropping every edge touching a retired id.
  */
class KnnIndexSpec extends SparkSpec {

  private def sfDir = "/root/testdata/sf0.001"

  private def edgeRows(df: DataFrame) = df.collect()
    .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rank"),
      r.getAs[Long]("nbr_id"), r.getAs[Double]("cos"))).toSeq

  test("save/load roundtrip reproduces emb_knn_graph row-for-row, " +
      "and the board query is a loaded read (zero training)") {
    val dir = Files.createTempDirectory("graft_knn").toString + "/knn"
    val index = KnnIndex.build(
      Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding")))
    KnnIndex.save(index, dir)
    val loaded = KnnIndex.load(spark, dir)
    assert(loaded.cells == index.cells && loaded.k == index.k &&
      loaded.sub == index.sub)
    assert(loaded.micros.map(_.toSeq).toSeq ==
      index.micros.map(_.toSeq).toSeq,
      "the pinned quantizer must reload bit-identically")
    val want = edgeRows(run("emb_knn_graph", sfDir))
    assert(edgeRows(KnnIndex.neighbors(loaded)) == want,
      "loaded edges must reproduce E14")
    // warm board query: the forCorpus memo serves a saved artifact —
    // no NEW coarse training runs
    val trainsBefore = CentroidIndex.trainRuns.get()
    run("emb_knn_graph", sfDir).collect()
    assert(CentroidIndex.trainRuns.get() == trainsBefore,
      "a warm emb_knn_graph must not retrain the quantizer")
  }

  test("torn save refuses to load") {
    val dir = Files.createTempDirectory("graft_knn_torn").toString + "/knn"
    val index = KnnIndex.build(
      Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding")))
    KnnIndex.save(index, dir)
    // an earlier build's torn in-place save: the marker never flipped back
    spark.range(1)
      .select(lit(false).as("complete"), lit("save").as("op"))
      .write.mode("overwrite").parquet(s"$dir/complete")
    val e = intercept[IllegalStateException](KnnIndex.load(spark, dir))
    assert(e.getMessage.contains("partial save"))
  }

  test("append re-knns only the batch's cells and equals a full " +
      "rebuild under the frozen quantizer") {
    val all = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val a = all.filter(col("vec_id") < 150)
    val b = all.filter(col("vec_id") >= 150)
    // quantizer trained on A only, then FROZEN (the family contract)
    val eA = Caches.persist(AnnOps.withNormDf(a))
    val micros = CentroidIndex.trainMicros(eA, AnnOps.CENTROIDS)
    val dir = Files.createTempDirectory("graft_knn_app").toString + "/knn"
    KnnIndex.save(KnnIndex.buildFrom(eA, micros, AnnOps.CENTROIDS,
      AnnOps.IVF_ROUNDS, None), dir)
    KnnIndex.append(dir, b)
    val appended = KnnIndex.load(spark, dir)
    val full = KnnIndex.buildFrom(
      Caches.persist(AnnOps.withNormDf(all)), micros, AnnOps.CENTROIDS,
      AnnOps.IVF_ROUNDS, None)
    assert(edgeRows(KnnIndex.neighbors(appended)) ==
      edgeRows(KnnIndex.neighbors(full)),
      "appended graph must equal the frozen-quantizer rebuild")
    // replaying the same batch is a no-op
    KnnIndex.append(dir, b)
    assert(edgeRows(KnnIndex.neighbors(KnnIndex.load(spark, dir))) ==
      edgeRows(KnnIndex.neighbors(full)), "append replay must fold in")
    Caches.releaseScope()
  }

  test("retire drops members, seeds and every edge touching a retired " +
      "id, in-session and on disk") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_knn_ret").toString + "/knn"
    val index = KnnIndex.build(
      Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding")))
    KnnIndex.save(index, dir)
    val before = edgeRows(KnnIndex.neighbors(KnnIndex.load(spark, dir)))
    val victim = before.head._3 // someone's neighbor — edges must vanish
    KnnIndex.retire(dir, Seq(victim).toDF("vec_id"))
    val after = KnnIndex.load(spark, dir)
    val rows = edgeRows(KnnIndex.neighbors(after))
    assert(rows.nonEmpty)
    assert(!rows.exists(r => r._1 == victim || r._3 == victim),
      "a retired id must appear on neither edge endpoint")
    assert(after.vectors.filter(col("vec_id") === victim).count() == 0)
    assert(after.seeds.filter(col("vec_id") === victim).count() == 0)
    assert(rows.toSet ==
      before.filterNot(r => r._1 == victim || r._3 == victim).toSet,
      "untouched edges must survive the rewrite unchanged")
  }

  test("retiring ALL of a populated cell's seed members replenishes " +
      "its entry points from survivors (r18 advisory)") {
    import spark.implicits._
    val index = KnnIndex.build(
      Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding")))
    val seedsByCell = index.seeds.collect()
      .map(r => (r.getAs[Long]("cell"), r.getAs[Long]("vec_id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val memberCount = index.vectors.groupBy(col("cell")).count().collect()
      .map(r => r.getAs[Long]("cell") -> r.getAs[Long]("count")).toMap
    // a cell that keeps members even after every seed is retired
    val cell = memberCount.filter { case (c, n) =>
      n > seedsByCell(c).size + 2 }.keys.min
    val victims = seedsByCell(cell).toSeq.sorted
    val after = KnnIndex.retire(index, victims.toDF("vec_id"))
    val survivors = after.vectors.filter(col("cell") === cell)
      .select(col("vec_id")).collect().map(_.getLong(0)).sorted
    val newSeeds = after.seeds.filter(col("cell") === cell)
      .orderBy(col("s_rank")).collect().map(_.getAs[Long]("vec_id"))
    assert(newSeeds.nonEmpty,
      "a populated cell must never be left without beam entry points")
    assert(newSeeds.toSeq ==
      survivors.take(seedsByCell(cell).size).toSeq,
      "replenished seeds must be the lowest-id SURVIVING members")
    // untouched cells keep their stored ranks bit-identically
    val otherBefore = index.seeds.filter(col("cell") =!= cell).collect()
      .map(r => (r.getAs[Long]("cell"), r.getAs[Long]("s_rank"),
        r.getAs[Long]("vec_id"))).toSet
    val otherAfter = after.seeds.filter(col("cell") =!= cell).collect()
      .map(r => (r.getAs[Long]("cell"), r.getAs[Long]("s_rank"),
        r.getAs[Long]("vec_id"))).toSet
    assert(otherAfter == otherBefore)
    Caches.releaseScope()
  }

  test("a pre-r18 artifact (no div column, no fingerprint marker " +
      "fields) still loads, defaulting div=false (r18 advisory)") {
    val dir = Files.createTempDirectory("graft_knn_old").toString + "/knn"
    val index = KnnIndex.build(
      Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding")))
    KnnIndex.save(index, dir)
    // rewrite meta and marker with the pre-r18 schemas
    val oldMeta = spark.read.parquet(s"$dir/meta").drop("div").collect()
    val oldMetaSchema = spark.read.parquet(s"$dir/meta").drop("div").schema
    spark.createDataFrame(
        java.util.Arrays.asList(oldMeta: _*), oldMetaSchema)
      .write.mode("overwrite").parquet(s"$dir/meta.old")
    spark.read.parquet(s"$dir/meta.old")
      .write.mode("overwrite").parquet(s"$dir/meta")
    spark.range(1)
      .select(lit(true).as("complete"), lit("save").as("op"))
      .write.mode("overwrite").parquet(s"$dir/complete")
    val loaded = KnnIndex.load(spark, dir)
    assert(!loaded.div, "a pre-r18 index must default to plain edges")
    assert(edgeRows(KnnIndex.neighbors(loaded)) ==
      edgeRows(KnnIndex.neighbors(index)),
      "the old-schema artifact must reload its edges intact")
    Caches.releaseScope()
  }
}
