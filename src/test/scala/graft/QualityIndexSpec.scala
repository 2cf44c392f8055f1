package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{QualityClassifier, QualityIndex}

/** The persistent quality-model artifact: loaded scoring must equal
  * inline-trained scoring to the micro, and a loaded consumer's plan
  * must read nothing but the corpus it scores — no training frames, no
  * label join, no epochs.
  */
class QualityIndexSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf)

  test("save/load roundtrip is bit-exact and loaded scores equal " +
      "inline-trained scores to the micro") {
    val dir = Files.createTempDirectory("graft_qidx").toString + "/index"
    val trained = QualityIndex.train(docs)
    Caches.releaseScope()
    QualityIndex.save(spark, trained, dir)
    val loaded = QualityIndex.load(spark, dir)
    assert(loaded.weights.toSeq == trained.weights.toSeq &&
      loaded.bias == trained.bias,
      "weights and bias must reload bit-identically")
    def scores(m: QualityClassifier.Model) =
      QualityIndex.score(docs, m).orderBy(col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val got = scores(loaded)
    assert(got == scores(trained) && got.nonEmpty,
      "loaded-model scores must equal inline-trained scores to the micro")
  }

  test("a loaded consumer reads ONLY the corpus: one scan, no join, no " +
      "training frames in the scoring plan") {
    val dir = Files.createTempDirectory("graft_qidx2").toString + "/index"
    QualityIndex.save(spark, QualityIndex.train(docs), dir)
    Caches.releaseScope()
    val df = QualityIndex.score(docs, QualityIndex.load(spark, dir))
    df.count()
    val p = plan(df)
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"scoring under a loaded model must scan exactly one table:\n$p")
    assert(!p.toLowerCase.contains("join"),
      s"scoring under a loaded model must not join anything:\n$p")
  }

  test("torn save refuses to load; a model from a different feature " +
      "space refuses to load") {
    val dir = Files.createTempDirectory("graft_qidx3").toString + "/index"
    val model = QualityIndex.train(docs)
    Caches.releaseScope()
    QualityIndex.save(spark, model, dir)
    spark.range(1).select(lit(false).as("complete"))
      .write.mode("overwrite").parquet(s"$dir/complete")
    intercept[IllegalStateException] { QualityIndex.load(spark, dir) }
    // wrong bucket count: weights hashed into a different feature space
    // must refuse, not score garbage
    spark.range(1).select(
      typedLit(Seq.fill(128)(0L)).as("weights"), lit(0L).as("bias"),
      lit(128).as("num_buckets"),
      lit(QualityClassifier.Epochs).as("epochs"),
      lit(QualityClassifier.EtaDen).as("eta_den"),
      lit(QualityClassifier.BetaNum).as("beta_num"),
      lit(QualityClassifier.BetaDen).as("beta_den"),
      lit(QualityClassifier.PredThreshold).as("pred_threshold"))
      .write.mode("overwrite").parquet(s"$dir/model")
    spark.range(1).select(lit(true).as("complete"))
      .write.mode("overwrite").parquet(s"$dir/complete")
    intercept[IllegalStateException] { QualityIndex.load(spark, dir) }
  }

  test("forCorpus trains at most once per corpus directory and every " +
      "board consumer sees the identical model") {
    operators.Artifact.clearMemos()
    val m1 = QualityIndex.forCorpus(spark, sf)
    Caches.releaseScope()
    val m2 = QualityIndex.forCorpus(spark, sf)
    assert(m1 eq m2, "second lookup must return the memoized model, " +
      "not retrain")
    // the board op scores under exactly this model
    val viaBoard = run("quality_classifier")
      .select(col("doc_id"), col("score_micros")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val direct = QualityIndex.score(docs, m1)
      .orderBy(col("doc_id"))
      .select(col("doc_id"), col("score_micros")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaBoard == direct)
    Caches.releaseScope()
  }
}
