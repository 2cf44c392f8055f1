package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{LangClassifier, LangIndex, QualityClassifier}

/** The persistent learned-langid artifact: loaded scoring must equal
  * inline-trained scoring to the micro, a loaded consumer's plan must
  * read nothing but the corpus it scores (no training frames, no label
  * join, no epochs), and incompatible artifacts (torn save, different
  * feature space, permuted class order) must refuse to load.
  */
class LangIndexSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf)

  private def allScores(m: LangClassifier.Model) =
    LangIndex.score(docs, m).orderBy(col("doc_id")).collect()
      .map(_.toSeq).toSeq

  test("save/load roundtrip is bit-exact and loaded scores equal " +
      "inline-trained scores to the micro") {
    val dir = Files.createTempDirectory("graft_lidx").toString + "/index"
    val trained = LangIndex.train(docs)
    Caches.releaseScope()
    LangIndex.save(spark, trained, dir)
    val loaded = LangIndex.load(spark, dir)
    assert(loaded.weights.map(_.toSeq).toSeq ==
      trained.weights.map(_.toSeq).toSeq &&
      loaded.bias.toSeq == trained.bias.toSeq,
      "per-language weights and biases must reload bit-identically")
    val got = allScores(loaded)
    assert(got == allScores(trained) && got.nonEmpty,
      "loaded-model scores must equal inline-trained scores to the micro")
  }

  test("a loaded consumer reads ONLY the corpus: one scan, no join, no " +
      "training frames in the scoring plan") {
    val dir = Files.createTempDirectory("graft_lidx2").toString + "/index"
    LangIndex.save(spark, LangIndex.train(docs), dir)
    Caches.releaseScope()
    val df = LangIndex.score(docs, LangIndex.load(spark, dir))
    df.count()
    val p = plan(df)
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"scoring under a loaded model must scan exactly one table:\n$p")
    assert(!p.toLowerCase.contains("join"),
      s"scoring under a loaded model must not join anything:\n$p")
  }

  test("torn save, wrong feature space, and permuted class order all " +
      "refuse to load") {
    val dir = Files.createTempDirectory("graft_lidx3").toString + "/index"
    val model = LangIndex.train(docs)
    Caches.releaseScope()
    LangIndex.save(spark, model, dir)
    // torn save
    spark.range(1).select(lit(false).as("complete"))
      .write.mode("overwrite").parquet(s"$dir/complete")
    intercept[IllegalStateException] { LangIndex.load(spark, dir) }
    spark.range(1).select(lit(true).as("complete"))
      .write.mode("overwrite").parquet(s"$dir/complete")
    // wrong bucket count: weights hashed into a different feature space
    def writeConfig(numBuckets: Int, langs: Seq[String]): Unit =
      spark.range(1).select(
        lit(numBuckets).as("num_buckets"),
        lit(QualityClassifier.Epochs).as("epochs"),
        lit(LangClassifier.EtaDen).as("eta_den"),
        lit(QualityClassifier.BetaNum).as("beta_num"),
        lit(QualityClassifier.BetaDen).as("beta_den"),
        typedLit(langs).as("langs"))
        .write.mode("overwrite").parquet(s"$dir/config")
    writeConfig(128, LangIndex.langs)
    intercept[IllegalStateException] { LangIndex.load(spark, dir) }
    // permuted class order: a cascade trained in a different order would
    // mislabel, not fail — must refuse
    writeConfig(QualityClassifier.NumBuckets, LangIndex.langs.reverse)
    intercept[IllegalStateException] { LangIndex.load(spark, dir) }
    // restoring the true config loads again
    writeConfig(QualityClassifier.NumBuckets, LangIndex.langs)
    assert(LangIndex.load(spark, dir).bias.toSeq == model.bias.toSeq)
  }

  test("forCorpus trains at most once per corpus fingerprint and the " +
      "board op scores under exactly the memoized model") {
    operators.Artifact.clearMemos()
    val m1 = LangIndex.forCorpus(spark, sf)
    Caches.releaseScope()
    val m2 = LangIndex.forCorpus(spark, sf)
    assert(m1 eq m2, "second lookup must return the memoized model, " +
      "not retrain")
    val langs = LangIndex.langs
    val viaBoard = run("text_langid_learned")
      .select(col("doc_id") +: langs.map(l => col(s"p_$l")): _*)
      .collect().map(_.toSeq).toSeq
    val direct = LangIndex.score(docs, m1).orderBy(col("doc_id"))
      .select(col("doc_id") +: langs.map(l => col(s"p_$l")): _*)
      .collect().map(_.toSeq).toSeq
    assert(viaBoard == direct)
    Caches.releaseScope()
  }
}
