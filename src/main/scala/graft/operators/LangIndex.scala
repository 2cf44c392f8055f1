package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Caches

/** Persistent learned-langid artifact — the [[QualityIndex]] pattern
  * applied to [[LangClassifier]] (the r14 verdict's top ask): train the
  * multiclass char-trigram model ONCE per corpus, persist it
  * in one commit, and let every scoring consumer run a single
  * map-only corpus scan under the literal weight arrays instead of
  * re-paying [[QualityClassifier.Epochs]] treeAggregate training epochs
  * inline. Langid is the FIRST gate of the CCNet-style deployment shape
  * (language → quality → dedup), so at 100 TB it is the most-invoked
  * learned model in the pipeline; a per-query retrain there is a full
  * corpus training pass per consumer — the exact economics QualityIndex
  * fixed for the C18 classifier in r14.
  *
  * The model is CONFIG-sized (langs × ([[QualityClassifier.NumBuckets]]
  * + 1) longs ≈ 10 KB for 5 languages) and deterministic (integer-micros
  * training, engine-exact — the DuckDB oracle replays the identical
  * unrolled rounds), so scoring under a loaded artifact is
  * bit-indistinguishable from an inline retrain (LangIndexSpec pins
  * loaded ≡ trained to the micro). [[forCorpus]] memoizes per corpus
  * directory+fingerprint for the board harness — the driver-object
  * analogue of [[load]]ing a saved artifact; it holds no executor
  * memory, so [[Caches]] per-query scope discipline is unaffected.
  */
object LangIndex {
  import LangClassifier.Model

  /** Class-index order — fixed by [[TextOps.langStop]] list order, the
    * single source of truth the argmax cascade and the oracle's VALUES
    * list also derive from.
    */
  def langs: Seq[String] = TextOps.langStop.map(_._1)

  /** Weak labels distilled from C3's stopword heuristic —
    * (doc_id, heur_lang). The teacher signal shared by training and the
    * C23 report's agreement column (one definition, no drift).
    */
  def heurLabels(docs: DataFrame): DataFrame =
    TextOps.langScores(docs)
      .select(col("doc_id"), TextOps.langArgmax("s_").as("heur_lang"))

  /** Train the multiclass model over a documents frame: heuristic weak
    * labels, then [[LangClassifier]]'s jointly-trained one-vs-all loop.
    * One corpus scan into the persisted (features ⋈ labels) frame, then
    * [[QualityClassifier.Epochs]] model-sized treeAggregate epochs.
    */
  def train(docs: DataFrame): Model = {
    val df = Caches.persist(
      LangClassifier.docFrame(docs).join(heurLabels(docs), "doc_id"))
    LangClassifier.train(
      LangClassifier.buildTrainData(df, langs, labelCol = "heur_lang"),
      langs.length)
  }

  /** Score documents under a (loaded or trained) model:
    * (doc_id, p_&lt;lang&gt;…, learned_lang). The artifact-consumer plan:
    * ONE corpus scan → hashed char-trigram features → per-doc fold under
    * the literal weight arrays → shared argmax cascade. No labels, no
    * training frames, no join — LangIndexSpec asserts the plan reads
    * exactly one table. Docs with < 3 normalized code points carry no
    * trigram and are excluded (the [[LangClassifier]] contract).
    */
  def score(docs: DataFrame, model: Model): DataFrame = {
    val scored = langs.zipWithIndex.foldLeft(LangClassifier.docFrame(docs)) {
      case (acc, (l, i)) =>
        acc.withColumn(s"p_$l",
          QualityClassifier.scoreCol(model.weights(i), model.bias(i)))
    }
    scored.select(col("doc_id") +: langs.map(l => col(s"p_$l")) :+
      TextOps.langArgmax("p_").as("learned_lang"): _*)
  }

  // ---- persistence (the artifact contract, [[Artifact]]) ----

  /** Persist the per-language weight vectors + biases plus the
    * feature/training config that makes them meaningful (bucket count,
    * epoch/step dials, the class order), as one commit
    * ([[Artifact.save]]). One row per language keyed by class index, so
    * the artifact is self-describing about its own argmax order.
    */
  def save(spark: SparkSession, model: Model, path: String): Unit = {
    import spark.implicits._
    Artifact.save(spark, path) { dir =>
      langs.zipWithIndex.map { case (l, i) =>
        (i, l, model.weights(i).toSeq, model.bias(i))
      }.toDF("lang_idx", "lang", "weights", "bias")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/model")
      spark.range(0L, 1L, 1L, 1).select(
        lit(QualityClassifier.NumBuckets).as("num_buckets"),
        lit(QualityClassifier.Epochs).as("epochs"),
        lit(LangClassifier.EtaDen).as("eta_den"),
        lit(QualityClassifier.BetaNum).as("beta_num"),
        lit(QualityClassifier.BetaDen).as("beta_den"),
        typedLit(langs).as("langs"))
        .write.mode("overwrite").parquet(s"$dir/config")
    }
  }

  /** Reopen a saved model. Refuses a partial save, a model whose
    * feature space disagrees with this engine's hasher, and a model
    * whose class list/order disagrees with [[TextOps.langStop]] —
    * weights scored under a permuted argmax cascade would mislabel,
    * not fail.
    */
  def load(spark: SparkSession, path: String): Model = {
    Artifact.open(spark, path, "LangIndex")
    val cfg = spark.read.parquet(s"$path/config").head()
    val nb = cfg.getAs[Int]("num_buckets")
    if (nb != QualityClassifier.NumBuckets)
      throw new IllegalStateException(
        s"LangIndex at $path was trained with $nb feature buckets; " +
          s"this engine hashes into ${QualityClassifier.NumBuckets}")
    val savedLangs = cfg.getAs[scala.collection.Seq[String]]("langs").toSeq
    if (savedLangs != langs)
      throw new IllegalStateException(
        s"LangIndex at $path was trained over classes $savedLangs; " +
          s"this engine's cascade order is $langs")
    val rows = spark.read.parquet(s"$path/model")
      .orderBy(col("lang_idx")).collect()
    require(rows.length == langs.length,
      s"model has ${rows.length} classes, expected ${langs.length}")
    val w = rows.map(_.getAs[scala.collection.Seq[Long]]("weights").toArray)
    rows.zip(langs).foreach { case (r, l) =>
      require(r.getAs[String]("lang") == l,
        s"class order mismatch at idx ${r.getAs[Int]("lang_idx")}")
    }
    Model(w, rows.map(_.getAs[Long]("bias")))
  }

  // ---- board consumption (train-once per corpus) ----

  private val memo = new Artifact.Memo[Model]

  /** The corpus' trained model, derived at most once per (directory,
    * documents-fingerprint) per session — the board-harness stand-in
    * for [[load]]ing a saved artifact. Keyed on the corpus fingerprint
    * (file names/sizes/mtimes of documents.parquet), so an in-session
    * rewrite of the corpus invalidates the memo instead of silently
    * scoring under a stale model. Training is deterministic, so this
    * returns the bit-identical model an inline retrain would.
    */
  def forCorpus(s: SparkSession, d: String): Model =
    memo(QualityIndex.corpusKey(d))(train(graft.Tables.documents(s, d)))
}
