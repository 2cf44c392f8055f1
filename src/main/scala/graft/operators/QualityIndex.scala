package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{Caches, Tables}

/** Persistent learned-quality-model artifact — the [[TokenizerIndex]]
  * pattern applied to C18's classifier (the r13 verdict's highest-
  * leverage ask): train ONCE, persist the weights + feature config
  * in one commit, and let every consumer (the C18 report, D16's
  * quality-aware canonicals, G12b's quality-aware funnel) SCORE against
  * the artifact instead of re-running the 16 treeAggregate training
  * epochs inline. At 100 TB the difference is a full corpus training
  * pass per consumer query vs one map-only scoring scan — the same
  * economics that made the reference persist its serialized state in
  * sink tables consumers re-read (sinks/base_sink.py:171-201).
  *
  * The model is CONFIG-sized ([[QualityClassifier.NumBuckets]]+1 longs
  * ≈ 2 KB) and deterministic (every training floor is engine-exact —
  * the oracle replays the loop as unrolled CTEs and lands on the
  * bit-identical model), so scoring under a loaded artifact is
  * indistinguishable from scoring under an inline retrain
  * (QualityIndexSpec pins loaded ≡ trained to the micro). [[forCorpus]]
  * memoizes the trained model per corpus directory for the board
  * harness, whose queries receive a bare (session, dir): the memo is
  * the driver-object analogue of loading the saved artifact — it holds
  * NO executor memory and no corpus-derived frame, so the [[Caches]]
  * per-query scope discipline is unaffected; what it removes is
  * exactly the redundant retrain a deployment never pays.
  */
object QualityIndex {
  import QualityClassifier.Model

  /** C18's weak-label column (the C2 heuristic gate distilled to a 0/1
    * label) — the one place the label recipe lives engine-side, shared
    * by training and the C18 report.
    */
  private[operators] def labelCol: Column =
    (TextOps.qualityScoreCol > lit(0.5)).cast(LongType).as("y")

  /** Train the classifier over a documents frame: weak labels from the
    * C2 gate, [[QualityClassifier]]'s preconditioned full-batch GD.
    * One corpus scan into the persisted doc frame, then
    * [[QualityClassifier.Epochs]] model-sized treeAggregate epochs.
    */
  def train(docs: DataFrame): Model = {
    val labels = docs.select(col("doc_id"), labelCol)
    val df = Caches.persist(
      QualityClassifier.docFrame(docs).join(labels, "doc_id"))
    QualityClassifier.train(QualityClassifier.buildTrainData(df))
  }

  /** Score documents under a (loaded or trained) model:
    * (doc_id, score_micros, is_quality_pred). The artifact-consumer
    * plan: ONE corpus scan → hashed-gram features → per-doc fold under
    * the literal weight array. No label computation, no training
    * frames, no join — QualityIndexSpec asserts the plan reads exactly
    * one table.
    */
  def score(docs: DataFrame, model: Model): DataFrame =
    scoreWith(docs, model, Seq.empty)

  /** [[score]] plus per-doc pass-through columns computed in the SAME
    * corpus scan ([[QualityClassifier.docFrameWith]], r20): the
    * scoring consumers that used to join a second `documents`
    * projection back on doc_id (labels, token counts, funnel columns)
    * get one scan, one exchange, no join. Output:
    * (doc_id, extras..., score_micros, is_quality_pred).
    */
  def scoreWith(
      docs: DataFrame, model: Model,
      extra: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    val p = QualityClassifier.scoreCol(model.weights, model.bias)
    QualityClassifier.docFrameWith(docs, extra)
      .select(col("doc_id") +: extra.map(e => col(e._1)) :+
        p.as("score_micros") :+
        (p >= lit(QualityClassifier.PredThreshold)).as("is_quality_pred"): _*)
  }

  // ---- persistence (the artifact contract, [[Artifact]]) ----

  /** Persist weights + bias + the feature/training config that makes
    * the weights meaningful (bucket count, epoch/step dials, decision
    * threshold), as one commit ([[Artifact.save]]).
    */
  def save(spark: SparkSession, model: Model, path: String): Unit =
    Artifact.save(spark, path) { dir =>
      spark.range(0L, 1L, 1L, 1).select(
        typedLit(model.weights.toSeq).as("weights"),
        lit(model.bias).as("bias"),
        lit(QualityClassifier.NumBuckets).as("num_buckets"),
        lit(QualityClassifier.Epochs).as("epochs"),
        lit(QualityClassifier.EtaDen).as("eta_den"),
        lit(QualityClassifier.BetaNum).as("beta_num"),
        lit(QualityClassifier.BetaDen).as("beta_den"),
        lit(QualityClassifier.PredThreshold).as("pred_threshold"))
        .write.mode("overwrite").parquet(s"$dir/model")
    }

  /** Reopen a saved model. Refuses a partial save, and refuses a model
    * whose feature space disagrees with this engine's hasher — weights
    * hashed into a different bucket count would score garbage, not
    * fail.
    */
  def load(spark: SparkSession, path: String): Model = {
    Artifact.open(spark, path, "QualityIndex")
    val m = spark.read.parquet(s"$path/model").head()
    val nb = m.getAs[Int]("num_buckets")
    if (nb != QualityClassifier.NumBuckets)
      throw new IllegalStateException(
        s"QualityIndex at $path was trained with $nb feature buckets; " +
          s"this engine hashes into ${QualityClassifier.NumBuckets}")
    val w = m.getAs[scala.collection.Seq[Long]]("weights").toArray
    require(w.length == nb, s"weight vector length ${w.length} != $nb")
    Model(w, m.getAs[Long]("bias"))
  }

  // ---- board consumption (train-once per corpus) ----

  private val memo = new Artifact.Memo[Model]

  /** Memo key for a corpus directory: [[CorpusKey.key]]'s canonical
    * path + MD5 metadata fingerprint of documents.parquet (r16 — the
    * 32-bit String.hashCode compression the r15 advisory flagged could
    * silently serve a stale model on collision). Shared by
    * [[LangIndex.forCorpus]].
    */
  private[operators] def corpusKey(d: String): String =
    CorpusKey.key(d, "documents.parquet")

  /** The corpus' trained model, derived at most once per (directory,
    * documents-fingerprint) per session — the board-harness stand-in
    * for [[load]]ing a saved artifact (each gate query receives only
    * (session, dir), so the deployment's train-once/save/load cycle
    * memoizes here instead). Training is deterministic, so this returns
    * the bit-identical model an inline retrain would.
    */
  def forCorpus(s: SparkSession, d: String): Model =
    memo(corpusKey(d))(train(Tables.documents(s, d)))
}
