package graft.operators

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue,
  Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions.lit

/** The persisted-artifact contract, in one place. Every artifact writer
  * ([[AnnIndex]], [[CentroidIndex]], [[DedupIndex]], [[IvfPqIndex]],
  * [[KnnIndex]], [[LangIndex]], [[LmIndex]], [[PqIndex]],
  * [[QualityIndex]], [[TokenizerIndex]], [[UnigramLm]]) saves, opens
  * and memoizes through it; [[IndexFs]] below it owns the staged-sibling
  * rename discipline. Every rewrite of a saved artifact (retire,
  * compact, a model merge) stages and swaps through [[replace]]; only
  * `save` and `append` write the live directory.
  *
  *  - **The save bracket** ([[save]]): a one-row `complete` marker lands
  *    with `complete=false` and the mutation's `op` FIRST, invalidating
  *    any previous state before a byte of it is touched, then the
  *    caller's frames, then `complete=true`. A crash anywhere inside
  *    leaves `complete=false` on disk.
  *  - **The open check** ([[open]]): repair an interrupted swap
  *    (reader strength: only a missing live directory, see
  *    [[IndexFs.recoverSwap]]), then refuse a directory with no marker or
  *    with a partial one. A torn `save` must be re-saved; a torn rewrite
  *    never reaches the live directory; a torn `append` only added
  *    rows, so a caller that replays the batch may read through it. A
  *    marker without an `op` column (written before ops were recorded)
  *    reads as `save`, the conservative reading.
  *  - **Per-corpus memos** ([[Memo]]): a trained model or saved path
  *    keyed by the corpus fingerprint ([[CorpusKey]]). A memo is an
  *    artifact: it survives [[graft.Caches.releaseScope]] and is dropped
  *    only by [[clearMemos]].
  */
private[graft] object Artifact {

  // ---- the save bracket ----

  private def mark(spark: SparkSession, path: String, complete: Boolean,
      op: String, extra: Seq[Column]): Unit =
    spark.range(0L, 1L, 1L, 1)
      .select(Seq(lit(complete).as("complete"), lit(op).as("op")) ++ extra: _*)
      .write.mode("overwrite").parquet(s"$path/complete")

  /** Bracket `writes` with the completion marker. `extra` columns ride
    * the opening (incomplete) marker, describing the in-flight mutation
    * to a later repair ([[KnnIndex]]'s batch fingerprint).
    */
  def save(spark: SparkSession, path: String, op: String = "save",
      extra: Seq[Column] = Nil)(writes: => Unit): Unit = {
    mark(spark, path, complete = false, op, extra)
    writes
    mark(spark, path, complete = true, op, Nil)
  }

  /** Write a rewritten artifact to `path`'s staged sibling, then commit
    * it by [[IndexFs.swapInto]]: a crash at any point leaves a complete
    * artifact (the previous or the rewritten one) for [[open]] to serve.
    * `write` may read the live directory lazily — it writes elsewhere.
    * Stale siblings of an earlier torn rewrite are dropped first
    * (writer-strength repair).
    * Rewrites of one path are serialized per JVM, so callers load the
    * live index inside `write`: a second rewrite starts from the first's
    * result and never drops its staged copy.
    */
  def replace(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    val (fs, p) = IndexFs.hfs(spark, path)
    rewriteLocks.computeIfAbsent(fs.makeQualified(p).toString, _ => new Object).synchronized {
      IndexFs.dropSwapDebris(spark, path)
      write(IndexFs.stagedPath(path))
      IndexFs.swapInto(spark, path)
    }
  }

  /** One [[replace]] lock per qualified path. */
  private val rewriteLocks = new ConcurrentHashMap[String, AnyRef]()

  /** Pool for [[inParallel]]: a constant size, daemon threads that
    * inherit no thread-locals (a write never runs under the Spark job
    * properties of whichever caller happened to start its thread).
    */
  private val WriteThreads = 4
  private lazy val writers = ExecutionContext.fromExecutorService(
    Executors.newFixedThreadPool(WriteThreads, (r: Runnable) => {
      val t = new Thread(null, r, "graft-artifact-write", 0L, false)
      t.setDaemon(true)
      t
    }))

  /** Run independent writes of one save concurrently and return when
    * all have finished, then rethrow the first failure — a failed save
    * leaves no write running behind its caller. The save prices as its
    * slowest write instead of their sum. Call it inside the [[save]]
    * bracket, which stays strictly ordered around it.
    */
  def inParallel(writes: (() => Unit)*): Unit = {
    val running = writes.map(w => Future(w())(writers))
    running.foreach(Await.ready(_, Duration.Inf))
    running.foreach(Await.result(_, Duration.Inf))
  }

  // ---- the open check ----

  /** True iff the marker at `path` reads complete (false when absent). */
  private def isComplete(spark: SparkSession, path: String): Boolean =
    try spark.read.parquet(s"$path/complete").head().getAs[Boolean]("complete")
    catch { case _: Exception => false }

  /** Check the marker of the `kind` artifact at `path` before its frames
    * are read, after repairing an interrupted [[replace]] swap.
    * `tolerateTornAppend`: the caller replays an append and may read
    * through its incomplete marker. `unmarkedLayout`: asked only when
    * there is no marker at all — true accepts a pre-marker layout the
    * caller still reads ([[AnnIndex]]).
    *
    * Returns the marker of a tolerated torn append (its extra columns
    * describe the interrupted batch), else None.
    */
  def open(spark: SparkSession, path: String, kind: String,
      tolerateTornAppend: Boolean = false,
      unmarkedLayout: => Boolean = false): Option[Row] = {
    IndexFs.recoverSwap(spark, path, isComplete(spark, IndexFs.stagedPath(path)))
    val marker =
      try Some(spark.read.parquet(s"$path/complete").head())
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    marker match {
      case None if unmarkedLayout => None
      case None =>
        throw new IllegalStateException(
          s"$kind at $path has no completion marker — not a saved $kind")
      case Some(m) if m.getAs[Boolean]("complete") => None
      case Some(m) =>
        val op =
          if (m.schema.fieldNames.contains("op")) m.getAs[String]("op")
          else "save"
        if (tolerateTornAppend && op == "append") Some(m)
        else throw new IllegalStateException(
          s"$kind at $path is a partial $op — " +
            (if (op == "append")
               "replay the interrupted append batch to repair it"
             else "rebuild or re-save it"))
    }
  }

  // ---- per-corpus memos ----

  private val memos = new ConcurrentLinkedQueue[Memo[_]]()

  /** One owner's per-corpus memo. Each owner keeps its own instance (its
    * own map): [[KnnIndex.forCorpus]] fills [[CentroidIndex]]'s memo
    * from inside its own build, and one shared map would make that a
    * recursive update, which ConcurrentHashMap rejects.
    */
  final class Memo[V <: AnyRef] {
    private val m = new ConcurrentHashMap[String, V]()
    memos.add(this)

    /** The value for `key`, built at most once until [[clearMemos]]. */
    def apply(key: String)(build: => V): V = m.computeIfAbsent(key, _ => build)

    private[Artifact] def size: Int = m.size
    private[Artifact] def clear(): Unit = m.clear()
  }

  /** Drop every per-corpus memo. Memo-built directories stay on disk
    * (another reader may still hold a frame over them); they go with
    * the JVM ([[scratchDir]]).
    */
  def clearMemos(): Unit = memos.forEach(_.clear())

  /** Entries across all memos (tests). */
  def memoEntries: Int = memos.stream.mapToInt(_.size).sum

  /** One per-JVM root for memo-built artifact directories, removed when
    * the JVM exits.
    */
  private lazy val scratchRoot: java.nio.file.Path = {
    val r = java.nio.file.Files.createTempDirectory("graft_artifacts")
    sys.addShutdownHook { org.apache.hadoop.fs.FileUtil.fullyDelete(r.toFile); () }
    r
  }

  /** A fresh directory under the per-JVM root. */
  def scratchDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix).toString
}
