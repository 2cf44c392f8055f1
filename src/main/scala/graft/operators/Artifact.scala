package graft.operators

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue,
  Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

/** The persisted-artifact contract, in one place. Every artifact writer
  * ([[AnnIndex]], [[CentroidIndex]], [[DedupIndex]], [[IvfPqIndex]],
  * [[KnnIndex]], [[LangIndex]], [[LmIndex]], [[PqIndex]],
  * [[QualityIndex]], [[TokenizerIndex]], [[UnigramLm]]) saves, opens
  * and memoizes through it. A saved artifact changes in place in one of
  * two ways, both under one per-path lock ([[Commits.lockOf]]): a
  * rewrite (retire, compact, a model merge) stages a whole copy and
  * swaps it in ([[replace]], [[IndexFs]]); an append stages only its new
  * files and commits them through the sink log's commit protocol
  * ([[append]], [[Commits]]). Only `save` and a commit's roll-forward
  * write the live directory.
  *
  *  - **The save bracket** ([[save]]): a one-row `complete` marker lands
  *    with `complete=false` FIRST, invalidating any previous state
  *    before a byte of it is touched, then the caller's frames, then
  *    `complete=true`. A crash anywhere inside leaves `complete=false`
  *    on disk.
  *  - **The open check** ([[open]]): repair an interrupted swap
  *    (reader strength: only a missing live directory, see
  *    [[IndexFs.recoverSwap]]), roll forward an append a crash left
  *    recorded, then refuse a directory with no marker or with a
  *    partial one: a torn save must be rebuilt or re-saved. A marker
  *    an earlier build left at `op=append` (it wrote appends in place)
  *    is refused the same way.
  *  - **Per-corpus memos** ([[Memo]]): a trained model or saved path
  *    keyed by the corpus fingerprint ([[CorpusKey]]). A memo is an
  *    artifact: it survives [[graft.Caches.releaseScope]] and is dropped
  *    only by [[clearMemos]].
  */
private[graft] object Artifact {

  // ---- the save bracket ----

  private def mark(spark: SparkSession, path: String, complete: Boolean): Unit =
    spark.range(0L, 1L, 1L, 1).select(lit(complete).as("complete"))
      .write.mode("overwrite").parquet(s"$path/complete")

  /** Bracket `writes` with the completion marker. */
  def save(spark: SparkSession, path: String)(writes: => Unit): Unit = {
    mark(spark, path, complete = false)
    writes
    mark(spark, path, complete = true)
  }

  /** Write a rewritten artifact to `path`'s staged sibling, then commit
    * it by [[IndexFs.swapInto]]: a crash at any point leaves a complete
    * artifact (the previous or the rewritten one) for [[open]] to serve.
    * `write` may read the live directory lazily — it writes elsewhere.
    * Stale siblings of an earlier torn rewrite are dropped first
    * (writer-strength repair).
    * Rewrites and appends of one path are serialized per JVM, so callers
    * load the live index inside `write`: a second rewrite starts from
    * the first's result and never drops its staged copy.
    */
  def replace(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    val (fs, p) = IndexFs.hfs(spark, path)
    Commits.lockOf(fs, p).synchronized {
      IndexFs.dropSwapDebris(spark, path)
      write(IndexFs.stagedPath(path))
      IndexFs.swapInto(spark, path)
    }
  }

  /** Add files to the saved artifact at `path` as one commit
    * ([[Commits]]): under the path's lock, `stage` loads the live
    * artifact and writes its new frames, laid out as under `path`, into
    * the staging directory it is given; the commit record then moves
    * them in. Each live directory that a staged file of a `replacing`
    * frame lands in is replaced whole — the record removes its live
    * files (a dynamic partition overwrite). A crash before the record
    * leaves the artifact as it was; from the record on, the next
    * [[open]] finishes the commit.
    */
  def append(spark: SparkSession, path: String, replacing: Seq[String] = Nil)(
      stage: String => Unit): Unit = {
    val (fs, p) = IndexFs.hfs(spark, path)
    Commits.lockOf(fs, p).synchronized {
      val txn = Commits.newTxn(p)
      try {
        stage(txn.toString)
        Commits.failpoint(p.toString, "staged")
        val replaced = Commits.dataFiles(fs, txn)
          .filter(f => replacing.exists(r => f.startsWith(r + "/")))
          .map(f => f.substring(0, f.lastIndexOf('/'))).distinct
        Commits.commit(fs, p, txn, Nil, replaced.flatMap(d =>
          Commits.dataFiles(fs, new Path(p, d)).map(d + "/" + _)))
      } finally Commits.dropUnrecorded(fs, txn)
    }
  }

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
    * are read, after repairing an interrupted [[replace]] swap and
    * rolling forward a recorded [[append]] (one `exists` call when
    * none is pending). `unmarkedLayout`: asked only when there is no
    * marker at all — true accepts a pre-marker layout the caller still
    * reads ([[AnnIndex]]).
    */
  def open(spark: SparkSession, path: String, kind: String,
      unmarkedLayout: => Boolean = false): Unit = {
    val (fs, p) = IndexFs.hfs(spark, path)
    IndexFs.recoverSwap(spark, path, isComplete(spark, IndexFs.stagedPath(path)))
    Commits.recover(fs, p)
    val marker =
      try Some(spark.read.parquet(s"$path/complete").head())
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    marker match {
      case None if unmarkedLayout => ()
      case None =>
        throw new IllegalStateException(
          s"$kind at $path has no completion marker — not a saved $kind")
      case Some(m) if m.getAs[Boolean]("complete") => ()
      case Some(m) =>
        // a marker without an `op` column is this build's save bracket
        val op =
          if (m.schema.fieldNames.contains("op")) m.getAs[String]("op")
          else "save"
        throw new IllegalStateException(
          s"$kind at $path is a partial $op — rebuild or re-save it")
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
