package graft.operators

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

/** The persisted-artifact contract, in one place. Every artifact writer
  * ([[AnnIndex]], [[CentroidIndex]], [[DedupIndex]], [[IvfPqIndex]],
  * [[KnnIndex]], [[LangIndex]], [[LmIndex]], [[PqIndex]],
  * [[QualityIndex]], [[TokenizerIndex]], [[UnigramLm]]) saves, opens
  * and memoizes through it. Every write to a saved artifact — a save,
  * a rewrite (retire, compact, a model merge) or an append — is one
  * commit of the sink log's protocol ([[Commits]]) under the path's
  * lock: the writer stages its frames in `path.pending/<txn>`, and the
  * commit record moves them in and removes the files they replace. Only
  * a commit's roll-forward writes the live directory.
  *
  *  - **The save** ([[save]]): the frames and a one-row `complete=true`
  *    marker, staged whole; a crash before the record leaves the
  *    previous artifact (or none) serving.
  *  - **The open check** ([[open]]): roll forward a commit a crash left
  *    recorded, then refuse a directory with no marker or with a
  *    partial one. A `complete=false` marker is an earlier build's torn
  *    in-place save or append (`op=append`); a directory an earlier
  *    build left mid-swap has no marker. Either must be rebuilt or
  *    re-saved.
  *  - **Per-corpus memos** ([[Memo]]): a trained model or saved path
  *    keyed by the corpus fingerprint ([[CorpusKey]]). A memo is an
  *    artifact: it survives [[graft.Caches.releaseScope]] and is dropped
  *    only by [[clearMemos]].
  */
private[graft] object Artifact {

  // ---- the writes ----

  /** Write the artifact at `path` as one commit: `stage` writes its
    * frames, laid out as under `path`, into the staging directory it is
    * given, then the save adds the `complete` marker. The record removes
    * the live files under each top-level directory the staging holds —
    * what overwriting those frames deletes, an empty frame's too — and
    * nothing else under `path`. `stage` may read the live artifact: a
    * rewrite loads it inside the lock, so a second rewrite starts from
    * the first's result.
    */
  def save(spark: SparkSession, path: String)(stage: String => Unit): Unit =
    commit(spark, path) { (fs, txn) =>
      stage(txn.toString)
      spark.range(0L, 1L, 1L, 1).select(lit(true).as("complete"))
        .write.parquet(s"$txn/complete")
      Commits.dataDirs(fs, txn).filterNot(_.contains('/'))
    }

  /** Add files to the saved artifact at `path` as one commit: `stage`
    * loads the live artifact and writes its new frames, laid out as
    * under `path`, into the staging directory it is given. Each live
    * directory that a staged file of a `replacing` frame lands in is
    * replaced whole — the record removes its live files (a dynamic
    * partition overwrite).
    */
  def append(spark: SparkSession, path: String, replacing: Seq[String] = Nil)(
      stage: String => Unit): Unit =
    commit(spark, path) { (fs, txn) =>
      stage(txn.toString)
      Commits.dataFiles(fs, txn)
        .filter(f => replacing.exists(r => f.startsWith(r + "/")))
        .map(f => f.substring(0, f.lastIndexOf('/'))).distinct
    }

  /** The one commit body: under the path's lock, recover as a writer
    * (finish a recorded commit, drop a dead writer's staging: one JVM
    * writes an artifact), then open the staging and stage into it, then
    * commit the record removing the live files of the directories
    * `stage` returns. A crash before the record leaves the artifact as
    * it was; from the record on, the next [[open]] finishes the commit.
    * Frames cached over `path` are refreshed after it: Spark matches a
    * cached scan by its root paths, not by the files under them.
    */
  private def commit(spark: SparkSession, path: String)(
      stage: (FileSystem, Path) => Seq[String]): Unit = {
    val (fs, p) = Commits.hfs(spark, path)
    Commits.lockOf(fs, p).synchronized {
      Commits.recover(fs, p, writer = true)
      try Commits.staging(fs, p) { txn =>
        fs.mkdirs(txn)
        val replaced = stage(fs, txn)
        Commits.failpoint(p.toString, "staged")
        Commits.commit(fs, p, txn, Nil, replaced.flatMap(d =>
          Commits.dataFiles(fs, new Path(p, d)).map(d + "/" + _)))
      } finally spark.catalog.refreshByPath(path)
    }
  }

  // ---- the open check ----

  /** Check the marker of the `kind` artifact at `path` before its frames
    * are read, after rolling forward a recorded commit (one `exists`
    * call when none is pending).
    */
  def open(spark: SparkSession, path: String, kind: String): Unit = {
    val (fs, p) = Commits.hfs(spark, path)
    Commits.recover(fs, p)
    val marker =
      try Some(spark.read.parquet(s"$path/complete").head())
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    marker match {
      case None =>
        throw new IllegalStateException(
          s"$kind at $path has no completion marker — not a saved $kind")
      case Some(m) if m.getAs[Boolean]("complete") => ()
      case Some(m) =>
        // an earlier build's in-place save bracket wrote no `op` column
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
