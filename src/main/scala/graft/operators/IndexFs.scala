package graft.operators

import org.apache.spark.sql.SparkSession

/** Filesystem discipline for every rewrite of a saved index (through
  * [[Artifact.replace]]/[[Artifact.open]]): staged-sibling rewrites
  * committed by atomic directory rename, with open-time repair of any
  * interrupted swap. Everything that only adds files — saved-index
  * appends, the parquet sink log's appends and compactions — commits
  * through the one record-and-roll-forward protocol of [[Commits]]
  * instead and never swaps; the sink log calls the two repairs below
  * only to open a log that an earlier build's compaction swap left
  * interrupted.
  *
  * Repair comes in two strengths. A reader ([[recoverSwap]]) acts only
  * when the live directory is missing, so it never removes a staged copy
  * that a writer elsewhere is still filling. A writer
  * ([[dropSwapDebris]]) also drops the `.staged`/`.old` siblings a torn
  * or finished rewrite left beside an intact live directory.
  *
  * ASSUMES atomic directory rename — true on HDFS and local POSIX
  * filesystems, NOT on object stores (S3A rename is copy+delete, so a
  * crash mid-"rename" can leave neither a complete live nor staged
  * copy). Deployments on an object store should front the index with
  * an HDFS-semantics layer (e.g. a rename-atomic committer volume) or
  * swap via the store's native atomic pointer instead.
  */
private[graft] object IndexFs {

  def hfs(spark: SparkSession, path: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  def stagedPath(path: String): String = path + ".staged"

  private def siblings(path: String) =
    (new org.apache.hadoop.fs.Path(stagedPath(path)),
      new org.apache.hadoop.fs.Path(path + ".old"))

  /** Commit a fully-written sibling at `path`.staged over the live
    * index: displace the live directory to `path`.old, rename the
    * staged copy in, drop the displaced one. Directory renames are
    * atomic per filesystem operation, so every crash window leaves a
    * COMPLETE index recoverable by [[recoverSwap]] — unlike an
    * overwrite-in-place, which destroys the only durable copy of the
    * very frames it is still reading (the r13 advisory).
    */
  def swapInto(spark: SparkSession, path: String): Unit = {
    val (fs, p) = hfs(spark, path)
    val (st, old) = siblings(path)
    fs.delete(old, true)
    if (fs.exists(p) && !fs.rename(p, old))
      throw new IllegalStateException(s"could not displace live index $path")
    if (!fs.rename(st, p))
      throw new IllegalStateException(
        s"could not promote staged index ${stagedPath(path)}")
    fs.delete(old, true)
    ()
  }

  /** Reader-strength repair of an interrupted [[swapInto]], run by every
    * open. Only a missing live directory is repaired: promote the staged
    * copy when `stagedComplete` (crash between the two renames), else
    * restore the displaced previous index, then drop the swap's other
    * sibling. With the live directory present nothing is touched — a
    * staged copy beside it may be a rewrite still being written.
    * `stagedComplete` is asked only when the live name is missing and a
    * staged copy exists; artifacts pass their completion marker
    * ([[Artifact.open]]), the sink log its own test.
    */
  def recoverSwap(spark: SparkSession, path: String,
      stagedComplete: => Boolean): Unit = {
    val (fs, p) = hfs(spark, path)
    if (!fs.exists(p)) {
      val (st, old) = siblings(path)
      if (fs.exists(st) && stagedComplete) fs.rename(st, p)
      else if (fs.exists(old)) fs.rename(old, p)
      dropSwapDebris(spark, path)
    }
  }

  /** Writer-strength cleanup: beside an intact live directory, leftover
    * `.staged`/`.old` siblings are an uncommitted rewrite or a finished
    * swap's debris — delete them, which rolls an uncommitted
    * retire/compact back to the intact previous index. Only a writer
    * calls it, as the one process rewriting `path`.
    */
  def dropSwapDebris(spark: SparkSession, path: String): Unit = {
    val (fs, p) = hfs(spark, path)
    val (st, old) = siblings(path)
    if (fs.exists(p)) { fs.delete(st, true); fs.delete(old, true) }
    ()
  }
}
