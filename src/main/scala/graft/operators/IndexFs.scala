package graft.operators

import org.apache.spark.sql.SparkSession

/** Shared filesystem discipline for the artifacts that rewrite in place
  * ([[IvfPqIndex]], [[KnnIndex]], [[LmIndex]] — through
  * [[Artifact.replace]]/[[Artifact.open]]) and the parquet sink log's compaction
  * ([[graft.sources.ParquetSink]]): staged-sibling rewrites committed by
  * atomic directory rename, with load-time repair of any interrupted
  * swap — factored (r17) from [[IvfPqIndex]] so every rewrite mutates
  * durably through literally one definition.
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
    val st = new org.apache.hadoop.fs.Path(stagedPath(path))
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    fs.delete(old, true)
    if (fs.exists(p) && !fs.rename(p, old))
      throw new IllegalStateException(s"could not displace live index $path")
    if (!fs.rename(st, p))
      throw new IllegalStateException(
        s"could not promote staged index ${stagedPath(path)}")
    fs.delete(old, true)
    ()
  }

  /** Repair an interrupted [[swapInto]] — called by every load. If the
    * live name is missing, promote the staged copy when `stagedComplete`
    * (crash between the two renames) or restore the displaced previous
    * index (crash after displacing with a torn staged copy — cannot
    * happen in swapInto's order, but cheap to cover). With the live name
    * present, leftover `.staged`/`.old` siblings are an uncommitted
    * mutation or an already-promoted swap's debris — delete them, which
    * rolls the uncommitted retire/compact back to the intact previous
    * index. `stagedComplete` is asked only when the live name is missing
    * and a staged copy exists; artifacts pass their completion marker
    * ([[Artifact.open]]), the sink log its own test.
    */
  def recoverSwap(spark: SparkSession, path: String,
      stagedComplete: => Boolean): Unit = {
    val (fs, p) = hfs(spark, path)
    val st = new org.apache.hadoop.fs.Path(stagedPath(path))
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    if (!fs.exists(p)) {
      if (fs.exists(st) && stagedComplete)
        fs.rename(st, p)
      else if (fs.exists(old)) fs.rename(old, p)
    }
    if (fs.exists(p)) { fs.delete(st, true); fs.delete(old, true) }
    ()
  }
}
