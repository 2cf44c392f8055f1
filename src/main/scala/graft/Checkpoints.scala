package graft

import org.apache.spark.sql.DataFrame

/** Lineage-truncation switch for iterative / multi-consumer frames
  * (connected-components rounds, q22's shared histogram, backfill's
  * planned frame).
  *
  * Default is `localCheckpoint()` — executor-local blocks, no
  * checkpoint dir needed, right for single-JVM runs. On a real cluster
  * an executor loss silently invalidates local checkpoint blocks and
  * fails the job, so deployments set `graft.checkpoint.reliable=true`
  * (plus `SparkContext.setCheckpointDir` to a durable FS) and the same
  * call sites write reliable checkpoints instead. One knob, no
  * per-operator plumbing.
  */
object Checkpoints {
  val ReliableKey = "graft.checkpoint.reliable"

  def checkpoint(df: DataFrame): DataFrame = {
    val reliable = df.sparkSession.conf
      .getOption(ReliableKey).exists(_.toBoolean)
    if (reliable) df.checkpoint()
    else {
      val out = df.localCheckpoint()
      // Local-checkpoint blocks are persisted RDDs with their lineage
      // truncated; register them so Caches.releaseScope() frees them
      // with the scope's cached frames instead of waiting for the
      // ContextCleaner's GC pass. (Reliable checkpoints live on the
      // durable FS and need no block release.)
      localRdd(out).foreach(Caches.trackRdd)
      out
    }
  }

  /** Free the blocks of a frame [[checkpoint]] returned now, rather than
    * at the scope's end — for a caller that has run its last action on
    * it and keeps no frame built on it. A no-op for a reliable
    * checkpoint, whose files live on the durable FS.
    */
  def release(df: DataFrame): Unit = localRdd(df).foreach(Caches.releaseRdd)

  private def localRdd(df: DataFrame) = df.queryExecution.analyzed match {
    case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
    case _ => None
  }
}
