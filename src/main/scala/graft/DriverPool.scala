package graft

import java.util.concurrent.{CompletionException, Executors}

import scala.util.{Failure, Try}
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** The engine's one pool for work the Spark driver submits concurrently:
  * the independent writes of one artifact save ([[inParallel]]) and the
  * batches of a backfill ([[graft.sources.Backfill]]). Such jobs are
  * latency-bound on a few tasks each, so overlapping them fills the
  * cores one job leaves idle.
  *
  *  - A constant number of daemon threads, whatever the callers submit.
  *  - Each thunk runs under the caller's Spark local properties and
  *    active session, captured when it is submitted — Spark's own
  *    `SQLExecution.withThreadLocalCaptured`, which its broadcasts use —
  *    so job groups, cancellation and listeners see its jobs as the
  *    caller's.
  *  - A call from a pool thread runs its thunks inline, one after
  *    another: nested use never waits on the pool it occupies.
  */
object DriverPool {

  val Threads = 4

  private final class PoolThread(r: Runnable)
      extends Thread(null, r, "graft-driver-pool", 0L, false) {
    setDaemon(true)
  }

  private lazy val pool =
    Executors.newFixedThreadPool(Threads, (r: Runnable) => new PoolThread(r))

  /** Run `thunks` concurrently and return when every one has finished:
    * one outcome per thunk, in order. A fatal error is rethrown, once
    * all have finished.
    */
  def attempt[A](spark: SparkSession)(thunks: Seq[() => A]): Seq[Try[A]] = {
    val outcomes =
      if (Thread.currentThread.isInstanceOf[PoolThread]) thunks.map(t => Try(t()))
      else {
        val caller = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        // a thunk's Try returns normally, so the capture restores the pool
        // thread's own properties after it; only a fatal error escapes
        thunks.map(t => SQLExecution.withThreadLocalCaptured(caller, pool)(Try(t())))
          .map(f => try f.join() catch { case e: CompletionException => Failure(e.getCause) })
      }
    outcomes.collectFirst { case Failure(e) if !NonFatal(e) => throw e }
    outcomes
  }

  /** Run independent writes concurrently and return when all have
    * finished, then rethrow the first failure — a failed save leaves no
    * write running behind its caller, and prices as its slowest write
    * instead of their sum.
    */
  def inParallel(spark: SparkSession)(writes: (() => Unit)*): Unit =
    attempt(spark)(writes).foreach(_.get)
}
