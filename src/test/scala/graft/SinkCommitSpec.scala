package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.{FileSources, ParquetSink, SinkLog, Sinks}
import graft.streaming.EventIngest

/** The parquet sink's commit protocol: a per-dump_id manifest instead of
  * a read of the log, one Spark job per append, and crash safety of the
  * append and of compaction at every step (faults injected through
  * [[ParquetSink.failpoint]]).
  */
class SinkCommitSpec extends SparkSpec {

  private def newSink() =
    ParquetSink(Files.createTempDirectory("graft_commit").toString + "/log")

  /** A local frame: one Spark job writes it, one part file per row (up
    * to the session's parallelism).
    */
  private def batch(rows: Seq[(Long, String)], dumpId: String, tUs: Long): DataFrame =
    Sinks.stamped(spark.createDataFrame(rows).toDF("pk", "status"), dumpId, tUs)

  private def view(sink: ParquetSink): Map[Long, String] =
    sink.latestState(spark, Seq("pk")).collect()
      .map(r => r.getAs[Long]("pk") -> r.getAs[String]("status")).toMap

  private def exists(p: String): Boolean = Files.exists(java.nio.file.Paths.get(p))

  final class Crash(step: String) extends RuntimeException(s"injected crash at $step")

  /** Run `body` with a crash injected the first time `sink` passes `step`. */
  private def crashAt(sink: ParquetSink, step: String)(body: => Any): Unit = {
    val seen = new AtomicInteger(0)
    ParquetSink.failpoint = (p, s) =>
      if (p == sink.path && s == step && seen.incrementAndGet() == 1) throw new Crash(s)
    try intercept[Crash](body)
    finally ParquetSink.failpoint = (_, _) => ()
  }

  private val d1 = Seq((1L, "v1"), (2L, "v1"))
  private val d2 = Seq((2L, "v2"), (3L, "v2"), (4L, "v2"))

  Seq("staged", "recorded", "marked", "moved").foreach { step =>
    test(s"append crash after '$step': recovery keeps the view whole, replays append once") {
      val sink = newSink()
      assert(sink.appendIdempotent(spark, batch(d1, "d1", 1000L)) == 2)
      val b2 = batch(d2, "d2", 2000L)
      crashAt(sink, step)(sink.appendIdempotent(spark, b2))
      val before = Map(1L -> "v1", 2L -> "v1")
      val after = Map(1L -> "v1", 2L -> "v2", 3L -> "v2", 4L -> "v2")
      // opening the log repairs it: before the commit record the dump is
      // absent, from the record on it is whole
      assert(view(sink) == (if (step == "staged") before else after))
      assert(sink.appendIdempotent(spark, b2) == (if (step == "staged") 3 else 0))
      assert(sink.appendIdempotent(spark, b2) == 0)
      assert(view(sink) == after)
      assert(sink.log(spark).count() == 5, "every row lands exactly once")
      assert(!exists(sink.path + ".pending") ||
        Files.list(java.nio.file.Paths.get(sink.path + ".pending")).count() == 0,
        "no staging or record left behind")
    }
  }

  test("empty batches commit nothing; mixed batches append only their new dumps") {
    val sink = newSink()
    assert(sink.appendIdempotent(spark, batch(Nil, "d0", 500L)) == 0)
    val none = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      spark.createDataFrame(d1).toDF("pk", "status").schema)
    assert(none.rdd.getNumPartitions == 0)
    assert(sink.appendIdempotent(spark, Sinks.stamped(none, "d0", 500L)) == 0)
    assert(!exists(sink.path), "an empty batch must not create the log")
    assert(sink.appendIdempotent(spark, batch(d1, "d1", 1000L)) == 2)
    // a replay of d1 unioned with a fresh dump: only d2's rows land
    val mixed = batch(d1, "d1", 1000L).unionByName(batch(d2, "d2", 2000L))
    assert(sink.appendIdempotent(spark, mixed) == 3)
    assert(sink.appendIdempotent(spark, mixed) == 0)
    assert(sink.log(spark).groupBy("dump_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("d1" -> 2L, "d2" -> 3L))
  }

  /** d1 is fully superseded by d2, so only the manifest remembers it. */
  private def compactable(): ParquetSink = {
    val sink = newSink()
    sink.appendIdempotent(spark, batch(Seq((2L, "v1")), "d1", 1000L))
    sink.appendIdempotent(spark, batch(d2, "d2", 2000L))
    sink
  }

  private val compacted = Map(2L -> "v2", 3L -> "v2", 4L -> "v2")

  private def assertReplaysNoop(sink: ParquetSink): Unit = {
    assert(sink.appendIdempotent(spark, batch(Seq((2L, "v1")), "d1", 1000L)) == 0,
      "a replay of a superseded dump must stay a no-op")
    assert(sink.appendIdempotent(spark, batch(d2, "d2", 2000L)) == 0)
  }

  test("compact keeps the manifest: a fully superseded dump's replay is a no-op") {
    val sink = compactable()
    sink.compact(spark, Seq("pk"))
    assert(spark.read.parquet(sink.path).count() == 3)
    assert(view(sink) == compacted)
    assertReplaysNoop(sink)
    assert(spark.read.parquet(sink.path).count() == 3)
  }

  Seq("compact-staged", "compact-complete").foreach { step =>
    test(s"compaction crash after '$step' rolls back to the intact log") {
      val sink = compactable()
      crashAt(sink, step)(sink.compact(spark, Seq("pk")))
      assert(view(sink) == compacted)
      assert(sink.log(spark).count() == 4, "the log is not compacted")
      assertReplaysNoop(sink)
      assert(!exists(sink.path + ".staged"), "the next write drops the uncommitted copy")
      sink.compact(spark, Seq("pk"))
      assert(sink.log(spark).count() == 3)
    }
  }

  test("compaction crash inside the swap: the complete copy is promoted, debris dropped") {
    val sink = compactable()
    val live = java.nio.file.Paths.get(sink.path)
    val old = java.nio.file.Paths.get(sink.path + ".old")
    // between the swap's two renames: the live log displaced, the
    // complete staged copy not yet promoted
    crashAt(sink, "compact-complete")(sink.compact(spark, Seq("pk")))
    assert(exists(sink.path + ".staged"), "the complete copy is on disk")
    Files.move(live, old)
    assert(view(sink) == compacted)
    assert(sink.log(spark).count() == 3, "the compacted copy is live")
    assert(!exists(sink.path + ".old") && !exists(sink.path + ".staged"))
    assertReplaysNoop(sink)
    // after the promotion, before the displaced log is dropped: a read
    // leaves the debris, the next write drops it
    Files.createDirectories(old)
    assert(view(sink) == compacted && exists(sink.path + ".old"))
    assertReplaysNoop(sink)
    assert(!exists(sink.path + ".old"))
  }

  test("a compaction whose rewrite is removed fails and leaves the log intact") {
    val sink = compactable()
    ParquetSink.failpoint = (p, s) =>
      if (p == sink.path && s == "compact-staged")
        org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(sink.path + ".staged"))
    try intercept[IllegalStateException](sink.compact(spark, Seq("pk")))
    finally ParquetSink.failpoint = (_, _) => ()
    assert(!exists(sink.path + ".staged"), "nothing recreated the removed copy")
    assert(view(sink) == compacted)
    assert(sink.log(spark).count() == 4, "the log is not compacted")
    assertReplaysNoop(sink)
    sink.compact(spark, Seq("pk"))
    assert(sink.log(spark).count() == 3)
  }

  test("reads never remove a compaction's staged copy; the next write drops it") {
    val sink = compactable()
    // a rewrite in progress in another process: no compaction runs here
    spark.range(3).write.parquet(sink.path + ".staged")
    assert(sink.initialized(spark))
    assert(view(sink) == compacted)
    assert(sink.log(spark).count() == 4)
    assert(exists(sink.path + ".staged"), "a read must not delete a running rewrite")
    assertReplaysNoop(sink)
    assert(!exists(sink.path + ".staged"))
  }

  test("a log written before the manifest stays replay-safe") {
    val sink = newSink()
    batch(d1, "d1", 1000L).write.parquet(sink.path)
    assert(!exists(sink.path + "/_manifest"))
    assert(sink.appendIdempotent(spark, batch(d1, "d1", 1000L)) == 0,
      "an earlier dump's replay must append nothing")
    assert(exists(sink.path + "/_manifest"))
    assert(sink.appendIdempotent(spark, batch(d2, "d2", 2000L)) == 3)
    assert(sink.appendIdempotent(spark, batch(d2, "d2", 2000L)) == 0)
    assert(view(sink) == Map(1L -> "v1", 2L -> "v2", 3L -> "v2", 4L -> "v2"))
    assert(sink.log(spark).count() == 5)
  }

  test("an append committed while compaction rewrites survives the swap") {
    val sink = compactable()
    var racer: Option[Long] = None
    ParquetSink.failpoint = (p, s) =>
      if (p == sink.path && s == "compact-staged") {
        val t = new Thread(() =>
          racer = Some(sink.appendIdempotent(spark, batch(Seq((5L, "v3")), "d3", 3000L))))
        t.start(); t.join()
      }
    try sink.compact(spark, Seq("pk"))
    finally ParquetSink.failpoint = (_, _) => ()
    assert(racer.contains(1L))
    assert(view(sink) == compacted + (5L -> "v3"))
    assert(sink.appendIdempotent(spark, batch(Seq((5L, "v3")), "d3", 3000L)) == 0)
    assertReplaysNoop(sink)
  }

  /** Spark jobs `body` starts, counted by a listener. */
  private def jobsOf(body: => Unit): Int = {
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.spec.jobs") == tag)
          n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    sc.setLocalProperty("graft.spec.jobs", tag)
    try body
    finally {
      sc.setLocalProperty("graft.spec.jobs", null)
      SpecBus.drain(sc)
      sc.removeSparkListener(l)
    }
    n.get
  }

  test("one append is one Spark job, with 1 committed dump and with 50") {
    val sink = newSink()
    sink.appendIdempotent(spark, batch(d1, "d0", 1000L))
    assert(jobsOf(sink.appendIdempotent(spark, batch(d2, "d1", 1001L))) == 1)
    (2 until 50).foreach(i =>
      sink.appendIdempotent(spark, batch(Seq((i.toLong, "v")), s"d$i", 1000L + i)))
    assert(jobsOf(sink.appendIdempotent(spark, batch(d2, "d50", 2000L))) == 1)
    // a replay runs its plan once too, and lands nothing
    var n = -1L
    assert(jobsOf { n = sink.appendIdempotent(spark, batch(d2, "d50", 2000L)) } == 1)
    assert(n == 0)
  }

  private def t(hhmm: String) = Timestamp.valueOf(s"2026-01-01 $hhmm:00")

  test("EventIngest epochs into ParquetSink register no cache entries") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_commit_leak").toString
    val src = MemoryStream[Ev]
    val live = Caches.liveCount
    val query = EventIngest.start(src.toDS().toDF(), s"$dir/sink", s"$dir/ckpt")
    try {
      Seq("10:05", "10:40", "11:10", "12:20", "13:30").foreach { hhmm =>
        src.addData(Ev(t(hhmm), "click", 1.0))
        query.processAllAvailable()
      }
    } finally query.stop()
    assert(Caches.liveCount == live, s"${Caches.liveCount - live} entries leaked")
    assert(EventIngest.latestState(spark, s"$dir/sink").count() == 4)
  }

  test("EventIngest restart: the re-delivered epoch appends nothing, later epochs land") {
    val dir = Files.createTempDirectory("graft_commit_restart").toString
    val drop = s"$dir/drop"
    Files.createDirectories(java.nio.file.Paths.get(drop))
    def dropFile(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(s"$drop/$name"), lines.mkString("\n").getBytes("UTF-8"))
    def ev(id: Long, hhmm: String, et: String, v: Double) =
      s"""{"event_id":$id,"ts":"2026-01-01 $hhmm:00","user_id":1,""" +
        s""""event_type":"$et","value":$v,"props":"{}"}"""
    val inner = ParquetSink(s"$dir/sink")
    /** Delegates to the parquet sink; throws once after a commit that
      * landed rows, before the stream commits its offsets.
      */
    final class Flaky(var armed: Boolean) extends SinkLog {
      val appended = scala.collection.mutable.ArrayBuffer[Long]()
      protected def exists(s: SparkSession): Boolean = inner.initialized(s)
      def log(s: SparkSession): DataFrame = inner.log(s)
      def appendIdempotent(s: SparkSession, b: DataFrame): Long = {
        val n = inner.appendIdempotent(s, b)
        appended += n
        if (armed && n > 0) {
          armed = false
          throw new IllegalStateException("crash between sink commit and offset commit")
        }
        n
      }
    }
    def start(sink: SinkLog) =
      EventIngest.start(FileSources.good(FileSources.streamEventsJsonl(spark, drop)),
        sink, s"$dir/ckpt")

    dropFile("a.jsonl", Seq(ev(1, "10:05", "click", 1.0), ev(2, "11:10", "view", 5.0)))
    val first = new Flaky(armed = true)
    val q1 = start(first)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](q1.processAllAvailable())
    q1.stop()
    assert(first.appended == Seq(2L))

    val second = new Flaky(armed = false)
    val q2 = start(second)
    try {
      q2.processAllAvailable()
      assert(second.appended.headOption.contains(0L),
        s"the re-delivered epoch must append nothing: ${second.appended}")
      dropFile("b.jsonl", Seq(ev(3, "10:55", "click", 4.0), ev(4, "12:00", "view", 1.0)))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(second.appended.sum > 0, "the epoch after the restart must land")
    assert(inner.log(spark).count() == first.appended.sum + second.appended.sum)
    val expected = EventIngest.windowedAgg(
      FileSources.good(FileSources.eventsJsonl(spark, drop))).collect()
    val got = EventIngest.latestState(spark, inner.path).collect()
    assert(got.map(_.toString).sorted.toSeq == expected.map(_.toString).sorted.toSeq,
      s"view ${got.toSeq} != batch ${expected.toSeq}")
  }
}
