package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Commits
import graft.sources.{FileSources, ParquetSink, SinkLog, Sinks}
import graft.streaming.EventIngest

/** The parquet sink's commit protocol: a per-dump_id manifest instead of
  * a read of the log, one Spark job per append, and crash safety of the
  * append and of compaction at every step (faults injected through
  * [[Commits.failpoint]]).
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
    Commits.failpoint = (p, s) =>
      if (p == sink.path && s == step && seen.incrementAndGet() == 1) throw new Crash(s)
    try intercept[Crash](body)
    finally Commits.failpoint = (_, _) => ()
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

  private def noStaging(sink: ParquetSink): Boolean = !exists(sink.path + ".pending") ||
    Files.list(java.nio.file.Paths.get(sink.path + ".pending")).count() == 0

  test("a writer's open drops a dead writer's staging, never a live append's") {
    val sink = newSink()
    assert(sink.appendIdempotent(spark, batch(d1, "d1", 1000L)) == 2)
    // a writer that died after staging and before its record leaves its
    // staged parquet under a txn no record names
    val dead = s"${sink.path}.pending/${java.util.UUID.randomUUID()}"
    Seq(dead, s"$dead-fresh").foreach(batch(Seq((9L, "dead")), "dead", 9000L).write.parquet(_))
    val before = view(sink)
    assert(before == d1.toMap, "unrecorded staging is invisible")
    val pending = new java.io.File(sink.path + ".pending")

    // an append held after staging, in another thread
    val held = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    Commits.failpoint = (p, s) =>
      if (p == sink.path && s == "staged" && Thread.currentThread.getName == "held-append") {
        held.countDown()
        release.await()
      }
    @volatile var heldResult: scala.util.Try[Long] = null
    val t = new Thread(() =>
      heldResult = scala.util.Try(sink.appendIdempotent(spark, batch(d2, "d2", 2000L))), "held-append")
    try {
      t.start()
      assert(held.await(2, java.util.concurrent.TimeUnit.MINUTES), "the held append must stage")
      val heldTxn = pending.list().toSet -- Set(dead, s"$dead-fresh").map(new java.io.File(_).getName)
      assert(heldTxn.size == 1, s"pending: ${pending.list().toSeq}")
      assert(sink.appendIdempotent(spark, batch(Seq((5L, "v3")), "d3", 3000L)) == 1)
      assert(pending.list().toSet == heldTxn,
        s"the dead staging goes, the held append's stays: ${pending.list().toSeq}")
      assert(view(sink) == before + (5L -> "v3"))
    } finally {
      release.countDown()
      t.join()
      Commits.failpoint = (_, _) => ()
    }
    assert(heldResult.get == 3L, "the held append lands")
    assert(noStaging(sink))
    assert(view(sink) == before ++ d2.toMap + (5L -> "v3"))
    assert(sink.log(spark).count() == 6)
  }

  /** The latest-state view of the part files as they lie on disk, read
    * around the log's open-time repair.
    */
  private def rawView(sink: ParquetSink): Map[Long, String] =
    spark.read.parquet(sink.path).groupBy("pk")
      .agg(max_by(col("status"), struct(col("time_last_dumped_us"), col("dump_id"))))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  Seq("compact-staged", "recorded", "moved", "removed").foreach { step =>
    test(s"compaction crash after '$step': the view stays compacted, a recorded one finishes") {
      val sink = compactable()
      crashAt(sink, step)(sink.compact(spark, Seq("pk")))
      val recorded = step != "compact-staged"
      assert(recorded || noStaging(sink), "an unrecorded rewrite is dropped")
      assert(rawView(sink) == compacted, "every crash window shows the compacted view")
      assert(view(sink) == compacted)
      assert(sink.log(spark).count() == (if (recorded) 3 else 4),
        "the next open finishes a recorded compaction; before the record the log is unchanged")
      assert(noStaging(sink), "no staging or record left behind")
      assertReplaysNoop(sink)
      sink.compact(spark, Seq("pk"))
      assert(sink.log(spark).count() == 3)
    }
  }

  test("a log an earlier build left mid-swap opens: the complete copy is promoted, debris dropped") {
    val sink = compactable()
    val live = java.nio.file.Paths.get(sink.path)
    val old = java.nio.file.Paths.get(sink.path + ".old")
    // that build's swap, between its two renames: the live log displaced
    // to .old, the complete compacted copy (latest rows, the manifest,
    // the _COMPACTED marker) not yet promoted
    val staged = java.nio.file.Paths.get(sink.path + ".staged")
    spark.read.parquet(sink.path).filter(col("dump_id") === "d2").write.parquet(staged.toString)
    Files.createDirectories(staged.resolve("_manifest"))
    Files.list(live.resolve("_manifest")).forEach(m =>
      Files.copy(m, staged.resolve("_manifest").resolve(m.getFileName)))
    Files.createFile(staged.resolve("_COMPACTED"))
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

  test("a compaction whose snapshot another compaction committed first fails") {
    val sink = compactable()
    def listing() = Files.list(java.nio.file.Paths.get(sink.path)).toArray.map(_.toString).toSet
    val rewrites = new AtomicInteger(0)
    var left = Set.empty[String]
    // the other compaction runs while this one's rewrite waits for its commit
    Commits.failpoint = (p, s) =>
      if (p == sink.path && s == "compact-staged" && rewrites.incrementAndGet() == 1) {
        sink.compact(spark, Seq("pk"))
        left = listing()
      }
    try intercept[IllegalStateException](sink.compact(spark, Seq("pk")))
    finally Commits.failpoint = (_, _) => ()
    assert(left.nonEmpty && listing() == left, "the log is as the other compaction left it")
    assert(noStaging(sink), "the refused rewrite is dropped")
    assert(view(sink) == compacted)
    assert(sink.log(spark).count() == 3)
    assertReplaysNoop(sink)
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

  Seq(1, 200).foreach { dumps =>
    test(s"compaction at $dumps committed dumps keeps the log in place and the manifest untouched") {
      val sink = newSink()
      // one append commits every dump; dump i rewrites keys 0-2 at time i
      val rows = for (i <- 0 until dumps; k <- 0L to 2L) yield (k, s"v$i", f"d$i%03d", 1000L + i)
      sink.appendIdempotent(spark,
        spark.createDataFrame(rows).toDF("pk", "status", "dump_id", "time_last_dumped_us"))
      val manifest = java.nio.file.Paths.get(sink.path, "_manifest")
      def markers() = Files.list(manifest).toArray.map { case m: java.nio.file.Path =>
        m.getFileName.toString -> Files.getLastModifiedTime(m) }.toMap
      val before = markers()
      assert(before.keys.count(!_.startsWith(".")) == dumps)
      val steps = scala.collection.mutable.Set[String]()
      Commits.failpoint = (p, s) =>
        if (p == sink.path) {
          steps += s
          assert(exists(sink.path), s"the log directory is gone at '$s'")
          assert(!exists(sink.path + ".staged") && !exists(sink.path + ".old"),
            s"a swap sibling exists at '$s'")
        }
      try sink.compact(spark, Seq("pk"))
      finally Commits.failpoint = (_, _) => ()
      assert(Set("compact-staged", "recorded", "marked", "moved", "removed").subsetOf(steps),
        s"steps seen: $steps")
      assert(markers() == before, "compaction must not touch the manifest")
      assert(view(sink) == (0L to 2L).map(_ -> s"v${dumps - 1}").toMap)
      assert(sink.log(spark).count() == 3)
    }
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

  test("an append committed while compaction rewrites survives the compaction") {
    val sink = compactable()
    var racer: Option[Long] = None
    Commits.failpoint = (p, s) =>
      if (p == sink.path && s == "compact-staged") {
        val t = new Thread(() =>
          racer = Some(sink.appendIdempotent(spark, batch(Seq((5L, "v3")), "d3", 3000L))))
        t.start(); t.join()
      }
    try sink.compact(spark, Seq("pk"))
    finally Commits.failpoint = (_, _) => ()
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

  test("Backfill.run releases its planned checkpoint, with and without a failing batch") {
    val items = spark.range(0, 600)
      .select(col("id").as("pk"), lit(1000L).as("modified_us"))
    val inner = newSink()
    /** Delegates to the parquet sink; batch 1's dump fails. */
    val flaky = new SinkLog {
      protected def exists(s: SparkSession): Boolean = inner.initialized(s)
      def log(s: SparkSession): DataFrame = inner.log(s)
      def appendIdempotent(s: SparkSession, b: DataFrame): Long =
        if (b.select("dump_id").distinct().collect().exists(_.getString(0).endsWith("-b1")))
          throw new IllegalStateException("batch 1 fails")
        else inner.appendIdempotent(s, b)
    }
    val live = Caches.liveCount
    val r1 = graft.sources.Backfill.run(spark, items, "pk", "modified_us", flaky,
      runId = "r1", dumpTimeUs = 2000L, batchSize = 200L)
    assert(r1.batchesFailed == Seq(1L) && r1.rowsAppended == 400L, s"got $r1")
    assert(Caches.liveCount == live, s"${Caches.liveCount - live} entries leaked")
    val r2 = graft.sources.Backfill.run(spark, items, "pk", "modified_us", newSink(),
      runId = "r2", dumpTimeUs = 2000L, batchSize = 200L)
    assert(r2.ok && r2.rowsAppended == 600L, s"got $r2")
    assert(Caches.liveCount == live, s"${Caches.liveCount - live} entries leaked")
  }

  test("EventIngest epochs into ExternalSink register no cache entries") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_commit_jdbc").toString
    val sink = graft.sources.ExternalSink(s"jdbc:derby:$dir/db;create=true", "event_log",
      Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver"))
    val src = MemoryStream[Ev]
    val live = Caches.liveCount
    val query = EventIngest.start(src.toDS().toDF(), sink, s"$dir/ckpt")
    try {
      Seq("10:05", "11:10", "12:20").foreach { hhmm =>
        src.addData(Ev(t(hhmm), "click", 1.0))
        query.processAllAvailable()
      }
    } finally query.stop()
    assert(Caches.liveCount == live, s"${Caches.liveCount - live} entries leaked")
    assert(sink.latestState(spark, Seq("hour_start", "event_type")).count() == 3)
  }
}
