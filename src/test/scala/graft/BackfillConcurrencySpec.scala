package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Backfill, BackfillReport, ExternalSink, ParquetSink, SinkLog}

/** A backfill lands its batches concurrently on the engine's one driver
  * pool ([[DriverPool]]), and keeps the one-at-a-time contract: failures
  * stay per batch, the report lists batches in id order, `limit` runs
  * the batches a sequential loop runs, and a batch's cascades land
  * before its parent rows.
  */
class BackfillConcurrencySpec extends SparkSpec {

  private def newSink() =
    ParquetSink(Files.createTempDirectory("graft_bfc").toString + "/log")

  /** pks 0 until n, all modified at t=1000us. */
  private def items(n: Long): DataFrame =
    spark.range(0, n).select(col("id").as("pk"), lit(1000L).as("modified_us"))

  private def dumpIds(b: DataFrame): Set[String] =
    b.select("dump_id").distinct().collect().map(_.getString(0)).toSet

  /** A parquet sink whose appends of the `poison` batches fail, and which
    * runs `around` around every append.
    */
  private class TestSink(poison: Set[Long] = Set.empty) extends SinkLog {
    val inner: ParquetSink = newSink()
    @volatile var around: (Set[String], () => Long) => Long = (_, append) => append()
    protected def exists(s: SparkSession): Boolean = inner.initialized(s)
    def log(s: SparkSession): DataFrame = inner.log(s)
    def appendIdempotent(s: SparkSession, b: DataFrame): Long = {
      val ids = dumpIds(b)
      around(ids, () => {
        if (poison.exists(p => ids.exists(_.endsWith(s"-b$p"))))
          throw new IllegalStateException(s"poisoned: $ids")
        inner.appendIdempotent(s, b)
      })
    }
  }

  private def backfill(sink: SinkLog, n: Long, batchSize: Long, limit: Option[Long] = None,
      nested: Seq[(DataFrame => DataFrame, SinkLog)] = Nil): BackfillReport =
    Backfill.run(spark, items(n), "pk", "modified_us", sink, runId = "r",
      dumpTimeUs = 2000L, batchSize = batchSize, limit = limit, nested = nested)

  test("10 batches with 2 poisoned: exactly those fail, the lists come out in id order") {
    val sink = new TestSink(poison = Set(3L, 7L))
    val r = backfill(sink, 1000L, 100L)
    assert(r.batchesPlanned == (0L to 9L), s"got $r")
    assert(r.batchesFailed == Seq(3L, 7L), s"got $r")
    assert(r.batchesLanded == Seq(0L, 1L, 2L, 4L, 5L, 6L, 8L, 9L), s"got $r")
    assert(r.rowsAppended == 800L && sink.log(spark).count() == 800L)
    assert(sink.log(spark).filter(col("pk").between(300, 399) || col("pk").between(700, 799))
      .isEmpty, "a failed batch lands no row")
  }

  /** The batches a one-at-a-time loop runs: (planned, landed, failed). */
  private def sequential(counts: Seq[(Long, Long)], poison: Set[Long], limit: Option[Long]) = {
    var submitted = 0L
    val ran = counts.filter { case (b, n) =>
      val runs = !limit.exists(submitted >= _)
      if (runs && !poison(b)) submitted += n
      runs
    }.map(_._1)
    (ran, ran.filterNot(poison), ran.filter(poison))
  }

  test("limit with a failing batch in the first wave runs the sequential loop's batches") {
    val counts = (0L to 9L).map(_ -> 100L)
    Seq((Set(1L), 250L), (Set(0L, 1L), 150L), (Set(2L), 100L), (Set(1L), 2000L)).foreach {
      case (poison, limit) =>
        val r = backfill(new TestSink(poison), 1000L, 100L, limit = Some(limit))
        assert((r.batchesPlanned, r.batchesLanded, r.batchesFailed) ==
          sequential(counts, poison, Some(limit)), s"poison $poison, limit $limit: got $r")
    }
  }

  test("every batch's cascade lands before its parent append") {
    val clock = new AtomicLong(0)
    // (dump_id, which sink, start tick, end tick)
    val events = new ConcurrentLinkedQueue[(String, String, Long, Long)]()
    def timed(name: String, sink: TestSink): TestSink = {
      sink.around = (ids, append) => {
        val t0 = clock.incrementAndGet()
        try append()
        finally ids.foreach(id => events.add((id, name, t0, clock.incrementAndGet())))
      }
      sink
    }
    val parent = timed("parent", new TestSink())
    val lines = timed("lines", new TestSink())
    val related = (b: DataFrame) => b.select(col("pk"), lit(1).as("line"))
    val r = backfill(parent, 800L, 100L, nested = Seq(related -> lines))
    assert(r.ok && r.batchesLanded.size == 8 && r.nestedRowsAppended == 800L, s"got $r")
    val byId = events.asScala.toSeq.groupBy(_._1)
    assert(byId.size == 8)
    byId.foreach { case (id, es) =>
      val nestedEnd = es.filter(_._2 == "lines").map(_._4)
      val parentStart = es.filter(_._2 == "parent").map(_._3)
      assert(nestedEnd.size == 1 && parentStart.size == 1, s"$id: $es")
      assert(nestedEnd.head < parentStart.head, s"$id: the parent landed before its cascade: $es")
    }
  }

  test("a backfill has at least two batch appends in flight at once") {
    val sink = new TestSink()
    val inFlight = new AtomicInteger(0)
    val most = new AtomicInteger(0)
    val two = new CountDownLatch(2)
    sink.around = (_, append) => {
      most.accumulateAndGet(inFlight.incrementAndGet(), math.max)
      // wait, boundedly, for a second append to arrive: one batch at a
      // time never brings it
      two.countDown()
      two.await(20, TimeUnit.SECONDS)
      try append() finally inFlight.decrementAndGet()
    }
    val r = backfill(sink, 800L, 100L)
    assert(r.ok && r.rowsAppended == 800L, s"got $r")
    assert(most.get >= 2, s"at most ${most.get} append in flight")
  }

  test("the pool runs thunks under the caller's local properties; nested use runs inline") {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.test.prop", "outer")
    try {
      // more outer thunks than pool threads, each using the pool again
      val run = Future(DriverPool.attempt(spark)((1 to 2 * DriverPool.Threads).map { i => () =>
        val outer = Thread.currentThread
        val inner = DriverPool.attempt(spark)((1 to 3).map(j => () =>
          (Thread.currentThread eq outer, sc.getLocalProperty("graft.test.prop"), i * j)))
        (sc.getLocalProperty("graft.test.prop"), inner.map(_.get))
      }))
      val got = Await.result(run, 2.minutes).map(_.get)
      assert(got.map(_._1).forall(_ == "outer"), s"got $got")
      assert(got.flatMap(_._2).forall { case (inline, p, _) => inline && p == "outer" }, s"got $got")
      assert(got.map(_._2.map(_._3).sum) == (1 to 2 * DriverPool.Threads).map(_ * 6))
    } finally sc.setLocalProperty("graft.test.prop", null)
    val failed = DriverPool.attempt(spark)(Seq(() => 1, () => throw new IllegalStateException("x")))
    assert(failed.head.get == 1 && failed(1).failed.get.getMessage == "x")
  }

  test("a backfill of 4 batches into a fresh ExternalSink lands every batch exactly once") {
    val db = Files.createTempDirectory("graft_bfc_jdbc").toString + "/db"
    val sink = ExternalSink(s"jdbc:derby:$db;create=true", "orders_log",
      Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver"))
    val r = backfill(sink, 400L, 100L)
    assert(r.ok && r.batchesLanded == Seq(0L, 1L, 2L, 3L) && r.rowsAppended == 400L, s"got $r")
    val log = sink.log(spark)
    assert(log.count() == 400L && log.select("pk").distinct().count() == 400L)
    assert(log.groupBy("dump_id").count().collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap ==
      (0 to 3).map(b => s"r-b$b" -> 100L).toMap)
  }
}
