package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.EventIngest

/** A10 — Structured Streaming ingest twin: events stream in, 1-hour
  * windows aggregate under a watermark, micro-batches append to the sink,
  * and the latest-epoch view reflects cross-batch updates idempotently.
  */
case class Ev(ts: Timestamp, event_type: String, value: Double)
case class VEv(ts: Timestamp, user_id: Long, event_id: Long,
    event_type: String, value: Double)
case class UserEv(user_id: Long, ts: Timestamp)
case class Doc(doc_id: Long, ts: Timestamp, text: String)

class StreamingSpec extends SparkSpec {

  private def t(hhmm: String) = Timestamp.valueOf(s"2026-01-01 $hhmm:00")

  test("stream ingest: windows aggregate across batches, latest epoch wins") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val dir = Files.createTempDirectory("graft_stream").toString
    val sink = s"$dir/sink"
    val ckpt = s"$dir/ckpt"
    val src = MemoryStream[Ev]
    val query = EventIngest.start(src.toDS().toDF(), sink, ckpt)

    // batch 1: two clicks in the 10:00 window, one view in 11:00
    src.addData(Ev(t("10:05"), "click", 1.0), Ev(t("10:40"), "click", 2.0),
      Ev(t("11:10"), "view", 5.0))
    query.processAllAvailable()
    // batch 2: a late-but-inside-watermark click updates the 10:00 window
    src.addData(Ev(t("10:55"), "click", 4.0))
    query.processAllAvailable()
    query.stop()

    val state = EventIngest.latestState(spark, sink).collect()
      .map(r => (r.getAs[String]("hour_start"), r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))).toMap

    // the 10:00/click window must reflect BOTH batches (3 events, 7.0)
    assert(state(("2026-01-01 10:00:00", "click")) == ((3L, 7.0)),
      s"latest state wrong: $state")
    assert(state(("2026-01-01 11:00:00", "view")) == ((1L, 5.0)))

    // the append log keeps the superseded epoch row (ReplacingMergeTree
    // style): raw rows > latest-state rows
    assert(spark.read.parquet(sink).count() > state.size)
  }

  test("attribution stream-stream join: cross-batch pairs match, " +
      "out-of-horizon purchases don't, late rows beyond the watermark " +
      "drop, and the landed set equals the batch replay") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.AttributionStream

    val dir = Files.createTempDirectory("graft_attr").toString
    val (sink, ckpt) = (s"$dir/sink", s"$dir/ckpt")
    val src = MemoryStream[VEv]
    val query = AttributionStream.start(src.toDS().toDF(), sink, ckpt)

    // batch 1: u1 clicks at 10:00 (101); u1 purchases at 10:20 (201,
    // in-horizon) and 10:45 (202, outside the 30-min horizon); u2
    // purchases at 10:15 with no click at all
    src.addData(
      VEv(t("10:00"), 1, 101, "click", 0.0),
      VEv(t("10:20"), 1, 201, "purchase", 9.0),
      VEv(t("10:45"), 1, 202, "purchase", 7.0),
      VEv(t("10:15"), 2, 203, "purchase", 5.0))
    query.processAllAvailable()
    // batch 2: a purchase arriving a batch LATER still joins the
    // batch-1 click — the two-sided state the foreachBatch ops can't
    // express is exactly what the join operator holds
    src.addData(VEv(t("10:25"), 1, 204, "purchase", 3.0))
    query.processAllAvailable()
    // batch 3: both sides' event time advances to 12:00 (u8/u9 carry no
    // counterpart, so no new pair) → watermark 11:50 on both streams
    src.addData(VEv(t("12:00"), 9, 900, "click", 0.0),
      VEv(t("12:00"), 8, 901, "purchase", 1.0))
    query.processAllAvailable()
    // batch 4: a purchase at 10:26 is in-horizon for click 101 but LATE
    // beyond the watermark — dropped, and 101's buffered state is
    // already evicted (10:00 + horizon + lateness < 11:50): the
    // watermark bounds state, so this must NOT produce a pair
    src.addData(VEv(t("10:26"), 1, 205, "purchase", 2.0))
    query.processAllAvailable()
    query.stop()

    val got = AttributionStream.landed(spark, sink).collect()
      .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id")))
      .toSet
    assert(got == Set((101L, 201L), (101L, 204L)), s"got $got")

    // batch ≡ stream: the same in-watermark rows through the same join
    // body ([[AttributionStream.pairs]]) as static frames
    val evs = Seq(
      (t("10:00"), 1L, 101L, "click", 0.0),
      (t("10:20"), 1L, 201L, "purchase", 9.0),
      (t("10:45"), 1L, 202L, "purchase", 7.0),
      (t("10:15"), 2L, 203L, "purchase", 5.0),
      (t("10:25"), 1L, 204L, "purchase", 3.0),
      (t("12:00"), 9L, 900L, "click", 0.0),
      (t("12:00"), 8L, 901L, "purchase", 1.0))
      .toDF("ts", "user_id", "event_id", "event_type", "value")
    val batch = AttributionStream.pairs(
      evs.filter(col("event_type") === "click"),
      evs.filter(col("event_type") === "purchase")).collect()
      .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id")))
      .toSet
    assert(batch == got, s"stream $got vs batch $batch")
  }

  test("quantiles stream: histogram state equals the batch histogram " +
      "over the same prefix, readout reconciles with the exact " +
      "quantile, state is bucket-bounded") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.QuantilesStream

    val dir = Files.createTempDirectory("graft_qstream").toString
    val (sink, ckpt) = (s"$dir/sink", s"$dir/ckpt")
    val src = MemoryStream[Ev]
    val query = QuantilesStream.start(src.toDS().toDF(), sink, ckpt)

    // 400 events, 2 windows × 2 types, values land in ≤ 20 buckets per
    // group — repeated values are the histogram's whole point
    def mkEv(i: Int): Ev = Ev(
      t(if (i % 2 == 0) s"10:${10 + i % 40}" else s"11:${10 + i % 40}"),
      if (i % 4 < 2) "click" else "view",
      (i % 20) * 0.35 + 0.05)
    val all = (0 until 400).map(mkEv)
    val (e1, e2) = all.splitAt(250)
    src.addData(e1: _*)
    query.processAllAvailable()
    // epoch 2 includes in-watermark late rows for the 10:00 window
    src.addData(e2: _*)
    query.processAllAvailable()
    query.stop()

    // 1) stream histogram ≡ batch histogram over the identical prefix
    val streamHist = QuantilesStream.latestHistogram(spark, sink)
    val got = streamHist.collect().map(r =>
      (r.getAs[String]("hour_start"), r.getAs[String]("event_type"),
        r.getAs[Long]("b"), r.getAs[Long]("c"))).toSet
    val batchHist = QuantilesStream.bucketCounts(
      all.toDF("ts", "event_type", "value"))
    val want = batchHist.collect().map(r =>
      (r.getAs[String]("hour_start"), r.getAs[String]("event_type"),
        r.getAs[Long]("b"), r.getAs[Long]("c"))).toSet
    assert(got == want, "stream histogram must equal the batch rebuild")

    // 2) the shared readout agrees stream vs batch, and reconciles with
    // the EXACT per-group quantile: monotone bucketing makes the picked
    // bucket floor(exact·1000) — an identity, not an approximation
    val sq = QuantilesStream.quantiles(streamHist).collect()
    val bq = QuantilesStream.quantiles(batchHist).collect()
    assert(sq.map(_.toSeq).toSeq == bq.map(_.toSeq).toSeq)
    val byGroup = all.groupBy(e =>
      (f"2026-01-01 ${if (e.ts.toString.contains(" 10:")) 10 else 11}%02d:00:00",
        e.event_type))
    sq.foreach { r =>
      val vals = byGroup(
        (r.getAs[String]("hour_start"), r.getAs[String]("event_type")))
        .map(_.value).sorted
      assert(r.getAs[Long]("n_events") == vals.length.toLong)
      Seq(("p50", 50), ("p90", 90), ("p99", 99)).foreach { case (name, q) =>
        val exact = vals(((vals.length - 1) * q / 100).toInt)
        assert(r.getAs[Double](name) ==
          math.floor(exact * 1000).toLong / 1000.0,
          s"$name must be the exact quantile's bucket lower bound")
      }
    }

    // 3) state bound: histogram rows scale with buckets × windows ×
    // types, never events — 400 events collapse into ≤ 2·2·20 rows
    assert(streamHist.count() <= 80L,
      s"state must be bucket-bounded, got ${streamHist.count()} rows")
    Caches.releaseScope()
  }

  test("heavy-hitters stream: per-window summary stays capacity-bounded, " +
      "no false negatives vs the exact batch answer, bounds bracket " +
      "every true count") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.HeavyHittersStream

    val dir = Files.createTempDirectory("graft_hhstream").toString
    val (sink, ckpt) = (s"$dir/sink", s"$dir/ckpt")
    val src = MemoryStream[UserEv]

    // window 10:00 — hot user 7 (60 events, ~11%) over 500 singleton
    // tail users (cardinality 501 > Cap=256, so the sketch MUST trim);
    // window 11:00 — hot user 9 (30 events) over 300 singletons
    def w10(i: Int) = t(f"10:${5 + i % 50}%02d")
    def w11(i: Int) = t(f"11:${5 + i % 50}%02d")
    val hot10 = (0 until 60).map(i => UserEv(7L, w10(i)))
    val tail10 = (0 until 500).map(i => UserEv(1000L + i, w10(i)))
    val hot11 = (0 until 30).map(i => UserEv(9L, w11(i)))
    val tail11 = (0 until 300).map(i => UserEv(2000L + i, w11(i)))
    val all = hot10 ++ tail10 ++ hot11 ++ tail11
    // three epochs over a fixed shuffle: both windows' summaries merge
    // across batches, and the cross-batch trims are what the bounds
    // must survive
    val (e1, rest) = new scala.util.Random(42).shuffle(all).splitAt(300)
    val (e2, e3) = rest.splitAt(400)

    val query = HeavyHittersStream.start(src.toDS().toDF(), sink, ckpt)
    src.addData(e1: _*); query.processAllAvailable()
    src.addData(e2: _*); query.processAllAvailable()
    src.addData(e3: _*); query.processAllAvailable()
    query.stop()

    val summaries = HeavyHittersStream.currentSummaries(spark, sink)
    // 1) bounded state: ≤ Cap retained entries per window, ever
    val sizes = summaries.select(col("hour_start"),
      size(col("entries")).as("sz")).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(sizes.values.forall(_ <= HeavyHittersStream.Cap),
      s"summary must stay capacity-bounded: $sizes")
    assert(sizes("2026-01-01 10:00:00") <= HeavyHittersStream.Cap)

    val rep = HeavyHittersStream.report(summaries).collect().map(r =>
      (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap

    // 2) exact truth from the same events
    val truth = all.groupBy(e =>
      (if (e.ts.toString.contains(" 10:")) "2026-01-01 10:00:00"
       else "2026-01-01 11:00:00", e.user_id))
      .map { case (k, evs) => k -> evs.size.toLong }
    val nTot = truth.groupBy(_._1._1).map { case (w, m) => w -> m.values.sum }
    val exactHH = truth.filter { case ((w, _), c) => c * 128 > nTot(w) }
    // every exact heavy hitter is reported AND flagged — no false
    // negatives, the monitor's contract
    exactHH.foreach { case ((w, u), c) =>
      val (lo, hi, n, heavy) = rep.getOrElse((w, u),
        fail(s"exact heavy hitter $u in $w missing from the report"))
      assert(heavy, s"user $u in $w must be flagged heavy")
      assert(lo <= c && c <= hi,
        s"bounds must bracket the true count: $lo <= $c <= $hi")
      assert(n == nTot(w))
    }
    assert(exactHH.nonEmpty && exactHH.keySet ==
      Set(("2026-01-01 10:00:00", 7L), ("2026-01-01 11:00:00", 9L)))
    // 3) the bracket holds for EVERY reported key, not just the hot ones
    rep.foreach { case ((w, u), (lo, hi, n, _)) =>
      val c = truth.getOrElse((w, u), 0L)
      assert(lo <= c && c <= hi,
        s"user $u in $w: bracket $lo..$hi must contain true $c")
      assert(n == nTot(w), s"window total must be exact: $n vs ${nTot(w)}")
    }
  }

  test("scd2 stream: incremental CDC merge equals the batch rebuild over " +
      "the same event prefix, including a late-arrival batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.Scd2Stream

    val dir = Files.createTempDirectory("graft_scd2s").toString
    val sink = s"$dir/sink"
    val ckpt = s"$dir/ckpt"
    val src = MemoryStream[VEv]
    val query = Scd2Stream.start(src.toDS().toDF(), sink, ckpt)

    // batch 1: two versions of user 1, one of user 2
    val b1 = Seq(
      VEv(t("10:00"), 1L, 1L, "created", 1.0),
      VEv(t("12:00"), 1L, 3L, "published", 2.0),
      VEv(t("10:30"), 2L, 2L, "created", 5.0))
    src.addData(b1: _*)
    query.processAllAvailable()
    // batch 2: a LATE version of user 1 that belongs BETWEEN its two
    // existing intervals, plus a brand-new user 3
    val b2 = Seq(
      VEv(t("11:00"), 1L, 4L, "edited", 9.0),
      VEv(t("09:00"), 3L, 5L, "created", 7.0))
    src.addData(b2: _*)
    query.processAllAvailable()
    query.stop()

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[String]("event_type"), r.getAs[Double]("value"),
        r.getAs[Long]("valid_from_us"), Option(r.get(r.fieldIndex(
          "valid_to_us")).asInstanceOf[java.lang.Long]).map(_.longValue),
        r.getAs[Boolean]("is_current")))
      .sortBy(x => (x._1, x._5, x._2)).toSeq

    val got = rows(Scd2Stream.currentIntervals(spark, sink))
    // the batch twin over the SAME events — one definition, one answer
    val want = rows(graft.operators.SinkOps.scd2Intervals(
      (b1 ++ b2).toDF()
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("us"))))
    assert(got == want,
      s"stream-built intervals must equal the batch rebuild:\n$got\nvs\n$want")
    // the late arrival genuinely spliced mid-chain: user 1's middle
    // interval is the late event, closed by the later version
    val u1 = got.filter(_._1 == 1L)
    assert(u1.map(_._2) == Seq(1L, 4L, 3L), s"splice order: $u1")
    assert(u1(0)._6.contains(u1(1)._5) && u1(1)._6.contains(u1(2)._5),
      "closing chain must thread through the spliced version")
    assert(u1.map(_._7) == Seq(false, false, true))
    // untouched keys keep their batch-1 chains (per-key replacement,
    // not global rewrite): user 2's row came from epoch 0's dump
    val u2dumps = spark.read.parquet(sink).filter(col("user_id") === 2L)
      .select(col("dump_id")).distinct().collect().map(_.getString(0))
    assert(u2dumps.length == 1 && u2dumps.head.contains("epoch-000000000"),
      s"user 2 must not be rewritten by batch 2: ${u2dumps.toSeq}")
  }

  test("stream ingest into ExternalSink: epochs land exactly-once over JDBC") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.sources.ExternalSink

    val dir = Files.createTempDirectory("graft_stream_jdbc").toString
    val sink = ExternalSink(s"jdbc:derby:$dir/db;create=true", "event_log",
      Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver"))
    val src = MemoryStream[Ev]
    val query = EventIngest.start(src.toDS().toDF(), sink, s"$dir/ckpt")

    src.addData(Ev(t("10:05"), "click", 1.0), Ev(t("11:10"), "view", 5.0))
    query.processAllAvailable()
    src.addData(Ev(t("10:40"), "click", 2.0))
    query.processAllAvailable()
    query.stop()

    // both epochs reached the external database; the latest-state view
    // over JDBC reflects the cross-batch update of the 10:00 window
    val st = sink.latestState(spark, Seq("hour_start", "event_type"))
      .collect()
      .map(r => (r.getAs[String]("hour_start"), r.getAs[String]("event_type")) ->
        r.getAs[Long]("n_events")).toMap
    assert(st(("2026-01-01 10:00:00", "click")) == 2L, s"got $st")
    assert(st(("2026-01-01 11:00:00", "view")) == 1L)
    // a replayed epoch (restart from the same checkpoint state) would
    // carry an already-seen dump_id; prove the dedup path over JDBC
    val before = sink.log(spark).count()
    sink.appendIdempotent(spark, sink.log(spark).limit(1))
    assert(sink.log(spark).count() == before,
      "re-delivered epoch rows must not duplicate over JDBC")
  }

  test("file-drop ingest: JSONL files stream through the parse into the sink") {
    import graft.sources.FileSources
    val dir = Files.createTempDirectory("graft_filedrop").toString
    val drop = s"$dir/drop"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(drop))
    def dropFile(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$drop/$name"),
        lines.mkString("\n").getBytes("UTF-8"))
    def ev(id: Long, hhmm: String, et: String, v: Double) =
      s"""{"event_id":$id,"ts":"2026-01-01 $hhmm:00","user_id":1,""" +
        s""""event_type":"$et","value":$v,"props":"{}"}"""

    // the production shape: a producer drops files, the SAME parse
    // expression as the batch reader feeds the windowed ingest
    dropFile("a.jsonl", Seq(ev(1, "10:05", "click", 1.0),
      ev(2, "10:40", "click", 2.0), "garbage line that must not kill the stream"))
    val events = FileSources.good(FileSources.streamEventsJsonl(spark, drop))
    val query = EventIngest.start(events, s"$dir/sink", s"$dir/ckpt")
    query.processAllAvailable()
    dropFile("b.jsonl", Seq(ev(3, "10:55", "click", 4.0)))
    query.processAllAvailable()
    query.stop()

    val state = EventIngest.latestState(spark, s"$dir/sink").collect()
      .map(r => (r.getAs[String]("hour_start"), r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))).toMap
    // both files aggregated into the 10:00 window; the corrupt line
    // was quarantined by the parse, not an exception
    assert(state(("2026-01-01 10:00:00", "click")) == ((3L, 7.0)),
      s"file-drop state wrong: $state")
  }

  test("stateful sessionization: gaps close sessions, watermark closes the tail") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.SessionizeStream

    val src = MemoryStream[UserEv]
    val out = SessionizeStream.sessions(
      src.toDS().toDF().withWatermark("ts", "10 minutes"), gapMinutes = 30)
    val query = out.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()

    // user 1: two events 10 min apart (one session), then an 80-min gap
    src.addData(UserEv(1, t("10:00")), UserEv(1, t("10:10")), UserEv(1, t("11:30")))
    query.processAllAvailable()
    // watermark only advances on the NEXT batch after new data arrives;
    // push it past 12:00 so the open session (last ts 11:30) times out
    src.addData(UserEv(2, t("13:00")))
    query.processAllAvailable()
    src.addData(UserEv(2, t("13:01")))
    query.processAllAvailable()

    val got = spark.table("sessions").as[SessionizeStream.Session].collect()
      .filter(_.user_id == 1).sortBy(_.start_us)
    query.stop()

    assert(got.length == 2, s"expected 2 closed sessions, got ${got.toSeq}")
    assert(got(0).n_events == 2 &&
      got(0).start_us == t("10:00").getTime * 1000 &&
      got(0).end_us == t("10:10").getTime * 1000)
    assert(got(1).n_events == 1 &&
      got(1).start_us == t("11:30").getTime * 1000)
  }

  test("stream ingest: data later than the watermark is dropped, not re-aggregated") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val dir = Files.createTempDirectory("graft_stream_late").toString
    val src = MemoryStream[Ev]
    val query = EventIngest.start(src.toDS().toDF(), s"$dir/sink", s"$dir/ckpt")
    src.addData(Ev(t("10:05"), "click", 1.0))
    query.processAllAvailable()
    // advance the event-time watermark far past the 10:00 window
    // (watermark = max ts - 2h), then send a straggler into 10:00
    src.addData(Ev(t("20:00"), "view", 1.0))
    query.processAllAvailable()
    src.addData(Ev(t("10:30"), "click", 100.0))
    query.processAllAvailable()
    query.stop()
    val state = EventIngest.latestState(spark, s"$dir/sink").collect()
      .map(r => (r.getAs[String]("hour_start"), r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))).toMap
    assert(state(("2026-01-01 10:00:00", "click")) == ((1L, 1.0)),
      s"late event must not reopen the closed window: $state")
  }

  test("batch/stream parity: streaming sessions equal q16_sessionize on real events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.SessionizeStream

    val real = Tables.events(spark, sf)
      .select(col("user_id"), col("ts")).collect()
      .map(r => SessionizeStream.SessEvent(
        r.getAs[Long]("user_id"), r.getAs[Timestamp]("ts")))
    val sentinel = // advances the watermark far past every open session
      SessionizeStream.SessEvent(-1L, Timestamp.valueOf("2030-01-01 00:00:00"))

    val src = MemoryStream[SessionizeStream.SessEvent]
    val query = SessionizeStream.sessions(
        src.toDS().toDF().withWatermark("ts", "10 minutes"), gapMinutes = 30)
      .writeStream.format("memory").queryName("parity_sessions")
      .outputMode("append").start()
    src.addData(real.toIndexedSeq: _*)
    query.processAllAvailable()
    src.addData(sentinel)
    query.processAllAvailable()
    src.addData(sentinel.copy(ts = Timestamp.valueOf("2030-01-01 00:01:00")))
    query.processAllAvailable()
    query.stop()

    val streamed = spark.table("parity_sessions")
      .filter(col("user_id") >= 0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_sessions"), r.getAs[Long]("n_events"))).toMap
    val batch = run("q16_sessionize").collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_sessions"), r.getAs[Long]("n_events"))).toMap
    assert(streamed == batch,
      s"stream/batch mismatch: ${streamed.toSeq.sorted.take(5)} vs ${batch.toSeq.sorted.take(5)}")
  }

  test("doc ingest stream: quality gate + cross-batch exact dedup") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.DocIngest

    val good = "the quick brown fox jumps over the lazy dog and then " +
      "it runs far away to a quiet place in the woods today again"
    val src = MemoryStream[Doc]
    val query = DocIngest.pipeline(src.toDS().toDF())
      .writeStream.format("memory").queryName("docs_ingest")
      .outputMode("append").start()

    // batch 1: a good doc, a whitespace-variant dup of it (same
    // fingerprint), and a too-short doc the quality gate drops
    src.addData(
      Doc(1, t("10:00"), good),
      Doc(2, t("10:01"), "  " + good.replace(" ", "  ") + "  "),
      Doc(3, t("10:02"), "way too short"))
    query.processAllAvailable()
    // batch 2: the same content AGAIN (inside the watermark horizon)
    // plus one genuinely new good doc
    src.addData(
      Doc(4, t("10:10"), good),
      Doc(5, t("10:11"), good + " but this one is different enough"))
    query.processAllAvailable()
    query.stop()

    val ids = spark.table("docs_ingest").collect()
      .map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(ids == Seq(1L, 5L),
      s"expected first-seen survivors 1 and 5, got $ids")
  }

  test("doc ingest stream with DSIR gate: frozen-policy edge verdicts " +
      "equal the batch sample_dsir verdicts; novel tokens price at the " +
      "prior") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.PipelineOps
    import graft.streaming.DocIngest

    // the PipelineSpec plant: background vocabulary + a target
    // vocabulary carried by DSIR_TARGET sources and look-alikes
    val tgtVocab = "genome protein enzyme ribosome chromosome"
    val bgVocab = Seq("alpha beta gamma delta", "epsilon zeta eta theta",
      "iota kappa lambda mu", "nu xi omicron pi")
    val corpus = (
      (0 until 40).map(i =>
        (i.toLong, "web", bgVocab(i % 4) + s" filler$i")) ++
      (40 until 44).map(i =>
        (i.toLong, PipelineOps.DSIR_TARGET(i % 2), tgtVocab)) ++
      (44 until 48).map(i => (i.toLong, "web", tgtVocab))
    )
    val corpusDf = corpus.toDF("doc_id", "source", "text")
    val (scores, tBin) = PipelineOps.dsirPolicy(corpusDf)
    val batchKept = PipelineOps.dsirSelect(corpusDf).collect()
      .filter(_.getAs[Boolean]("kept")).map(_.getAs[Long]("doc_id")).toSet
    Caches.releaseScope()

    val src = MemoryStream[Doc]
    val query = DocIngest.dsirGate(src.toDS().toDF(), scores, tBin)
      .writeStream.format("memory").queryName("dsir_gate")
      .outputMode("append").start()
    // replay the corpus through the edge, plus one doc of tokens the
    // policy never saw — it prices at the PRIOR fill: under add-one
    // smoothing a never-seen feature scores (ctot+B)/(ttot+B) > 1
    // toward the SMALLER (target) distribution, so novel text is
    // target-leaning by construction — the gate verdict follows from
    // that arithmetic, it is not an error path
    src.addData(corpus.map { case (id, _, txt) => Doc(id, t("10:00"), txt) }
      :+ Doc(99L, t("10:01"), "qqzz wwyy vvxx uuww ttvv") : _*)
    query.processAllAvailable()
    query.stop()

    val out = spark.table("dsir_gate").collect()
    val streamed = out.map(_.getAs[Long]("doc_id")).toSet
    assert((streamed - 99L) == batchKept,
      s"edge verdicts $streamed must equal batch verdicts $batchKept")
    // the novel doc's weight is EXACTLY 5 tokens × the prior fill (its
    // gibberish tokens hash to policy-untouched buckets), and its
    // verdict is the frozen threshold applied to that weight
    val prior = scores.groupBy(identity).maxBy(_._2.length)._1
    val w99 = out.find(_.getAs[Long]("doc_id") == 99L)
      .map(_.getAs[Long]("w_q16"))
    val bin99 = (5 * prior - Math.floorMod(5 * prior, 65536L)) / 65536L
    if (bin99 > tBin)
      assert(w99.contains(5 * prior),
        s"novel doc must price at 5x the prior, got $w99")
    else assert(w99.isEmpty, "novel doc below the frozen threshold")
  }

  test("learned gates at the edge: frozen QualityIndex/LangIndex weights " +
      "give per-doc verdicts identical to the batch consumers") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.{LangIndex, QualityIndex}
    import graft.streaming.DocIngest

    val docs = Tables.documents(spark, sf)
    val qm = QualityIndex.forCorpus(spark, sf)
    val lm = LangIndex.forCorpus(spark, sf)
    // batch truths: the oracle-checked consumers' own verdict columns
    val batchQuality = QualityIndex.score(docs, qm).collect()
      .filter(_.getAs[Boolean]("is_quality_pred"))
      .map(_.getAs[Long]("doc_id")).toSet
    val langRows = LangIndex.score(docs, lm).collect()
    val keepLangs = Seq("en", "fr")
    val batchLang = langRows
      .filter(r => keepLangs.contains(r.getAs[String]("learned_lang")))
      .map(_.getAs[Long]("doc_id")).toSet
    val corpus = docs.select(col("doc_id"), col("text")).collect()
      .map(r => Doc(r.getAs[Long]("doc_id"), t("10:00"),
        r.getAs[String]("text")))
    Caches.releaseScope()

    val srcQ = MemoryStream[Doc]
    val q1 = DocIngest.qualityGateLearned(srcQ.toDS().toDF(), qm)
      .writeStream.format("memory").queryName("edge_quality")
      .outputMode("append").start()
    srcQ.addData(corpus.toIndexedSeq: _*)
    q1.processAllAvailable(); q1.stop()
    val edgeQuality = spark.table("edge_quality").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(edgeQuality == batchQuality,
      s"edge quality verdicts diverge from QualityIndex.score " +
        s"(edge only: ${edgeQuality -- batchQuality}, batch only: " +
        s"${batchQuality -- edgeQuality})")

    val srcL = MemoryStream[Doc]
    val q2 = DocIngest.langGate(srcL.toDS().toDF(), lm, keepLangs)
      .writeStream.format("memory").queryName("edge_lang")
      .outputMode("append").start()
    srcL.addData(corpus.toIndexedSeq: _*)
    q2.processAllAvailable(); q2.stop()
    val edgeLang = spark.table("edge_lang").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(edgeLang == batchLang,
      s"edge language verdicts diverge from LangIndex.score " +
        s"(edge only: ${edgeLang -- batchLang}, batch only: " +
        s"${batchLang -- edgeLang})")
    // an unknown language in the keep set must refuse, not silently
    // never match
    intercept[IllegalArgumentException] {
      DocIngest.langGate(srcL.toDS().toDF(), lm, Seq("xx"))
    }
  }

  test("chained edge ingest with learned gates: quality → lang → exact " +
      "dedup → near-dup still ONE streaming query") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.{LangIndex, QualityIndex}
    import graft.streaming.{DocIngest, NearDupStream}

    val docs = Tables.documents(spark, sf)
    val qm = QualityIndex.forCorpus(spark, sf)
    val lm = LangIndex.forCorpus(spark, sf)
    // the strongest quality-predicted doc — a one-token edit cannot
    // flip a far-from-threshold score, so the near-dup variant passes
    // the gate too
    val best = QualityIndex.score(docs, qm)
      .filter(col("is_quality_pred"))
      .orderBy(col("score_micros").desc, col("doc_id")).limit(1)
      .join(docs, "doc_id").select(col("doc_id"), col("text"))
      .head()
    val good = best.getAs[String]("text")
    val lang = LangIndex.score(
      Seq((best.getAs[Long]("doc_id"), good)).toDF("doc_id", "text"), lm)
      .head().getAs[String]("learned_lang")
    Caches.releaseScope()

    val firstTok = good.split("\\s+").head
    val src = MemoryStream[Doc]
    val gated = DocIngest.dedup(
      DocIngest.langGate(
        DocIngest.qualityGateLearned(
          src.toDS().toDF().withWatermark("ts", "1 hour"), qm),
        lm, Seq(lang)))
    val query = NearDupStream.candidatePairs(gated.drop("fp"))
      .writeStream.format("memory").queryName("chained_learned")
      .outputMode("append").start()
    src.addData(
      Doc(9001, t("10:00"), good),
      Doc(9002, t("10:01"), "  " + good.replace(" ", "  ")), // exact dup
      Doc(9003, t("10:02"), "tiny")) // no language evidence of its own
    query.processAllAvailable()
    src.addData(
      Doc(9004, t("10:03"), good.replaceFirst(firstTok, "altered")))
    query.processAllAvailable()
    query.stop()

    val pairs = spark.table("chained_learned").collect()
      .map(r => (r.getAs[Long]("first_id"), r.getAs[Long]("dup_id")))
      .distinct.toSeq
    assert(pairs == Seq((9001L, 9004L)),
      s"the learned-gated chain must surface exactly the near-dup pair: " +
        s"$pairs")
  }

  test("doc ingest stream with Bloom decon: contaminated docs quarantine " +
      "map-side, clean docs flow; nothing contaminated reaches the " +
      "clean side") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.DocIngest

    // the offline-built eval bitset (D12's builder, the oracle-checked
    // definition): 8-grams of a held-out benchmark text
    val evalToks = (1 to 30).map(i => s"eval$i")
    val evalGrams = evalToks.sliding(8).map(_.mkString(" ")).toSeq
    val words = graft.operators.DedupOps.bloomBitset(
      evalGrams.toDF("g"))

    val clean = "the quick brown fox jumps over the lazy dog and then " +
      "it runs far away to a quiet place in the woods today again"
    // a gate-passing doc that embeds a 10-token eval run (3 full 8-grams)
    val leaked = "the story begins and it is told here " +
      (5 to 14).map(i => s"eval$i").mkString(" ") +
      " and the ending is a quiet one in the woods"

    val src = MemoryStream[Doc]
    val (cleanStream, quarantine) =
      DocIngest.pipelineWithDecon(src.toDS().toDF(), words)
    val q1 = cleanStream.writeStream.format("memory")
      .queryName("decon_clean").outputMode("append").start()
    val q2 = quarantine.writeStream.format("memory")
      .queryName("decon_quarantine").outputMode("append").start()

    src.addData(
      Doc(1, t("10:00"), clean),
      Doc(2, t("10:01"), leaked),
      Doc(3, t("10:02"), "way too short"))
    q1.processAllAvailable(); q2.processAllAvailable()
    q1.stop(); q2.stop()

    val cleanIds = spark.table("decon_clean").collect()
      .map(_.getAs[Long]("doc_id")).sorted.toSeq
    val quarIds = spark.table("decon_quarantine").collect()
      .map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(cleanIds == Seq(1L),
      s"only the uncontaminated gate-passing doc flows: $cleanIds")
    assert(quarIds == Seq(2L),
      s"the leaked doc quarantines (and the short doc gated out): $quarIds")
  }

  test("near-dup stream: cross-batch LSH pairs, unrelated docs unpaired") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.NearDupStream

    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = base.replace("token7", "changed") // 1 of 40 tokens
    val unrelated = (1 to 40).map(i => s"other$i").mkString(" ")

    val src = MemoryStream[Doc]
    val query = NearDupStream.pipeline(src.toDS().toDF(), "10 minutes")
      .writeStream.format("memory").queryName("near_dups")
      .outputMode("append").start()

    // batch 1: the original alone — nothing to pair with
    src.addData(Doc(1, t("10:00"), base))
    query.processAllAvailable()
    assert(spark.table("near_dups").count() == 0)

    // batch 2: a near-dup of doc 1 (cross-batch state hit) + an
    // unrelated doc + a REPLAY of doc 1 (at-least-once upstream)
    src.addData(
      Doc(2, t("10:01"), nearDup),
      Doc(3, t("10:02"), unrelated),
      Doc(1, t("10:03"), base))
    query.processAllAvailable()
    query.stop()

    // multiple bands may emit the same pair — consumer-side distinct
    val pairs = spark.table("near_dups").collect()
      .map(r => (r.getAs[Long]("first_id"), r.getAs[Long]("dup_id"),
        r.getAs[Double]("est_jaccard"))).toSeq
    val distinctPairs = pairs.map(p => (p._1, p._2)).distinct
    assert(distinctPairs == Seq((1L, 2L)),
      s"expected exactly the planted pair, got $pairs")
    assert(pairs.forall(_._3 >= 0.5), s"agreement below tau: $pairs")
  }

  test("composed edge ingest: gate → exact dedup → near-dup in one query") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{DocIngest, NearDupStream}

    // Spark 4 supports chaining stateful operators in append mode:
    // dropDuplicatesWithinWatermark (exact dedup) feeding
    // flatMapGroupsWithState (near-dup) in ONE streaming query
    val good = (1 to 40).map(i => s"the of chain$i").mkString(" ")
    val src = MemoryStream[Doc]
    val query = NearDupStream
      .candidatePairs(DocIngest.pipeline(src.toDS().toDF()).drop("fp"))
      .writeStream.format("memory").queryName("chained_ingest")
      .outputMode("append").start()

    // batch 1: the original + an exact whitespace-variant dup (killed by
    // the exact stage, so it must NOT surface as a near-dup pair)
    src.addData(
      Doc(1, t("10:00"), good),
      Doc(2, t("10:01"), "  " + good.replace(" ", "  ")))
    query.processAllAvailable()
    // batch 2: a genuine near-dup (one token changed) survives the exact
    // stage and pairs with doc 1 across batches
    src.addData(Doc(3, t("10:02"), good.replace("chain7", "altered")))
    query.processAllAvailable()
    query.stop()

    val pairs = spark.table("chained_ingest").collect()
      .map(r => (r.getAs[Long]("first_id"), r.getAs[Long]("dup_id")))
      .distinct.toSeq
    assert(pairs == Seq((1L, 3L)),
      s"exact dup must die before near-dup pairing: $pairs")
  }

  test("near-dup stream into sink: multi-band pairs collapse, epochs land once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.sources.ParquetSink
    import graft.streaming.NearDupStream

    val dir = Files.createTempDirectory("graft_nd_sink").toString
    val sink = ParquetSink(s"$dir/log")
    val base = (1 to 40).map(i => s"sink$i").mkString(" ")

    val src = MemoryStream[Doc]
    val query = NearDupStream.start(src.toDS().toDF(), sink,
      s"$dir/ckpt", watermark = "10 minutes")
    src.addData(Doc(1, t("10:00"), base))
    query.processAllAvailable()
    src.addData(Doc(2, t("10:01"), base.replace("sink9", "edited")))
    query.processAllAvailable()
    query.stop()

    // the log holds exactly ONE row for the pair (multi-band emissions
    // collapse before the append; epoch dump ids dedup re-delivery)
    val log = sink.log(spark).collect()
    assert(log.length == 1, s"expected one pair row, got ${log.length}")
    assert(log.head.getAs[Long]("first_id") == 1L &&
      log.head.getAs[Long]("dup_id") == 2L)
    // dump ids carry the per-query-instance tag so a fresh-checkpoint
    // restart against the same log cannot collide with this run's epochs
    val dumpId = log.head.getAs[String]("dump_id")
    assert(dumpId.matches("neardup-[0-9a-f]{12}-epoch-\\d{9}"),
      s"dump id must be (tag, epoch)-scoped: $dumpId")
    assert(dumpId.contains(graft.sources.Sinks.runTag(s"$dir/ckpt")))
  }

  test("near-dup stream: idle buckets evict on event time (bounded state)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.NearDupStream

    val base = (1 to 40).map(i => s"evict$i").mkString(" ")
    val filler = (1 to 40).map(i => s"fill$i").mkString(" ")
    val src = MemoryStream[Doc]
    // 10-min watermark, 30-min idle eviction: a dup arriving 2h after
    // the original must find the bucket already gone
    val query = NearDupStream
      .candidatePairs(src.toDS().toDF().withWatermark("ts", "10 minutes"),
        idleEvictMinutes = 30)
      .writeStream.format("memory").queryName("near_dups_evict")
      .outputMode("append").start()

    src.addData(Doc(1, t("10:00"), base))
    query.processAllAvailable()
    // unrelated traffic drives the watermark past 10:30 (eviction point)
    src.addData(Doc(2, t("12:00"), filler))
    query.processAllAvailable()
    // same content again — original's state is evicted, so no pair
    src.addData(Doc(3, t("12:01"), base))
    query.processAllAvailable()
    query.stop()

    assert(spark.table("near_dups_evict").count() == 0,
      "evicted bucket must not pair a late duplicate")
  }

  test("domain-cap stream: quota holds across batches, windows reset, state evicts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.DomainCapStream
    import graft.streaming.DomainCapStream.CapDoc

    val src = MemoryStream[CapDoc]
    val query = DomainCapStream.admitted(
      src.toDS().toDF().withWatermark("ts", "10 minutes"),
      cap = 2, windowMinutes = 60)
      .writeStream.format("memory").queryName("dom_cap")
      .outputMode("append").start()

    // batch 1: three A docs in the 10:00 window — quota admits two,
    // deterministically the two earliest (ts, doc_id)
    src.addData(CapDoc(3, t("10:05"), "a.com"), CapDoc(1, t("10:01"), "a.com"),
      CapDoc(2, t("10:03"), "a.com"))
    query.processAllAvailable()
    // batch 2: the counter survives the batch boundary — two more A
    // docs in the same window are rejected; B's own quota admits
    src.addData(CapDoc(4, t("10:20"), "a.com"), CapDoc(5, t("10:40"), "a.com"),
      CapDoc(6, t("10:30"), "b.org"))
    query.processAllAvailable()
    // batch 3: a NEW window resets A's quota
    src.addData(CapDoc(7, t("11:10"), "a.com"))
    query.processAllAvailable()
    // drive the watermark far past 12:00 so 10:00/11:00 counters evict,
    // then a straggler into the evicted 11:00 window gets a FRESH quota
    // (the documented trade of freeing state at the horizon)
    src.addData(CapDoc(8, t("15:00"), "c.net"))
    query.processAllAvailable()
    src.addData(CapDoc(9, t("14:59"), "a.com"))
    query.processAllAvailable()
    query.stop()

    val got = spark.table("dom_cap")
      .as[DomainCapStream.Admitted].collect().sortBy(_.doc_id)
    val byDoc = got.map(a => a.doc_id -> a).toMap
    assert(byDoc.keySet == Set(1L, 2L, 6L, 7L, 8L, 9L),
      s"admitted set wrong: ${got.toSeq}")
    assert(byDoc(1L).seq == 1 && byDoc(2L).seq == 2,
      "batch-1 admission follows (ts, doc_id) order")
    assert(byDoc(7L).seq == 1, "a new window restarts the quota")
    assert(got.count(_.source == "a.com") == 4)
  }

  test("heavy-hitters stream over the sf1 corpus: 1M events, 15k users, " +
      "every window's summary capacity-bounded, the planted hot user " +
      "flagged in all 720 windows, brackets sound corpus-wide") {
    val sf1 = new java.io.File("/root/repo/localdata/sf1/events.parquet")
    assume(sf1.exists, "locally generated sf1 data not present")
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.HeavyHittersStream

    val ev = spark.read.parquet(sf1.toString)
      .select(col("user_id"), col("ts"))
      .orderBy(col("ts")).collect()
      .map(r => UserEv(r.getLong(0), r.getTimestamp(1)))
    assert(ev.length == 1000000)

    val dir = Files.createTempDirectory("graft_hh_sf1").toString
    val (sink, ckpt) = (s"$dir/sink", s"$dir/ckpt")
    val src = MemoryStream[UserEv]
    val query = HeavyHittersStream.start(src.toDS().toDF(), sink, ckpt)
    ev.grouped(200000).foreach { chunk =>
      src.addData(chunk.toIndexedSeq); query.processAllAvailable()
    }
    query.stop()

    // bounded state at EVERY epoch, not just the end: every dump row
    // ever appended holds ≤ Cap entries (15k distinct users >> 256)
    val maxEntries = spark.read.parquet(sink)
      .select(max(size(col("entries")))).head().getInt(0)
    assert(maxEntries <= HeavyHittersStream.Cap,
      s"summary rows must stay capacity-bounded: $maxEntries")

    val rep = HeavyHittersStream.report(
      HeavyHittersStream.currentSummaries(spark, sink))
    // exact truth, computed distributed; only violations collect
    val truth = spark.read.parquet(sf1.toString)
      .groupBy(date_format(window(col("ts"), "1 hour").getField("start"),
        "yyyy-MM-dd HH:mm:ss").as("hour_start"), col("user_id"))
      .agg(count(lit(1)).as("c"))
    val nTot = truth.groupBy(col("hour_start"))
      .agg(sum(col("c")).as("nt"))
    val exactHH = truth.join(nTot, "hour_start")
      .filter(col("c") * 128 > col("nt"))
    // 1) no false negatives: every exact HH is reported AND flagged
    val missed = exactHH.join(
      rep.filter(col("is_heavy")).select(col("hour_start"), col("user_id")),
      Seq("hour_start", "user_id"), "left_anti").count()
    val nHH = exactHH.count()
    assert(nHH == 720L, s"the planted hot user must be heavy hourly: $nHH")
    assert(missed == 0L, s"$missed exact heavy hitters missed")
    // 2) bracket soundness for EVERY reported key, and exact totals
    val viol = rep.join(truth, Seq("hour_start", "user_id"), "left")
      .join(nTot, "hour_start")
      .filter(col("n_lower") > coalesce(col("c"), lit(0L)) ||
        coalesce(col("c"), lit(0L)) > col("n_upper") ||
        col("n_total") =!= col("nt"))
      .count()
    assert(viol == 0L, s"$viol bracket/total violations at sf1")
  }

  test("near-dup stream over the sf1 corpus: peak state obeys the eviction-horizon bound") {
    // The 100 TB claim for the streaming path: state is bounded by
    // (arrival rate x eviction horizon), NEVER corpus size. Drive the
    // full sf1 document table (50k docs) through the stream as a
    // 1-doc/sec event-time feed and check the measured peak state rows
    // against the formula the constants imply.
    val sf1 = new java.io.File("/root/repo/localdata/sf1/documents.parquet")
    assume(sf1.exists, "locally generated sf1 data not present")
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.NearDupStream

    val docs = spark.read.parquet(sf1.toString)
      .select(col("doc_id"), col("text")).orderBy(col("doc_id")).collect()
    val n = docs.length
    assert(n >= 50000, s"sf1 must hold 50k docs, found $n")
    val baseMs = Timestamp.valueOf("2026-01-01 00:00:00").getTime
    val batchSize = 2500 // event-time span per micro-batch: 2500 s
    val wmSecs = 600 // 10-minute watermark
    val evictSecs = 3600 // 60-minute idle eviction

    val src = MemoryStream[Doc]
    val query = NearDupStream
      .candidatePairs(src.toDS().toDF().withWatermark("ts", s"$wmSecs seconds"),
        idleEvictMinutes = evictSecs / 60)
      .writeStream.format("noop").outputMode("append").start()

    var peakRows = 0L
    var peakBytes = 0L
    docs.grouped(batchSize).zipWithIndex.foreach { case (chunk, g) =>
      src.addData(chunk.zipWithIndex.map { case (r, i) =>
        Doc(r.getAs[Long]("doc_id"),
          new Timestamp(baseMs + (g.toLong * batchSize + i) * 1000L),
          r.getAs[String]("text"))
      }.toIndexedSeq)
      query.processAllAvailable()
      val so = query.lastProgress.stateOperators
      if (so.nonEmpty) {
        peakRows = math.max(peakRows, so(0).numRowsTotal)
        peakBytes = math.max(peakBytes, so(0).memoryUsedBytes)
      }
    }
    query.stop()

    // The bound: live bucket keys <= Bands x (docs inside the horizon).
    // Horizon = idle eviction + watermark lateness + 2 batch spans (a
    // batch's keys all land before its own watermark advances, and
    // timed-out keys clear during the NEXT batch) at the 1 doc/sec feed.
    val horizonDocs = evictSecs + wmSecs + 2 * batchSize
    val bound = NearDupStream.Bands.toLong * horizonDocs
    info(f"peak state: $peakRows rows, ${peakBytes / 1024.0 / 1024.0}%.1f MiB " +
      f"(bound $bound rows; unevicted worst case ${NearDupStream.Bands.toLong * n})")
    assert(peakRows > 0L, "the stream must actually have built state")
    assert(peakRows <= bound,
      s"peak state $peakRows exceeds the eviction-horizon bound $bound — " +
        "state is scaling with the corpus, not the horizon")
    // and the horizon bound is far below corpus-proportional state
    assert(bound < NearDupStream.Bands.toLong * n / 3,
      "test must leave a real gap between the bound and corpus size")
  }

  test("near-dup stream: saturated bucket stops pairing (occupancy cap)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.NearDupStream

    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val src = MemoryStream[Doc]
    // cap 1: the first doc fills every bucket it lands in; later
    // arrivals must pass through unpaired
    val query = NearDupStream
      .candidatePairs(src.toDS().toDF().withWatermark("ts", "10 minutes"),
        maxBucket = 1)
      .writeStream.format("memory").queryName("near_dups_sat")
      .outputMode("append").start()

    src.addData(Doc(1, t("10:00"), base))
    query.processAllAvailable()
    src.addData(Doc(2, t("10:01"), base))
    query.processAllAvailable()
    query.stop()

    assert(spark.table("near_dups_sat").count() == 0,
      "saturated buckets must emit no pairs")
  }

  test("boilerplateClean at the edge: text rewrites to the batch op's " +
      "clean_text, all-boilerplate docs drop, and dedup-after-clean " +
      "collapses docs differing only in chrome") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.DocIngest

    val prose = "the quick brown fox jumps over the lazy dog"
    val t0 = t("10:00")
    val docs = Seq(
      Doc(0L, t0, s"$prose\nHome | About | Contact"),
      Doc(1L, t0, s"Menu | Login\n$prose"), // same prose, other chrome
      Doc(2L, t0, "Menu | Login\n42 37"),   // no prose line at all
      Doc(3L, t0, "storage engines and the planner share one catalog"))

    // the batch twin over the same texts
    val dir = Files.createTempDirectory("graft_blstream").toString
    docs.map(d => (d.doc_id, d.text, "en", s"s${d.doc_id}", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val batch = run("text_boilerplate", dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean_text"))
      .toMap

    val src = MemoryStream[Doc]
    val q = DocIngest.boilerplateClean(src.toDS().toDF())
      .writeStream.format("memory").queryName("edge_bl")
      .outputMode("append").start()
    src.addData(docs: _*)
    q.processAllAvailable(); q.stop()
    val edge = spark.table("edge_bl").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(edge.keySet == Set(0L, 1L, 3L), s"kept ${edge.keySet}")
    edge.foreach { case (id, txt) =>
      assert(txt == batch(id), s"doc $id: edge [$txt] != batch [${batch(id)}]")
    }

    // clean BEFORE the exact-dedup fingerprint: docs 0 and 1 share all
    // their prose and differ only in dropped chrome, so they collapse —
    // the ordering argument for running this stage first in the chain
    val src2 = MemoryStream[Doc]
    val q2 = DocIngest.dedup(DocIngest.boilerplateClean(
      src2.toDS().toDF().withWatermark("ts", "1 hour")))
      .writeStream.format("memory").queryName("edge_bl_dedup")
      .outputMode("append").start()
    src2.addData(docs: _*)
    q2.processAllAvailable(); q2.stop()
    val ids = spark.table("edge_bl_dedup").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(ids.size == 2 && ids.contains(3L) &&
      (ids.contains(0L) ^ ids.contains(1L)),
      s"dedup-after-clean kept $ids")
  }

  test("gopherRepGate at the edge: verdicts bit-identical to the batch " +
      "op's kept_full — repetition-heavy and short docs drop, prose " +
      "survives (r19, the published gate completed at the edge)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.DocIngest

    val prose = ("the quick brown fox jumps over the lazy dog and then " +
      "wanders across a wide green field toward the quiet river where " +
      "several small boats drift slowly past the old stone bridge " +
      "while birds circle overhead in the warm afternoon light and " +
      "fishermen wait patiently near the reeds watching their lines")
    val t0 = t("10:00")
    val docs = Seq(
      Doc(0L, t0, prose),                                   // keeps
      Doc(1L, t0, Seq.fill(40)("buy now limited offer")     // top-gram flood
        .mkString(" ")),
      Doc(2L, t0, (prose + "\n") * 6),                      // dup lines
      Doc(3L, t0, "too short"),                             // doc cascade
      Doc(4L, t0, prose + " " + prose.split(" ").reverse.mkString(" ")))

    // the batch twin over the same texts
    val dir = Files.createTempDirectory("graft_grstream").toString
    docs.map(d => (d.doc_id, d.text, "en", s"s${d.doc_id}", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val batchKept = run("quality_gopher_rep", dir).collect()
      .filter(_.getAs[Boolean]("kept_full"))
      .map(_.getAs[Long]("doc_id")).toSet

    val src = MemoryStream[Doc]
    val q = DocIngest.gopherRepGate(src.toDS().toDF())
      .writeStream.format("memory").queryName("edge_gr")
      .outputMode("append").start()
    src.addData(docs: _*)
    q.processAllAvailable(); q.stop()
    val edgeKept = spark.table("edge_gr").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(edgeKept == batchKept,
      s"edge kept $edgeKept != batch kept_full $batchKept")
    // the corpus exercises both halves: something survives, something
    // fails each cascade
    assert(batchKept.contains(0L) && !batchKept.contains(1L) &&
      !batchKept.contains(3L), s"dial drift: batch kept $batchKept")
  }

  // ---- one micro-batch per arrival (update-mode streams) ----

  /** Ids of the batches the query ran — progress events that carry an
    * `addBatch` time (idle-trigger events carry none).
    */
  private def batchesRun(q: org.apache.spark.sql.streaming.StreamingQuery): Seq[Long] =
    q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch")).map(_.batchId)

  private val arrivals: Seq[Seq[Ev]] = Seq(
    Seq(Ev(t("10:05"), "click", 1.0), Ev(t("10:40"), "click", 2.0),
      Ev(t("11:10"), "view", 5.0)),
    // late rows inside the 2 h watermark update open windows
    Seq(Ev(t("10:55"), "click", 4.0), Ev(t("12:30"), "view", 1.0)),
    Seq(Ev(t("13:15"), "click", 3.0), Ev(t("11:45"), "view", 2.0)),
    Seq(Ev(t("14:00"), "click", 1.0), Ev(t("12:10"), "click", 6.0)))

  test("update-mode ingest: one micro-batch per arrival, view equals the batch agg") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_onebatch").toString
    val src = MemoryStream[Ev]
    val query = EventIngest.start(src.toDS().toDF(), s"$dir/sink", s"$dir/ckpt")
    try arrivals.foreach { rows => src.addData(rows: _*); query.processAllAvailable() }
    finally query.stop()
    assert(batchesRun(query) == arrivals.indices.map(_.toLong),
      s"one batch per arrival, ran ${batchesRun(query)}")
    val got = EventIngest.latestState(spark, s"$dir/sink").collect()
      .map(_.toString).sorted.toSeq
    val want = EventIngest.windowedAgg(arrivals.flatten.toDF()).collect()
      .map(_.toString).sorted.toSeq
    assert(got == want, s"view $got != batch $want")
  }

  test("update-mode quantiles: one micro-batch per arrival") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.QuantilesStream
    val dir = Files.createTempDirectory("graft_onebatch_q").toString
    val src = MemoryStream[Ev]
    val query = QuantilesStream.start(src.toDS().toDF(), s"$dir/sink", s"$dir/ckpt")
    try arrivals.foreach { rows => src.addData(rows: _*); query.processAllAvailable() }
    finally query.stop()
    assert(batchesRun(query) == arrivals.indices.map(_.toLong),
      s"one batch per arrival, ran ${batchesRun(query)}")
    val got = QuantilesStream.latestHistogram(spark, s"$dir/sink").collect()
      .map(_.toString).sorted.toSeq
    val want = QuantilesStream.bucketCounts(arrivals.flatten.toDF()).collect()
      .map(_.toString).sorted.toSeq
    assert(got == want, s"histogram $got != batch $want")
  }

  test("update-mode start scopes its settings to the query: the session keeps its own") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.UpdateStream
    val Seq(noData, allowMultiple) = UpdateStream.OneBatchConfs.map(_._1)
    val saved = spark.conf.getAll
    def restore(k: String): Unit = saved.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    val dir = Files.createTempDirectory("graft_onebatch_conf").toString
    spark.conf.set(noData, "true") // a sentinel the start must leave in place
    spark.conf.unset(allowMultiple)
    try {
      val src = MemoryStream[Ev]
      val query = EventIngest.start(src.toDS().toDF(), s"$dir/sink", s"$dir/ckpt")
      assert(spark.conf.getAll.get(noData).contains("true"))
      assert(!spark.conf.getAll.contains(allowMultiple),
        s"$allowMultiple was unset and must stay so")
      // the query still runs with its own settings
      try arrivals.take(2).foreach { rows => src.addData(rows: _*); query.processAllAvailable() }
      finally query.stop()
      assert(batchesRun(query) == Seq(0L, 1L), s"ran ${batchesRun(query)}")
    } finally Seq(noData, allowMultiple).foreach(restore)
  }
}
