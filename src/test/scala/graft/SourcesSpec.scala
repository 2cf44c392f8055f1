package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{CsvBulkSink, ExternalSink, ParquetSink, SinkRegistry, Sinks}

/** The sources/ sink package: dump-id idempotency, latest-state reads,
  * CSV bulk payload rendering.
  */
class SourcesSpec extends SparkSpec {

  private def batch(rows: Seq[(Long, String, Double)], dumpId: String,
      tUs: Long) =
    Sinks.stamped(
      spark.createDataFrame(rows).toDF("pk", "status", "price"),
      dumpId, tUs)

  test("ParquetSink.appendIdempotent: replayed dump_ids never duplicate rows") {
    val path = Files.createTempDirectory("graft_sink").toString + "/log"
    val sink = ParquetSink(path)
    val b1 = batch(Seq((1L, "new", 10.0), (2L, "new", 20.0)), "d1", 1000L)
    assert(sink.appendIdempotent(spark, b1) == 2)
    // replay of the SAME dump attempt: nothing appended
    assert(sink.appendIdempotent(spark, b1) == 0)
    assert(sink.log(spark).count() == 2)
    // a new attempt re-dumping pk=2 appends (append-only log)
    val b2 = batch(Seq((2L, "upd", 21.0)), "d2", 2000L)
    assert(sink.appendIdempotent(spark, b2) == 1)
    assert(sink.log(spark).count() == 3)
  }

  test("SinkRegistry: name-keyed dispatch drives the generic dump task") {
    val path = Files.createTempDirectory("graft_reg").toString + "/log"
    val sink = ParquetSink(path)
    // get_sink_by_model_name twin: known models resolve, unknown → None
    assert(SinkRegistry.byModelName("orders").exists(_.model == "orders"))
    assert(SinkRegistry.byModelName("course_overviews").isEmpty)
    // the generic task dumps ONE object of the named model, cascading
    // to nested sinks under the PARENT's dump metadata (dump_related)
    val lines = ParquetSink(
      Files.createTempDirectory("graft_reg").toString + "/log")
    val nested = Map("order_lines" -> (lines: graft.sources.SinkLog))
    val nLines = Tables.lineitem(spark, sf)
      .filter(col("l_orderkey") === 1L).count()
    assert(nLines > 0, "fixture order 1 must have line rows")
    val n = SinkRegistry.dumpModel(spark, sf, "orders", objectId = 1L,
      sink, dumpId = "d1", dumpTimeUs = 1000L, nestedSinks = nested)
    assert(n == 1L + nLines, s"parent + related rows, appended $n")
    val row = sink.log(spark).collect().head
    assert(row.getAs[Long]("course_id") == 1L)
    assert(row.getAs[String]("dump_id") == "d1")
    // every related row rides the PARENT's dump_id/time
    val lrows = lines.log(spark).collect()
    assert(lrows.length == nLines &&
      lrows.forall(r => r.getAs[String]("dump_id") == "d1" &&
        r.getAs[Long]("time_last_dumped_us") == 1000L))
    // replaying the same dump attempt is idempotent END-TO-END —
    // parent and nested logs both anti-join the replay away
    assert(SinkRegistry.dumpModel(spark, sf, "orders", 1L, sink,
      "d1", 1000L, nested) == 0L)
    // a nested spec without a provided log is the dump_related
    // NotImplementedError analog
    val eNested = intercept[IllegalArgumentException] {
      SinkRegistry.dumpModel(spark, sf, "orders", 2L, sink, "d9", 9000L)
    }
    assert(eNested.getMessage.contains("order_lines"))
    // each model gets its own log (one table per sink, as the reference)
    val custSink = ParquetSink(
      Files.createTempDirectory("graft_reg").toString + "/log")
    // waffle-only model is enabled too (settings OR waffle)
    assert(SinkRegistry.dumpModel(spark, sf, "customer", 1L, custSink,
      "d2", 2000L) == 1L)
    // a DISABLED model is never invoked: zero rows, no scan performed
    assert(SinkRegistry.dumpModel(spark, sf, "supplier", 1L, custSink,
      "d3", 3000L) == 0L)
    assert(sink.log(spark).count() == 1 && custSink.log(spark).count() == 1)
    // unknown model is the error path (the task's bad-sink-path analog)
    val e = intercept[IllegalArgumentException] {
      SinkRegistry.dumpModel(spark, sf, "nope", 1L, sink, "d4", 4000L)
    }
    assert(e.getMessage.contains("unknown model")
      && e.getMessage.contains("orders"))
  }

  test("ParquetSink.latestState: newest dump wins per key") {
    val path = Files.createTempDirectory("graft_sink").toString + "/log"
    val sink = ParquetSink(path)
    sink.appendIdempotent(spark,
      batch(Seq((1L, "v1", 10.0), (2L, "v1", 20.0)), "d1", 1000L))
    sink.appendIdempotent(spark,
      batch(Seq((2L, "v2", 21.0)), "d2", 2000L))
    val st = sink.latestState(spark, Seq("pk")).collect()
      .map(r => r.getAs[Long]("pk") -> r.getAs[String]("status")).toMap
    assert(st == Map(1L -> "v1", 2L -> "v2"))
  }

  test("ParquetSink.compact: log shrinks to latest state, reads unchanged") {
    val path = Files.createTempDirectory("graft_sink").toString + "/log"
    val sink = ParquetSink(path)
    sink.appendIdempotent(spark,
      batch(Seq((1L, "v1", 10.0), (2L, "v1", 20.0)), "d1", 1000L))
    sink.appendIdempotent(spark,
      batch(Seq((2L, "v2", 21.0), (3L, "v1", 30.0)), "d2", 2000L))
    val before = sink.latestState(spark, Seq("pk")).collect()
      .map(r => (r.getAs[Long]("pk"), r.getAs[String]("status"))).sorted.toSeq
    assert(spark.read.parquet(path).count() == 4)
    sink.compact(spark, Seq("pk"))
    assert(spark.read.parquet(path).count() == 3, "superseded row must go")
    val after = sink.latestState(spark, Seq("pk")).collect()
      .map(r => (r.getAs[Long]("pk"), r.getAs[String]("status"))).sorted.toSeq
    assert(after == before, "compaction must not change the view")
    // idempotency survives: d2 replay still appends nothing
    assert(sink.appendIdempotent(spark,
      batch(Seq((3L, "v1", 30.0)), "d2", 2000L)) == 0)
  }

  private def derbySink(table: String): ExternalSink = {
    val db = Files.createTempDirectory("graft_jdbc").toString + "/db"
    ExternalSink(s"jdbc:derby:$db;create=true", table,
      Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver"))
  }

  test("ExternalSink surfaces the backend's diagnostic chain on failure") {
    // the _send_clickhouse_request twin: the error BODY (SQLState,
    // vendor code, backend message) must reach the operator, not just
    // "write failed" — here the second append passes Spark's analysis
    // (same schema) but the BACKEND rejects it: a dump_id longer than
    // the table's VARCHAR(128), a database-side truncation error
    val sink = derbySink("surf_log")
    assert(sink.appendIdempotent(spark,
      batch(Seq((1L, "new", 10.0)), "d1", 1000L)) == 1)
    val oversized = batch(Seq((2L, "x", 1.0)), "d" * 500, 2000L)
    val e = intercept[java.sql.SQLException] {
      sink.appendIdempotent(spark, oversized)
    }
    assert(e.getMessage.contains("sink append failed against"),
      s"context missing: ${e.getMessage}")
    assert(e.getMessage.contains("[state="),
      s"backend diagnostics missing: ${e.getMessage}")
    assert(e.getCause != null, "original failure must ride along as cause")
    // the probe timeout knob plumbs through without disturbing reads
    val timed = sink.copy(timeoutSecs = Some(30))
    assert(timed.initialized(spark) && timed.log(spark).count() == 1)
  }

  test("ExternalSink.describe flattens the getNextException chain") {
    val tail = new java.sql.SQLException("constraint violated", "23505", 1)
    val head = new java.sql.SQLException("batch failed", "HY000", 99)
    head.setNextException(tail)
    val d = graft.sources.ExternalSink.describe(head)
    assert(d == "[state=HY000 code=99] batch failed <- " +
      "[state=23505 code=1] constraint violated", d)
  }

  test("ExternalSink.appendIdempotent: re-delivered dump over JDBC never duplicates") {
    val sink = derbySink("sink_log")
    val b1 = batch(Seq((1L, "new", 10.0), (2L, "new", 20.0)), "d1", 1000L)
    // first delivery creates the external table and lands both rows
    assert(sink.appendIdempotent(spark, b1) == 2)
    // the broker re-delivers the SAME dump (Celery at-least-once):
    // the dump-id anti-join drops it before the wire
    assert(sink.appendIdempotent(spark, b1) == 0)
    assert(sink.log(spark).count() == 2)
    // a genuinely new dump attempt for pk=2 appends (append-only log)
    val b2 = batch(Seq((2L, "upd", 21.0)), "d2", 2000L)
    assert(sink.appendIdempotent(spark, b2) == 1)
    assert(sink.log(spark).count() == 3)
    // the latest-state read view works over JDBC like over parquet
    val st = sink.latestState(spark, Seq("pk")).collect()
      .map(r => r.getAs[Long]("pk") -> r.getAs[String]("status")).toMap
    assert(st == Map(1L -> "new", 2L -> "upd"))
  }

  test("ExternalSink idempotency pre-read ships one column, not the log") {
    val sink = derbySink("slim_log")
    sink.appendIdempotent(spark,
      batch(Seq((1L, "new", 10.0), (2L, "new", 20.0)), "d1", 1000L))
    // the second append's anti-join probe: its JDBC scan must carry
    // only dump_id (projection+distinct pushed into the subquery)
    val seen = sink.seenForTest(spark)
    assert(seen.schema.fieldNames.toSeq == Seq("dump_id"),
      s"pre-read must be one column, got ${seen.schema.fieldNames.toSeq}")
    assert(seen.collect().map(_.getString(0)).toSeq == Seq("d1"))
  }

  test("ExternalSink.exists: only table-not-found means false; other SQL errors propagate") {
    // table genuinely absent → false (first append will create it)
    val missing = derbySink("never_created")
    assert(!missing.initialized(spark))
    // a NON-table-not-found failure (here: a syntax error standing in
    // for lock timeouts / dropped connections / permission errors) must
    // NOT read as "no log yet" — that would skip the dump-id anti-join
    // and let a replayed dump land twice
    val broken = derbySink("not a valid identifier!!")
    val e = intercept[java.sql.SQLException](broken.initialized(spark))
    assert(!ExternalSink.TableNotFoundStates(e.getSQLState),
      s"test setup must raise a non-not-found state, got ${e.getSQLState}")
  }

  test("latestState: unknown key columns and keys-only logs fail loudly") {
    val path = Files.createTempDirectory("graft_sink").toString + "/log"
    val sink = ParquetSink(path)
    sink.appendIdempotent(spark, batch(Seq((1L, "v1", 10.0)), "d1", 1000L))
    val bad = intercept[IllegalArgumentException](
      sink.latestState(spark, Seq("pk", "no_such_col")))
    assert(bad.getMessage.contains("no_such_col"))
    // keys covering every column leave no payload for max_by
    val keysOnly = intercept[IllegalArgumentException](
      sink.latestState(spark,
        Seq("pk", "status", "price", "dump_id", "time_last_dumped_us")))
    assert(keysOnly.getMessage.contains("non-key column"))
  }

  test("Sinks.runTag: stable per checkpoint dir, distinct across dirs") {
    val a = Sinks.runTag("/tmp/ckpt-a")
    assert(a == Sinks.runTag("/tmp/ckpt-a"), "tag must be deterministic")
    assert(a != Sinks.runTag("/tmp/ckpt-b"))
    assert(a.matches("[0-9a-f]{12}"), s"tag must be fixed-width hex: $a")
    // spelling variants of the SAME directory share the tag — a restart
    // that references the checkpoint with a trailing slash or a '..'
    // segment must not open a fresh dump-id namespace
    assert(a == Sinks.runTag("/tmp/ckpt-a/"), "trailing slash")
    assert(a == Sinks.runTag("/tmp/ckpt-a//"), "double trailing slash")
    assert(a == Sinks.runTag("/tmp/x/../ckpt-a"), "dot-dot segment")
  }

  test("ExternalSink.isTableNotFound: dialect states + Oracle vendor code") {
    import java.sql.SQLException
    assert(ExternalSink.isTableNotFound(new SQLException("m", "42P01")))
    assert(ExternalSink.isTableNotFound(new SQLException("m", "42704")))
    // Oracle: ORA-00942 arrives under the ambiguous 42000 state and is
    // recognized by vendor code only...
    assert(ExternalSink.isTableNotFound(new SQLException("m", "42000", 942)))
    // ...while a genuine 42000 syntax error must still propagate
    assert(!ExternalSink.isTableNotFound(new SQLException("m", "42000", 936)))
    assert(!ExternalSink.isTableNotFound(new SQLException("m", "40001")))
  }

  test("CsvBulkSink payloads flow through an ExternalSink staging table idempotently") {
    // the reference's broker loop end-to-end (base_sink.py:251-282):
    // serialize rows → render one CSV payload line each → push the
    // payload batch into the external store, tolerating re-delivery of
    // the same dump. Here the rendered payload column rides through the
    // JDBC staging table under the same dump-id anti-join as any batch.
    val src = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderkey")).limit(25)
    val payload = src.select(col("o_orderkey").as("pk"),
      CsvBulkSink.csvRow(src).as("csv_payload"))
    val sink = derbySink("csv_staging")
    val d1 = Sinks.stamped(payload, "csv-d1", 1000L)
    assert(sink.appendIdempotent(spark, d1) == 25)
    // broker re-delivers the same dump: nothing lands twice
    assert(sink.appendIdempotent(spark, d1) == 0)
    assert(sink.log(spark).count() == 25)
    // staged payloads read back intact and still parse as the
    // QUOTE_NONNUMERIC shape the reference POSTs
    val staged = sink.log(spark).collect()
      .map(r => r.getAs[Long]("pk") -> r.getAs[String]("csv_payload")).toMap
    src.collect().foreach { r =>
      val k = r.getAs[Long]("o_orderkey")
      val expected = s"""$k,"${r.getAs[String]("o_orderstatus")}",""" +
        r.getAs[Double]("o_totalprice").toString
      assert(staged(k) == expected, s"payload $k: ${staged(k)} != $expected")
    }
    // a second dump attempt for one pk appends; latest-state view keeps
    // one row per pk with the newest payload winning
    val upd = src.limit(1)
    val d2 = Sinks.stamped(upd.select(col("o_orderkey").as("pk"),
      concat(CsvBulkSink.csvRow(upd), lit(",UPDATED")).as("csv_payload")),
      "csv-d2", 2000L)
    assert(sink.appendIdempotent(spark, d2) == 1)
    val st = sink.latestState(spark, Seq("pk"))
    assert(st.count() == 25)
    assert(st.filter(col("csv_payload").endsWith(",UPDATED")).count() == 1)
  }

  test("ParquetSink survives producer schema evolution (new column appended)") {
    val path = Files.createTempDirectory("graft_sink").toString + "/log"
    val sink = ParquetSink(path)
    sink.appendIdempotent(spark,
      batch(Seq((1L, "v1", 10.0), (2L, "v1", 20.0)), "d1", 1000L))
    // the producer evolves: a later dump carries an extra column
    val evolved = batch(Seq((2L, "v2", 21.0)), "d2", 2000L)
      .withColumn("region_tag", lit("eu"))
    assert(sink.appendIdempotent(spark, evolved) == 1)
    // the log exposes the merged schema; pre-evolution rows read NULL
    val log = sink.log(spark)
    assert(log.columns.contains("region_tag"))
    assert(log.filter(col("region_tag").isNull).count() == 2)
    // latest-state still resolves per key across the schema change
    val st = sink.latestState(spark, Seq("pk")).collect()
      .map(r => r.getAs[Long]("pk") ->
        ((r.getAs[String]("status"), r.getAs[String]("region_tag")))).toMap
    assert(st == Map(1L -> (("v1", null)), 2L -> (("v2", "eu"))))
    // idempotency survives evolution too
    assert(sink.appendIdempotent(spark, evolved) == 0)
  }

  test("FileSources JSONL: explicit schema parses, corrupt lines quarantine") {
    import graft.sources.FileSources
    val dir = Files.createTempDirectory("graft_jsonl").toString
    val lines = Seq(
      """{"event_id":1,"ts":"2026-01-01 10:00:00","user_id":7,"event_type":"click","value":1.5,"props":"{}"}""",
      """{"event_id":2,"ts":"2026-01-01 11:00:00","user_id":8,"event_type":"view","value":2.0,"props":"{}"}""",
      """this is not json at all""",
      """{"event_id":3,"ts":"2026-01-01 12:00:00","user_id":9,"event_type":"purchase","value":9.9,"props":"{}"}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/events.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    val df = FileSources.eventsJsonl(spark, s"$dir/events.jsonl")
    val good = FileSources.good(df).collect()
    assert(good.length == 3, s"good rows: ${good.length}")
    assert(good.map(_.getAs[Long]("event_id")).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(good.find(_.getAs[Long]("event_id") == 1L).get
      .getAs[java.sql.Timestamp]("ts") ==
      java.sql.Timestamp.valueOf("2026-01-01 10:00:00"))
    val quarantined = FileSources.quarantine(df).collect()
    assert(quarantined.map(_.getAs[String]("raw_line")).toSeq ==
      Seq("this is not json at all"),
      "the unparseable line must land in quarantine with its raw text")
  }

  test("FileSources CSV: schema-ordered parse, malformed rows quarantine") {
    import graft.sources.FileSources
    val dir = Files.createTempDirectory("graft_csvsrc").toString
    val lines = Seq(
      """1,2026-01-01 10:00:00,7,click,1.5,{}""",
      """not-a-long,2026-01-01 11:00:00,8,view,2.0,{}""",
      """2,2026-01-01 12:00:00,9,purchase,9.9,{}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/events.csv"),
      lines.mkString("\n").getBytes("UTF-8"))
    val df = FileSources.eventsCsv(spark, s"$dir/events.csv")
    val good = FileSources.good(df).collect()
    assert(good.map(_.getAs[Long]("event_id")).sorted.toSeq == Seq(1L, 2L))
    val q = FileSources.quarantine(df).collect()
    assert(q.length == 1 && q.head.getAs[String]("raw_line").startsWith("not-a-long"),
      s"malformed CSV row must quarantine: ${q.toSeq}")
  }

  test("Backfill drives the registry end-to-end: two models, nested cascade, counts match the direct path") {
    import graft.sources.{Backfill, SinkLog}
    def newSink() = ParquetSink(
      Files.createTempDirectory("graft_regbf").toString + "/log")
    val ordSink = newSink(); val lineSink = newSink()
    val nested = Map("order_lines" -> (lineSink: SinkLog))
    val nOrders = Tables.orders(spark, sf).count()
    val nLines = Tables.lineitem(spark, sf).count()
    // model 1 (orders, nested cascade), several pk-range batches
    val r = Backfill.runModel(spark, sf, "orders", ordSink, "r1", 1000L,
      batchSize = 500L, nestedSinks = nested)
    assert(r.ok && r.batchesLanded.length > 1, s"got $r")
    assert(r.rowsAppended == nOrders && r.nestedRowsAppended == nLines,
      s"every order and every line row must land: $r")
    assert(ordSink.log(spark).count() == nOrders &&
      lineSink.log(spark).count() == nLines)
    // related rows ride their parent BATCH's dump metadata
    val lineBatch = lineSink.log(spark)
      .filter(col("course_id") === 1L).collect()
    assert(lineBatch.nonEmpty &&
      lineBatch.forall(_.getAs[String]("dump_id").startsWith("r1-b")))
    // counts match the direct single-object task for the same order
    val dSink = newSink(); val dLines = newSink()
    val nDirect = SinkRegistry.dumpModel(spark, sf, "orders", 1L, dSink,
      "dx", 500L, Map("order_lines" -> (dLines: SinkLog)))
    val viaBackfill = 1L + lineBatch.length
    assert(nDirect == viaBackfill,
      s"registry->Backfill and registry->task must dump the same rows ($nDirect vs $viaBackfill)")
    // a completed backfill re-run finds nothing to do (gate, not force)
    val r2 = Backfill.runModel(spark, sf, "orders", ordSink, "r9", 9000L,
      batchSize = 500L, nestedSinks = nested)
    assert(r2.ok && r2.rowsAppended == 0L && r2.itemsSkipped == nOrders,
      s"got $r2")
    assert(ordSink.log(spark).count() == nOrders &&
      lineSink.log(spark).count() == nLines)
    // model 2 (customer, no nested)
    val custSink = newSink()
    val rc = Backfill.runModel(spark, sf, "customer", custSink, "r2", 2000L)
    assert(rc.ok &&
      rc.rowsAppended == Tables.customer(spark, sf).count())
    // disabled model: nothing runs, zero report
    val rs = Backfill.runModel(spark, sf, "supplier", newSink(), "r3", 3000L)
    assert(rs.ok && rs.rowsAppended == 0L && rs.itemsEligible == 0L)
    // unknown model / missing nested sink fail before any row lands
    intercept[IllegalArgumentException] {
      Backfill.runModel(spark, sf, "nope", newSink(), "r4", 4000L)
    }
    val bare = newSink()
    val eNested = intercept[IllegalArgumentException] {
      Backfill.runModel(spark, sf, "orders", bare, "r5", 5000L)
    }
    assert(eNested.getMessage.contains("order_lines"))
    assert(!bare.initialized(spark), "nothing may land before resolution")
  }

  test("quarantine metrics: batch read surfaces (n_ok, n_quarantined) without a second scan") {
    import graft.sources.FileSources
    val dir = Files.createTempDirectory("graft_qmetrics").toString
    val lines = Seq(
      """{"event_id":1,"ts":"2026-01-01 10:00:00","user_id":7,"event_type":"click","value":1.5,"props":"{}"}""",
      """broken line one""",
      """{"event_id":2,"ts":"2026-01-01 11:00:00","user_id":8,"event_type":"view","value":2.0,"props":"{}"}""",
      """{broken line two""",
      """{"event_id":3,"ts":"2026-01-01 12:00:00","user_id":9,"event_type":"purchase","value":9.9,"props":"{}"}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/events.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    val (df, obs) = FileSources.quarantineObservation(
      FileSources.eventsJsonl(spark, s"$dir/events.jsonl"))
    assert(FileSources.good(df).count() == 3) // the action the metrics ride
    assert(obs.get == Map("n_ok" -> 3L, "n_quarantined" -> 2L), s"${obs.get}")
  }

  test("quarantine metrics: streaming reader reports counts per micro-batch") {
    import scala.jdk.CollectionConverters._
    import graft.sources.FileSources
    val dir = Files.createTempDirectory("graft_qstream").toString
    val drop = s"$dir/drop"
    new java.io.File(drop).mkdirs()
    def write(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$drop/$name"),
        lines.mkString("\n").getBytes("UTF-8"))
    write("b1.jsonl", Seq(
      """{"event_id":1,"ts":"2026-01-01 10:00:00","user_id":7,"event_type":"click","value":1.5,"props":"{}"}""",
      """{"event_id":2,"ts":"2026-01-01 11:00:00","user_id":8,"event_type":"view","value":2.0,"props":"{}"}""",
      """corrupt a"""))
    val q = FileSources.withQuarantineMetrics(
        FileSources.streamEventsJsonl(spark, drop))
      .writeStream.format("noop")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    q.processAllAvailable()
    write("b2.jsonl", Seq(
      """corrupt b""",
      """corrupt c""",
      """{"event_id":3,"ts":"2026-01-01 12:00:00","user_id":9,"event_type":"purchase","value":9.9,"props":"{}"}"""))
    q.processAllAvailable()
    q.stop()
    val perBatch = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.asScala
        .getOrElse(FileSources.QuarantineMetrics, null)))
      .map(r => (r.getAs[Long]("n_ok"), r.getAs[Long]("n_quarantined")))
      .filter { case (ok, bad) => ok + bad > 0 }
    assert(perBatch == Seq((2L, 1L), (1L, 2L)),
      s"each micro-batch must report its own reject rate: $perBatch")
  }

  test("SQL surface: registered views answer ANSI SQL with pushdown intact") {
    Tables.registerViews(spark, sf)
    val df = spark.sql("""
      SELECT o_orderpriority, count(*) AS n
      FROM orders WHERE o_orderstatus = 'F'
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    assert(df.collect().map(_.getAs[Long]("n")).sum > 0)
    df.collect()
    assert(plan(df).contains("PushedFilters"), "view scan lost pushdown")
    val ev = spark.sql("SELECT count(*) AS n FROM events WHERE event_type = 'click'")
    assert(ev.collect().head.getAs[Long]("n") > 0, "events view must read nanos parquet")
  }

  test("CsvBulkSink: QUOTE_NONNUMERIC, doubled quotes, null as empty cell") {
    val df = spark.createDataFrame(Seq(
        (1L, """he said "hi"""", Some(1.5)),
        (2L, "plain", None: Option[Double])))
      .toDF("id", "note", "score")
    val rows = df.select(CsvBulkSink.csvRow(df).as("r"))
      .orderBy(col("r")).collect().map(_.getString(0))
    assert(rows.contains("1,\"he said \"\"hi\"\"\",1.5"))
    assert(rows.contains("2,\"plain\","), s"null cell must be empty: ${rows.toSeq}")
  }

  test("CsvBulkSink matches the sink_csv_format operator on orders") {
    val orders = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
    // bare numeric + quoted strings, same rules as the A8 operator
    val viaSink = orders
      .select(col("o_orderkey"), CsvBulkSink.csvRow(orders).as("csv"))
      .collect().map(r => r.getAs[Long]("o_orderkey") -> r.getAs[String]("csv"))
      .toMap
    Tables.orders(spark, sf).select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority")).collect().foreach { r =>
      val k = r.getAs[Long]("o_orderkey")
      val expected =
        s"$k,\"${r.getAs[String]("o_orderstatus")}\",\"${r.getAs[String]("o_orderpriority")}\""
      assert(viaSink(k) == expected)
    }
  }

  test("Backfill: nested sink failure then same-runId retry loses no rows and duplicates none") {
    import org.apache.spark.sql.{DataFrame, SparkSession}
    import graft.sources.{Backfill, SinkLog}
    def newSink() = ParquetSink(
      Files.createTempDirectory("graft_bfretry").toString + "/log")
    val parent = newSink()
    val goodNested = newSink()
    val flakyInner = newSink()
    // a nested sink with one transient outage: the first append attempt
    // throws, every later one delegates to a real parquet log
    val flaky = new SinkLog {
      // batches land concurrently: exactly one append may fail
      val failuresLeft = new java.util.concurrent.atomic.AtomicInteger(1)
      protected def exists(s: SparkSession): Boolean =
        flakyInner.initialized(s)
      protected def append(df: DataFrame): Unit =
        throw new IllegalStateException("unreachable: appendIdempotent overridden")
      def log(s: SparkSession): DataFrame = flakyInner.log(s)
      override def appendIdempotent(s: SparkSession, b: DataFrame): Long = {
        if (failuresLeft.getAndDecrement() > 0)
          throw new RuntimeException("transient nested sink outage")
        flakyInner.appendIdempotent(s, b)
      }
    }
    val items = spark.range(1, 11)
      .select(col("id").as("pk"), lit(100L).as("modified_us"),
        concat(lit("v"), col("id")).as("payload"))
    val related = (b: DataFrame) =>
      b.select(col("pk").as("parent_id"), col("payload"))
    val nested: Seq[(DataFrame => DataFrame, SinkLog)] =
      Seq(related -> (goodNested: SinkLog), related -> (flaky: SinkLog))

    // run 1: one batch (batchSize 5 cuts pks 1-4, 5-9 and 10) hits the
    // outage AFTER goodNested landed but BEFORE the parent append — the
    // parent sink must stay untouched for that batch (it is the commit
    // point the eligibility gate reads)
    val r1 = Backfill.run(spark, items, "pk", "modified_us", parent,
      runId = "r1", dumpTimeUs = 1000L, batchSize = 5L, nested = nested)
    assert(r1.batchesFailed.length == 1, s"got $r1")
    val failedBatch = r1.batchesFailed.head
    assert(parent.log(spark)
      .filter(col("pk") < (failedBatch + 1) * 5 && col("pk") >= failedBatch * 5)
      .count() == 0,
      "no parent row of the failed batch may land before its cascades")
    assert(parent.log(spark).count() < 10, "the failed batch is missing until retried")

    // run 2, SAME runId: the gate re-selects exactly the failed batch
    // (the landed batch's pks read as already dumped); goodNested's
    // replayed rows are dropped by the dump-id anti-join
    val r2 = Backfill.run(spark, items, "pk", "modified_us", parent,
      runId = "r1", dumpTimeUs = 2000L, batchSize = 5L, nested = nested)
    assert(r2.ok, s"got $r2")
    assert(parent.log(spark).count() == 10,
      "every parent row lands exactly once after the retry")
    assert(parent.log(spark).select("pk").distinct().count() == 10)
    assert(goodNested.log(spark).count() == 10,
      s"replayed nested rows must dedup by dump_id: ${goodNested.log(spark).count()}")
    assert(flaky.log(spark).count() == 10,
      "the flaky sink's rows all land after retry — none silently lost")
    // and a third run finds nothing to do
    val r3 = Backfill.run(spark, items, "pk", "modified_us", parent,
      runId = "r1", dumpTimeUs = 3000L, batchSize = 5L, nested = nested)
    assert(r3.ok && r3.rowsAppended == 0L && r3.itemsSkipped == 10L, s"got $r3")
  }
}
