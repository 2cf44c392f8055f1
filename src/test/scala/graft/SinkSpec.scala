package graft

import org.apache.spark.sql.functions._

/** Semantic checks for the A-series sink/ETL ops against independently
  * computed expectations at sf0.001.
  */
class SinkSpec extends SparkSpec {

  test("sink_pseudonymize: retired rows pseudonymized, others byte-identical") {
    val src = Tables.customer(spark, sf).collect()
      .map(r => r.getAs[Long]("c_custkey") -> r).toMap
    val got = run("sink_pseudonymize").collect()
    assert(got.length == src.size, "pseudonymization must not drop rows")
    got.foreach { r =>
      val o = src(r.getAs[Long]("c_custkey"))
      if (r.getAs[Boolean]("masked")) {
        assert(o.getAs[Double]("c_acctbal") < 0, "only retired users mask")
        assert(r.getAs[String]("c_name").matches("[0-9a-f]{32}"),
          s"pseudonym must be an md5 hex: ${r.getAs[String]("c_name")}")
        assert(r.isNullAt(r.fieldIndex("c_acctbal")),
          "balance must be suppressed for retired users")
      } else {
        assert(r.getAs[String]("c_name") == o.getAs[String]("c_name"))
        assert(r.getAs[Double]("c_acctbal") == o.getAs[Double]("c_acctbal"))
      }
      assert(r.getAs[String]("c_mktsegment") == o.getAs[String]("c_mktsegment"),
        "aggregate-bearing column must survive masking")
    }
    // pseudonyms stay unique (stable join key) and the masked set is
    // exactly the retired set
    val masked = got.filter(_.getAs[Boolean]("masked"))
    assert(masked.map(_.getAs[String]("c_name")).distinct.length == masked.length)
    assert(masked.length == src.values.count(_.getAs[Double]("c_acctbal") < 0))
  }

  test("sink_latest_state: exactly one row per user, carrying the max ts") {
    val out = run("sink_latest_state")
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(out.count() == users)
    // the reported last_ts_us must equal the true per-user max
    val expected = Tables.events(spark, sf)
      .groupBy(col("user_id")).agg(max(unix_micros(col("ts"))).as("m"))
    val joined = out.join(expected, "user_id")
      .filter(col("last_ts_us") =!= col("m")).count()
    assert(joined == 0, "latest-state ts != max ts for some user")

    // scale contract: a map-side-combined hash aggregate, never a
    // per-key window sort
    out.collect()
    val p = plan(out)
    assert(!p.contains("Window"), "latest-state must not plan a window")
    assert(p.contains("partial_max_by") || p.contains("Partial"),
      "map-side partial max_by missing")
  }

  test("sink_should_dump: flag and reason are mutually consistent") {
    val rows = run("sink_should_dump").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val dump = r.getAs[Boolean]("should_dump")
      val reason = r.getAs[String]("reason")
      if (reason.contains("NOT")) assert(!dump)
      else assert(dump, s"reason '$reason' but should_dump=false")
    }
    // the gate must exercise all three branches on this data
    val reasons = rows.map(_.getAs[String]("reason")).distinct
    assert(reasons.length == 3, s"gate branches hit: ${reasons.toSeq}")
  }

  test("sink_retire_users: n_before - n_deleted = n_after, deletions occur") {
    val rows = run("sink_retire_users").collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_before") - r.getAs[Long]("n_deleted")
        == r.getAs[Long]("n_after"))
    }
    assert(rows.map(_.getAs[Long]("n_deleted")).sum > 0, "no PII rows deleted")
  }

  test("sink_pagination: batch respects start_pk, skip set, size and order") {
    val keys = run("sink_pagination").collect().map(_.getAs[Long]("o_orderkey"))
    assert(keys.length <= 200)
    assert(keys.forall(k => k > 500 && k % 10 != 3))
    assert(keys.sameElements(keys.sorted), "batch not in pk order")
  }

  test("sink_xblock_hierarchy: counters mirror the reference's loop") {
    // replay the reference's imperative counters (course_published.py:47-94)
    // per user and compare row-for-row.
    val rows = run("sink_xblock_hierarchy").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("ord"),
        r.getAs[Long]("section"), r.getAs[Long]("subsection"),
        r.getAs[Long]("unit")))
    val types = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"),
        (r.getAs[Long]("us"), r.getAs[Long]("event_id")),
        r.getAs[String]("event_type")))
      .groupBy(_._1)
    val expected = types.toSeq.flatMap { case (uid, evs) =>
      var (sec, sub, unit) = (0L, 0L, 0L)
      evs.sortBy(_._2).zipWithIndex.map { case ((_, _, t), i) =>
        t match {
          case "signup"   => sec += 1; sub = 0; unit = 0
          case "purchase" => sub += 1; unit = 0
          case "click"    => unit += 1
          case _          =>
        }
        (uid, i + 1L, sec, sub, unit)
      }
    }.toSet
    assert(rows.toSet == expected, "hierarchy counters diverge from reference loop")

    // detached flag: membership in the reference's detached-type set
    // (course_published.py:109; static_tab/about/course_info) — view and
    // error map to detached block types, the hierarchy types do not
    run("sink_xblock_hierarchy").collect().foreach { r =>
      val bt = r.getAs[String]("block_type")
      val want = if (Set("static_tab", "about", "course_info")(bt)) 1L else 0L
      assert(r.getAs[Long]("detached") == want, s"detached($bt)")
    }
  }

  test("sink_csv_format: QUOTE_NONNUMERIC shape") {
    val rows = run("sink_csv_format").limit(50).collect()
    rows.foreach { r =>
      val csv = r.getAs[String]("csv_row")
      val parts = csv.split(",(?=(?:[^\"]*\"[^\"]*\")*[^\"]*$)")
      assert(parts.length == 5, s"bad csv: $csv")
      assert(!parts(0).startsWith("\""), "numeric pk must be unquoted")
      assert(parts(1).startsWith("\"") && parts(2).startsWith("\""),
        "strings must be quoted")
      assert(parts(3).matches("""-?\d+\.\d\d"""), s"money not d.dd: ${parts(3)}")
    }
  }

  test("backfill executor: poisoned batch tolerated, re-run idempotent, force re-dumps") {
    import java.nio.file.Files
    import graft.sources.{Backfill, ParquetSink, SinkLog}
    import org.apache.spark.sql.{DataFrame, SparkSession}

    // a parquet sink whose append can be poisoned per dump_id (a failing
    // bulk POST in the reference; any transient batch error here)
    class PoisonSink(path: String) extends SinkLog {
      @volatile var poison: Set[String] = Set.empty
      private val inner = ParquetSink(path)
      protected def exists(spark: SparkSession): Boolean =
        inner.initialized(spark)
      def appendIdempotent(spark: SparkSession, batch: DataFrame): Long = {
        val dumpIds = batch.select("dump_id").distinct().collect()
          .map(_.getString(0)).toSet
        if ((dumpIds & poison).nonEmpty)
          throw new RuntimeException(s"poisoned: ${dumpIds & poison}")
        inner.appendIdempotent(spark, batch)
      }
      def log(spark: SparkSession): DataFrame = inner.log(spark)
    }

    val sink = new PoisonSink(
      Files.createTempDirectory("graft_backfill").toString + "/log")
    // 1000 items, pk 0..999, all modified at t=1000us → 5 batches of 200
    val items = spark.range(0, 1000)
      .select(col("id").as("pk"), lit(1000L).as("modified_us"),
        concat(lit("payload-"), col("id")).as("body"))

    def backfill(runId: String, force: Boolean = false) =
      Backfill.run(spark, items, "pk", "modified_us", sink,
        runId = runId, dumpTimeUs = 2000L, batchSize = 200L, force = force)

    // run 1: batch 2 (pks 400-599) is poisoned; the OTHER four land
    sink.poison = Set("run1-b2")
    val r1 = backfill("run1")
    assert(r1.batchesFailed == Seq(2L), s"got $r1")
    assert(r1.batchesLanded.sorted == Seq(0L, 1L, 3L, 4L))
    assert(r1.rowsAppended == 800L && sink.log(spark).count() == 800L)

    // run 2, same runId, poison cleared: ONLY the failed batch lands —
    // the gate skips everything the sink already has
    sink.poison = Set.empty
    val r2 = backfill("run1")
    assert(r2.ok && r2.rowsAppended == 200L, s"got $r2")
    assert(r2.itemsSkipped == 800L)
    assert(sink.log(spark).count() == 1000L)

    // run 3: complete re-run appends NOTHING (gate skips all 1000)
    val r3 = backfill("run1")
    assert(r3.ok && r3.rowsAppended == 0L && r3.itemsSkipped == 1000L,
      s"got $r3")
    assert(sink.log(spark).count() == 1000L)

    // run 4: --force with a fresh runId bypasses the gate — every item
    // re-dumps even though nothing was modified
    val r4 = backfill("run2", force = true)
    assert(r4.ok && r4.rowsAppended == 1000L && r4.itemsSkipped == 0L,
      s"got $r4")
    assert(sink.log(spark).count() == 2000L)
    // the latest-state view is unchanged in cardinality: newest dump wins
    assert(sink.latestState(spark, Seq("pk")).count() == 1000L)
  }

  test("backfill executor: signed pks batch by floor division, no oversized batch 0") {
    import java.nio.file.Files
    import graft.sources.{Backfill, ParquetSink}

    // pks -15..14 with batchSize 10 must cut [-15,-11] [-10,-1] [0,9]
    // [10,14] — truncating division would fold (-10,10) into one
    // 19-item batch 0
    val items = spark.range(-15, 15)
      .select(col("id").as("pk"), lit(1000L).as("modified_us"))
    val s = ParquetSink(
      Files.createTempDirectory("graft_bf_neg").toString + "/log")
    val r = Backfill.run(spark, items, "pk", "modified_us", s,
      runId = "r", dumpTimeUs = 2000L, batchSize = 10L)
    assert(r.ok && r.rowsAppended == 30L)
    assert(r.batchesLanded.sorted == Seq(-2L, -1L, 0L, 1L), s"got $r")
  }

  test("backfill executor: ids/skip_ids/limit page like the reference command") {
    import java.nio.file.Files
    import graft.sources.{Backfill, ParquetSink}

    val items = spark.range(0, 1000)
      .select(col("id").as("pk"), lit(1000L).as("modified_us"))

    // --ids: only the include set is considered
    val s1 = ParquetSink(
      Files.createTempDirectory("graft_bf_ids").toString + "/log")
    val rIds = Backfill.run(spark, items, "pk", "modified_us", s1,
      runId = "r", dumpTimeUs = 2000L, batchSize = 200L,
      ids = Some(Seq(1L, 5L, 900L)))
    assert(rIds.rowsAppended == 3L && s1.log(spark).count() == 3L)

    // --skip_ids: excluded pks never dump
    val s2 = ParquetSink(
      Files.createTempDirectory("graft_bf_skip").toString + "/log")
    val rSkip = Backfill.run(spark, items, "pk", "modified_us", s2,
      runId = "r", dumpTimeUs = 2000L, batchSize = 200L,
      skipIds = Some((0L until 500L)))
    assert(rSkip.rowsAppended == 500L)
    assert(s2.log(spark).agg(min(col("pk"))).collect().head.getLong(0) == 500L)

    // --limit: stops at batch granularity once the cap is reached
    val s3 = ParquetSink(
      Files.createTempDirectory("graft_bf_limit").toString + "/log")
    val rLim = Backfill.run(spark, items, "pk", "modified_us", s3,
      runId = "r", dumpTimeUs = 2000L, batchSize = 200L,
      limit = Some(400L))
    assert(rLim.batchesPlanned == Seq(0L, 1L), s"got $rLim")
    assert(rLim.rowsAppended == 400L && s3.log(spark).count() == 400L)
  }

  test("sink_xblock_dedup: strip-then-last-wins actually collapses") {
    val events = Tables.events(spark, sf)
    val nEvents = events.count()
    val got = run("sink_xblock_dedup")
    val rows = got.collect()
    assert(rows.length < nEvents,
      "planted duplicate locations must collapse (dict-overwrite twin)")
    // survivors are unique per (user, location) and each survivor is the
    // LAST raw occurrence for its normalized location
    val byKey = rows.groupBy(r =>
      (r.getAs[Long]("user_id"), r.getAs[String]("location")))
    assert(byKey.values.forall(_.length == 1))
    val lastByKey = events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        concat(lit("lb:org:c"), col("user_id"), lit(":b"),
          pmod(col("event_id"), lit(40))).as("location"))
      .groupBy(col("user_id"), col("location"))
      .agg(max(struct(col("us"), col("event_id"))).as("m"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("location")) ->
        r.getStruct(2).getLong(1)).toMap
    rows.foreach { r =>
      val k = (r.getAs[Long]("user_id"), r.getAs[String]("location"))
      assert(r.getAs[Long]("event_id") == lastByKey(k),
        s"survivor for $k is not the last occurrence")
    }
    // locations are normalized: no branch/version residue on the key
    assert(rows.forall(r => !r.getAs[String]("location").contains("branch@")))
    // counters are stamped over the RAW iteration (the reference loop
    // runs index/section_idx/... over every block BEFORE the dict
    // overwrite): each survivor's ord is its PRE-dedup position
    val rawOrd = events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("ord", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id")) ->
        r.getAs[Int]("ord").toLong).toMap
    rows.foreach { r =>
      val k = (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"))
      assert(r.getAs[Long]("ord") == rawOrd(k),
        s"survivor $k must keep its raw-position ord")
    }
    // ...which means surviving ords have GAPS where overwritten blocks
    // contributed (a deduped-first renumbering would be 1..n dense)
    val ordsByUser = rows.groupBy(_.getAs[Long]("user_id"))
      .view.mapValues(_.map(_.getAs[Long]("ord")).sorted).toMap
    assert(ordsByUser.values.exists(os => os.last > os.length),
      "raw-position counters must show dedup gaps")
  }

  test("sink_gating: a disabled sink's plan contains no scan of its table") {
    val df = run("sink_gating")
    val rows = df.collect().map(r => r.getAs[String]("model") ->
      (r.getAs[Boolean]("is_enabled"), r.getAs[Long]("n_dumped"))).toMap
    assert(rows("orders")._1 && rows("orders")._2 > 0)
    assert(rows("customer")._1 && rows("customer")._2 > 0) // waffle-only
    assert(!rows("events")._1 && rows("events")._2 == 0)
    assert(!rows("supplier")._1 && rows("supplier")._2 == 0)
    // the operational point of is_enabled: disabled models never read
    val p = plan(df)
    assert(p.contains("orders.parquet") && p.contains("customer.parquet"))
    assert(!p.contains("events.parquet") && !p.contains("supplier.parquet"),
      "disabled sinks must be compiled out of the plan, not filtered")
  }

  test("sink_ccx_expand: flag gates the child scan and the fan-out rows") {
    val on = run("sink_ccx_expand").collect()
    val off = run("sink_ccx_expand_off").collect()
    assert(off.forall(_.getAs[Long]("is_ccx") == 0L))
    assert(on.count(_.getAs[Long]("is_ccx") == 0L) == off.length,
      "parent rows identical with the flag on or off")
    assert(on.exists(_.getAs[Long]("is_ccx") == 1L), "expansion must fire")
    // ccx rows carry their OWN dump ids, never a parent's
    val ids = on.map(_.getAs[String]("dump_id"))
    assert(ids.distinct.length == ids.length)
    // the config gate is plan-level: with the flag off the CHILD scan of
    // lineitem disappears (one scan remains — the A2 dump gate's sink
    // state is also lineitem-backed)
    def scans(key: String) =
      "lineitem\\.parquet".r.findAllIn(plan(run(key))).size
    assert(scans("sink_ccx_expand_off") < scans("sink_ccx_expand"),
      "flag-off plan must drop the child-table scan")
  }

  test("sink_scd2: intervals tile the per-key history, one open row per " +
      "key, population matches the event log") {
    val rows = run("sink_scd2").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("valid_from_us"),
        Option(r.getAs[java.lang.Long]("valid_to_us")).map(_.toLong),
        r.getAs[Boolean]("is_current")))
    val nEvents = Tables.events(spark, sf).count()
    assert(rows.length == nEvents, "every version owns exactly one interval")
    rows.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(x => (x._2, x._3.getOrElse(Long.MaxValue)))
      // each interval closes exactly at the next one's open (ties allowed
      // as zero-width intervals), and only the last stays open
      sorted.toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(a._3.contains(b._2),
          s"user ${a._1}: gap between ${a._3} and ${b._2}")
        case _ =>
      }
      assert(sorted.init.forall(!_._4) && sorted.last._4,
        s"user ${g.head._1}: exactly the last interval is current")
      assert(sorted.last._3.isEmpty, "open interval has NULL valid_to")
    }
  }

  test("sink_asof_state: exactly one row per key with a version at or " +
      "before T, and it is that key's LATEST version at or before T") {
    val rows = run("sink_asof_state").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[Long]("valid_from_us"), r.getAs[Long]("t_us")))
    assert(rows.nonEmpty)
    val t = rows.head._4
    assert(rows.map(_._1).distinct.length == rows.length,
      "one state row per key")
    // independent truth from the raw log: per user, the (us, event_id)-max
    // version among those with us <= T
    val log = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        org.apache.spark.sql.functions.unix_micros(col("ts")).as("us"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[Long]("us")))
    val expect = log.filter(_._3 <= t).groupBy(_._1).map { case (u, g) =>
      u -> g.maxBy(x => (x._3, x._2))._2
    }
    assert(rows.map(r => r._1 -> r._2).toMap == expect,
      "as-of pick must be the latest version at or before T")
  }
}
