package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.{Caches, GraftSession, SparkEntry}
import graft.sources.{Backfill, BackfillReport, FileSources, ParquetSink, SinkLog, SinkRegistry}
import graft.streaming.EventIngest

/** The broker benchmark's JVM side: one process, one Spark `local[nproc]`
  * session, one workload. It drives graft only through its public entry
  * points, times each call from outside, checks every output outside the
  * timed regions, and writes the raw samples as one JSON file that
  * `run.py` turns into metrics.
  *
  * Usage: perfbench.Harness <workload> <dataDir> <workDir> <seed> <seconds>
  *   <trace 0|1> <outFile> [key=value ...]
  */
object Harness {

  val BackfillBatch = 5000L
  /** Timed passes (ingest_stream, query_mix) and cycles (backfill) per
    * run, at least.
    */
  val MinPasses = 2
  /** Drop files of the untimed ingest warm-up pass. */
  val WarmupFiles = 3
  /** The untimed backfill warm-up cycle runs over one order in this many. */
  val WarmupOrderStride = 5
  /** Pseudo-workload the build runs to record the JVM's class archive. */
  val ArchiveRun = "archive"

  final class Run(
      val spark: SparkSession,
      val tracer: Tracer,
      val data: String,
      val work: String,
      val seed: Long,
      val seconds: Double,
      val params: Map[String, String]) {
    val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val values = mutable.LinkedHashMap[String, Double]()
    val checks = mutable.ArrayBuffer[Map[String, Any]]()
    val oracle = mutable.LinkedHashMap[String, Option[String]]()
    var progress: Seq[Map[String, Any]] = Nil
    var streamId: Option[java.util.UUID] = None
    var attempted = 0L
    var failed = 0L

    def sample(name: String, v: Double): Unit =
      samples.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += v

    def value(name: String, v: Double): Unit = values(name) = v

    /** Count one output check; a failed check counts as a failed op. */
    def check(name: String, ok: Boolean, detail: String = ""): Unit = {
      attempted += 1
      if (!ok) {
        failed += 1
        System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
      }
      checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    }

    /** One timed operation; a throw counts as a failed op. */
    def op[A](name: String)(body: => A): Option[(A, Double)] = {
      attempted += 1
      val t0 = System.nanoTime()
      try {
        val r = tracer.span(name)(body)
        Some((r, (System.nanoTime() - t0) / 1e6))
      } catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] OP FAILED $name: $e")
          checks += Map("name" -> name, "ok" -> false, "detail" -> e.toString)
          None
      }
    }

    def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

    /** Operation keys passed in by `run.py` (its `MIX_KEYS`/`CORPUS_KEYS`). */
    def keys(name: String): Seq[String] = params(name).split(",").toSeq
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def session(cpus: Int, work: String): SparkSession = {
    val s = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The set-up's warm-up probe: the q1-shaped query over the fixed
    * calibration table.
    */
  def probe(spark: SparkSession, data: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries("q1_agg")(spark, s"$data/calib").count()
    Caches.releaseScope()
    ms(t0)
  }

  def main(argv: Array[String]): Unit = {
    val jvmUpMs = ManagementFactory.getRuntimeMXBean.getUptime.toDouble
    val t0 = System.nanoTime()
    val Array(workload, data, work, seedS, secondsS, traceS, out) = argv.take(7)
    val params = argv.drop(7).map { kv =>
      val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val cpus = Runtime.getRuntime.availableProcessors()
    if (workload == ArchiveRun) {
      // class-loading run of the build: one session and one probe
      probe(session(cpus, work), data)
      SparkSession.active.stop()
      return
    }

    // Set-up, cold: JVM start, first session start and warm-up probe
    val spark = session(cpus, work)
    probe(spark, data)
    val setupMs = jvmUpMs + ms(t0)
    val r = new Run(spark, new Tracer(traceS == "1"), data, work, seedS.toLong,
      secondsS.toDouble, params)

    // listeners see the workload only: registered after set-up, read
    // before the end
    val tracer = r.tracer
    val sparkTrace = new SparkTrace(tracer)
    val streamTrace = new StreamTrace
    if (tracer.enabled) {
      spark.sparkContext.addSparkListener(sparkTrace)
      spark.streams.addListener(streamTrace)
      tracer.onChange = id =>
        spark.sparkContext.setLocalProperty(SparkTrace.SpanProperty, id.toString)
    }
    tracer.span(s"workload:$workload") {
      workload match {
        case "ingest_stream" => ingest(r)
        case "backfill" => backfill(r)
        case "query_mix" => queryMix(r)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    }
    val traceOut: Map[String, Any] =
      if (!tracer.enabled) Map.empty
      else {
        // let the listener bus deliver every event before reading it
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        r.streamId.foreach(id =>
          r.progress = streamTrace.all.filter(_.id == id).map(progressMap))
        val tasks = sparkTrace.taskMs.map(_.toDouble).toSeq
        Map(
          "spark" -> Map(
            "jobs" -> sparkTrace.jobs, "stages" -> sparkTrace.stages,
            "tasks" -> tasks.size, "task_ms" -> tasks,
            "cpu_ns" -> sparkTrace.cpuNs,
            "shuffle_read_bytes" -> sparkTrace.shuffleRead,
            "shuffle_write_bytes" -> sparkTrace.shuffleWrite),
          "spans" -> tracer.spans.map(s => Map(
            "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
            "start_ns" -> s.startNs, "end_ns" -> s.endNs, "run" -> s"$workload-$seedS")))
      }
    r.value("caches.live_entries", Caches.liveCount.toDouble)
    r.value("caches.storage_bytes", spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum.toDouble)
    val raw = Map(
      "workload" -> workload, "seed" -> seedS.toLong, "trace" -> tracer.enabled,
      "cpus" -> cpus, "setup_ms" -> setupMs,
      "peak_rss_mb" -> peakRssMb,
      "samples" -> r.samples, "values" -> r.values, "checks" -> r.checks,
      "attempted" -> r.attempted, "failed" -> r.failed,
      "oracle" -> r.oracle, "progress" -> r.progress) ++ traceOut
    val tmp = Paths.get(out + ".tmp")
    Files.writeString(tmp,
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(raw))
    Files.move(tmp, Paths.get(out), StandardCopyOption.ATOMIC_MOVE)
    spark.stop()
  }

  /** VmHWM of this JVM: the resident-set high-water mark, in MB. */
  def peakRssMb: Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
        .getOrElse(0.0)
    } catch { case NonFatal(_) => 0.0 }

  def sameRows(a: Seq[Row], b: Seq[Row]): Boolean =
    a.map(_.toString).sorted == b.map(_.toString).sorted

  /** Files and bytes of a parquet log directory. */
  def logFiles(dir: String): (Int, Long) = {
    val files = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .toSeq
    (files.size, files.map(p => Files.size(p)).sum)
  }

  /** Rows of one committed dump, detached from the log files so a replay
    * still has them after compaction rewrites the log.
    */
  def dumpRows(r: Run, sink: ParquetSink, dumpId: String): DataFrame = {
    val log = sink.log(r.spark).filter(col("dump_id") === dumpId)
    r.spark.createDataFrame(log.collect().toSeq.asJava, log.schema)
  }

  /** Sink-layer measurements shared by the two writing workloads: an
    * append into the grown log (stamped oldest, so the view is unchanged),
    * a replay of a committed dump, the log's size and the view read.
    */
  def sinkLayer(r: Run, sink: ParquetSink, keys: Seq[String],
      replayId: String): (DataFrame, Array[Row]) = {
    val replay = dumpRows(r, sink, replayId)
    r.op("SinkLog.appendIdempotent") {
      sink.appendIdempotent(r.spark, replay.withColumn("dump_id", lit("perfbench-append"))
        .withColumn("time_last_dumped_us", lit(0L)))
    }.foreach { case (n, t) => r.value("sink.append_ms", t) }
    r.op("SinkLog.appendIdempotent(replay)") {
      sink.appendIdempotent(r.spark, replay)
    }.foreach { case (n, t) =>
      r.value("sink.replay_noop_ms", t)
      r.value("sink.replay_rows", n.toDouble)
      r.check("sink.replay_appends_nothing", n == 0, s"replay of $replayId appended $n rows")
    }
    val (files, bytes) = logFiles(sink.path)
    r.value("sink.log_files", files.toDouble)
    r.value("sink.log_bytes", bytes.toDouble)
    val view = r.op("SinkLog.latestState") {
      sink.latestState(r.spark, keys).collect()
    }.map { case (rows, t) => r.value("sink.view_ms", t); rows }.getOrElse(Array.empty[Row])
    val logRows = sink.log(r.spark).count()
    r.value("sink.log_rows_per_view_row",
      if (view.isEmpty) 0.0 else logRows.toDouble / view.length)
    (replay, view)
  }

  // ---------------------------------------------------------------- ingest

  def progressMap(p: StreamingQueryProgress): Map[String, Any] =
    Map("batch" -> p.batchId, "rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.toLong },
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
      "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
      "late_dropped" -> p.stateOperators.map(_.numRowsDroppedByWatermark).sum)

  /** One closed-loop pass of the stream into a fresh drop directory, sink
    * and checkpoint: one producer drops one file atomically, waits for
    * its epoch to commit, then drops the next. Returns the drop directory
    * and the sink.
    */
  def ingestPass(r: Run, staged: Seq[java.nio.file.Path], root: String,
      timed: Boolean = true): (String, ParquetSink) = {
    val drop = Files.createDirectories(Paths.get(s"$root/drop"))
    val stage = Files.createDirectories(Paths.get(s"$root/stage"))
    staged.foreach(f => Files.copy(f, stage.resolve(f.getFileName)))
    val sink = ParquetSink(s"$root/sink")
    val query = r.tracer.span("EventIngest.start") {
      EventIngest.start(
        FileSources.good(FileSources.streamEventsJsonl(r.spark, drop.toString)),
        sink, s"$root/ckpt")
    }
    r.streamId = Some(query.id)
    val t0 = System.nanoTime()
    r.tracer.span("phase:stream") {
      staged.map(_.getFileName).zipWithIndex.foreach { case (f, i) =>
        r.op("EventIngest.epoch") {
          Files.move(stage.resolve(f), drop.resolve(f), StandardCopyOption.ATOMIC_MOVE)
          query.processAllAvailable()
        }.foreach { case (_, t) => if (timed) r.sample(s"epoch_ms.$i", t) }
      }
    }
    if (timed) r.sample("drain_s", r.elapsedS(t0))
    r.progress = query.recentProgress.toSeq.map(progressMap)
    query.stop()
    (drop.toString, sink)
  }

  def ingest(r: Run): Unit = {
    val spark = r.spark
    val staged = Files.list(Paths.get(s"${r.data}/drop")).iterator().asScala
      .toSeq.sortBy(_.getFileName.toString)
    val keys = Seq("hour_start", "event_type")
    r.value("epochs_per_pass", staged.size.toDouble)
    // untimed warm-up over the first files, so that the timed passes all
    // run compiled code and the best of them is a real choice
    r.tracer.span("phase:warmup") {
      ingestPass(r, staged.take(WarmupFiles), s"${r.work}/ingest/warmup", timed = false)
    }
    val t0 = System.nanoTime()
    var pass = 0
    var last: (String, ParquetSink) = null
    while (pass < MinPasses || r.elapsedS(t0) < r.seconds) {
      pass += 1
      last = ingestPass(r, staged, s"${r.work}/ingest/$pass")
    }
    val (drop, sink) = last

    // ---- untimed: the sink layer and the output checks
    r.tracer.span("phase:verify") {
      val dumpIds = sink.log(spark).select("dump_id").distinct().collect()
        .map(_.getString(0)).sorted
      r.value("sink.dump_ids", dumpIds.length.toDouble)
      val replayId = dumpIds(math.min(5, dumpIds.length - 1))
      val (replay, view) = sinkLayer(r, sink, keys, replayId)

      val planted = r.params
      val obs = r.op("FileSources.eventsJsonl") {
        val (df, o) = FileSources.quarantineObservation(
          FileSources.eventsJsonl(spark, drop))
        df.foreach((_: Row) => ())
        o.get
      }
      obs.foreach { case (m, t) =>
        r.value("sources.parse_ms", t)
        val ok = m("n_ok").asInstanceOf[Long]
        val bad = m("n_quarantined").asInstanceOf[Long]
        r.value("sources.rows_ok", ok.toDouble)
        r.value("sources.rows_quarantined", bad.toDouble)
        r.check("ingest.quarantined_equals_planted", bad == planted("corrupt").toLong,
          s"quarantined $bad, planted ${planted("corrupt")}")
        r.check("ingest.parsed_equals_planted", ok == planted("good").toLong,
          s"parsed $ok, planted ${planted("good")}")
      }
      val expected = EventIngest.windowedAgg(
        FileSources.good(FileSources.eventsJsonl(spark, drop))).collect()
      val viewNoMeta = EventIngest.latestState(spark, sink.path).collect()
      r.check("ingest.view_equals_batch_agg", sameRows(viewNoMeta, expected),
        s"view ${viewNoMeta.length} rows, batch ${expected.length} rows")

      r.op("ParquetSink.compact") { sink.compact(spark, keys) }
        .foreach { case (_, t) => r.value("sink.compact_ms", t) }
      r.op("SinkLog.latestState(compacted)") { sink.latestState(spark, keys).collect() }
        .foreach { case (v2, t) =>
          r.value("sink.view_ms_compacted", t)
          r.check("ingest.compact_keeps_view", sameRows(v2, view),
            s"${view.length} rows before, ${v2.length} after")
        }
      // known defect, reported as the count it is: compaction forgets
      // superseded dump_ids, so a replay after it can land again
      r.op("SinkLog.appendIdempotent(replay after compact)") {
        sink.appendIdempotent(spark, replay)
      }.foreach { case (n, _) => r.value("sink.replay_rows_after_compact", n.toDouble) }
    }
  }

  // -------------------------------------------------------------- backfill

  def backfill(r: Run): Unit = {
    val spark = r.spark
    val dir = s"${r.data}/sf"
    val meta = spark.read.option("multiLine", "true").json(s"${r.data}/changed.json")
    val changed = meta.select(explode(col("changed"))).collect().map(_.getLong(0)).toSet
    val nOrders = r.params("orders").toLong
    val nLines = r.params("lines").toLong
    val changedLines = r.params("changed_lines").toLong
    val spec = SinkRegistry.specs("orders")
    val key = spec.serializedKey
    val changedDf = spark.createDataFrame(
      changed.toSeq.sorted.map(Tuple1(_))).toDF(key).withColumn("__changed", lit(true))
    val (t1, t2, t3) = (1000000L, 3000000L, 4000000L)

    def items(modified: Boolean): DataFrame = {
      val base = spec.serialize(spark, dir)
      if (!modified) base.withColumn("modified_us", lit(0L))
      else base.join(broadcast(changedDf), Seq(key), "left")
        .withColumn("modified_us",
          when(col("__changed"), lit(t1 + 1)).otherwise(lit(0L)))
        .drop("__changed")
    }

    def runPhase(phase: String, root: String, runId: String, dumpUs: Long,
        modified: Boolean, warmup: Boolean): Option[(BackfillReport, Double)] = {
      val parent = ParquetSink(s"$root/orders")
      val lines = ParquetSink(s"$root/order_lines")
      val cascade = spec.nested.map { ns =>
        ((b: DataFrame) => ns.serializeRelated(spark, dir,
          b.select(col(key).as("parent_id")))) -> (lines: SinkLog)
      }
      r.op(s"Backfill.run:$phase") {
        val all = items(modified)
        val picked = if (warmup) all.filter(col(key) % WarmupOrderStride === 0) else all
        Backfill.run(spark, picked, key, "modified_us", parent, runId, dumpUs,
          BackfillBatch, nested = cascade)
      }
    }

    /** One cycle of the three phases into fresh sinks. Cycle 0 is the
      * untimed warm-up over a subset of the orders.
      */
    def cycle(c: Int): Unit = {
      val root = s"${r.work}/backfill/$c"
      val parent = ParquetSink(s"$root/orders")
      val lines = ParquetSink(s"$root/order_lines")
      val warmup = c == 0
      val p1 = runPhase("full", root, s"p1c$c", t1, modified = false, warmup)
      val gate = r.op("SinkLog.latestState(gate)") {
        parent.latestState(spark, Seq(key)).count()
      }
      val p2 = runPhase("incremental", root, s"p2c$c", t2, modified = true, warmup)
      val p3 = runPhase("noop", root, s"p3c$c", t3, modified = true, warmup)
      if (!warmup) record(p1, gate, p2, p3)
      if (c == 1) r.tracer.span("phase:verify") {
        verifyCycle(parent, lines, p1, p2, p3)
      }
    }

    def record(p1: Option[(BackfillReport, Double)], gate: Option[(Long, Double)],
        p2: Option[(BackfillReport, Double)], p3: Option[(BackfillReport, Double)]): Unit = {
      p1.foreach { case (rep, t) =>
        r.sample("p1_s", t / 1e3)
        r.sample("p1_rows", (rep.rowsAppended + rep.nestedRowsAppended).toDouble)
      }
      p2.foreach { case (_, t) => r.sample("p2_s", t / 1e3) }
      p3.foreach { case (_, t) => r.sample("p3_s", t / 1e3) }
      gate.foreach { case (_, t) => r.sample("gate_view_ms", t) }
    }

    def verifyCycle(parent: ParquetSink, lines: ParquetSink,
        p1: Option[(BackfillReport, Double)], p2: Option[(BackfillReport, Double)],
        p3: Option[(BackfillReport, Double)]): Unit = {
      val reports = Seq(p1, p2, p3).flatten.map(_._1)
      def total(f: BackfillReport => Long) = reports.map(f).sum.toDouble
      r.value("backfill.batches_planned", total(_.batchesPlanned.size.toLong))
      r.value("backfill.batches_landed", total(_.batchesLanded.size.toLong))
      r.value("backfill.batches_failed", total(_.batchesFailed.size.toLong))
      r.value("backfill.items_eligible", total(_.itemsEligible))
      r.value("backfill.items_skipped", total(_.itemsSkipped))
      r.value("backfill.rows_appended", total(_.rowsAppended))
      r.value("backfill.nested_rows_appended", total(_.nestedRowsAppended))
      p1.foreach { case (rep, _) =>
        r.check("backfill.p1_lands_every_order", rep.ok && rep.rowsAppended == nOrders,
          s"appended ${rep.rowsAppended} of $nOrders, failed ${rep.batchesFailed}")
        r.check("backfill.p1_lands_every_line", rep.nestedRowsAppended == nLines,
          s"appended ${rep.nestedRowsAppended} of $nLines")
      }
      p2.foreach { case (rep, _) =>
        r.check("backfill.p2_lands_changed_orders",
          rep.ok && rep.rowsAppended == changed.size && rep.nestedRowsAppended == changedLines,
          s"appended ${rep.rowsAppended}/${rep.nestedRowsAppended}, " +
            s"expected ${changed.size}/$changedLines")
      }
      val latest = parent.latestState(spark, Seq(key))
      val viaP2 = latest.filter(col("dump_id").startsWith("p2c1-"))
        .select(col(key)).collect().map(_.getLong(0)).toSet
      r.check("backfill.p2_latest_dump_is_p2", viaP2 == changed,
        s"${viaP2.size} orders resolve to phase 2, expected ${changed.size}")
      val viewOrders = latest.count()
      val viewLines = lines.latestState(spark, Seq(key, "line")).count()
      r.check("backfill.view_has_every_order_and_line",
        viewOrders == nOrders && viewLines == nLines,
        s"view $viewOrders orders / $viewLines lines, expected $nOrders / $nLines")
      p3.foreach { case (rep, _) =>
        r.check("backfill.p3_appends_nothing",
          rep.ok && rep.rowsAppended == 0 && rep.nestedRowsAppended == 0,
          s"appended ${rep.rowsAppended}/${rep.nestedRowsAppended}")
      }
      val firstBatch = parent.log(spark).select("dump_id").filter(col("dump_id").startsWith("p1c1-"))
        .distinct().collect().map(_.getString(0)).min
      sinkLayer(r, parent, Seq(key), firstBatch)
    }

    r.tracer.span("phase:warmup") { cycle(0) }
    val t0 = System.nanoTime()
    var c = 0
    r.tracer.span("phase:backfill") {
      while (c < MinPasses || r.elapsedS(t0) < r.seconds) {
        c += 1
        cycle(c)
      }
    }
  }

  // ------------------------------------------------------ query_mix, corpus

  /** Plan, then execute through the query's own physical plan. */
  def planAndExec(r: Run, key: String, dir: String): Unit = {
    val fn = SparkEntry.queries(key)
    r.op(s"query.$key") {
      val t0 = System.nanoTime()
      val df = r.tracer.span("plan") {
        val d = fn(r.spark, dir)
        d.queryExecution.executedPlan
        d
      }
      val planMs = ms(t0)
      val t1 = System.nanoTime()
      r.tracer.span("exec") { df.queryExecution.toRdd.count() }
      r.sample("plan_ms", planMs)
      r.sample("exec_ms", ms(t1))
      val phases = df.queryExecution.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        r.sample(s"phase.$p", phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
      }
    }.foreach { case (_, t) => r.sample(s"query.$key", t) }
    Caches.releaseScope()
  }

  /** One result per key, written for the DuckDB oracle compare. */
  def dumpResults(r: Run, keys: Seq[String], dir: String): Unit = {
    keys.foreach { k =>
      r.op(s"dump:$k") {
        SparkEntry.queries(k)(r.spark, dir).write.mode("overwrite")
          .parquet(s"${r.work}/out/$k")
      }
      r.oracle(k) = SparkEntry.oracleSql.get(k)
      Caches.releaseScope()
    }
  }

  /** The read side: the sink/events/relational mix and the corpus
    * operators, one client in a closed loop.
    */
  def queryMix(r: Run): Unit = {
    val dir = s"${r.data}/sf"
    val mix = r.keys("mix_keys")
    val corpus = r.keys("corpus_keys")
    // the result dump doubles as the cold pass of the mix: every plan
    // shape and codegen path is compiled before the timed passes start
    r.tracer.span("phase:dump") { dumpResults(r, mix, dir) }
    // first reps of the corpus operators, which pay for their artifacts
    r.tracer.span("phase:cold") {
      corpus.foreach { k =>
        planAndExec(r, k, dir)
        r.samples.get(s"query.$k").foreach(s => r.value(s"corpus.${k}_first_ms", s.last))
      }
    }
    // the warm samples start from here
    r.samples.clear()
    val rnd = new scala.util.Random(r.seed)
    val t0 = System.nanoTime()
    var last = 0.0
    var passes = 0
    r.tracer.span("phase:mix") {
      // at least MinPasses, then more while the next one fits the budget
      while (passes < MinPasses || r.elapsedS(t0) + last <= r.seconds) {
        val p0 = System.nanoTime()
        rnd.shuffle(mix ++ corpus).foreach(k => planAndExec(r, k, dir))
        last = r.elapsedS(p0)
        r.sample("pass_s", last)
        passes += 1
      }
    }
    r.tracer.span("phase:dump") { dumpResults(r, corpus, dir) }
  }
}
