package graft

/** Driver-run benchmark: times every registered query at the given scale
  * factor and prints one JSON line. Uses [[GraftSession]] so configs (UTC,
  * AQE, nanosAsLong) match Verify exactly — a query that needs a session
  * config must behave identically here. Failures are NOT swallowed into
  * timings: a failed query records ok=false with elapsed-to-failure, and
  * the process exits non-zero so the driver sees it.
  *
  * Measurement design (decision-grade, r8):
  *  - **min-of-3 per query**: each query's action runs [[REPS]] times
  *    inside one session; `queries` reports the MINIMUM (the
  *    contention-free estimate on a shared box — min, not median, because
  *    external load only ever adds time). `first` reports run 1.
  *  - **scoped cache policy**: operator persist()s route through
  *    [[Caches]], and the scope closes after each query's reps; the
  *    per-corpus memos (trained models, memo-built indexes —
  *    [[graft.operators.Artifact.Memo]]) survive a scope by design, so
  *    the board clears them before each query's first rep. Run 1 is the
  *    cold number (it pays the query's own artifact materialization and
  *    training), runs 2-3 are warm (frames cached, models memoized), and
  *    nothing an earlier query built is reused: a per-query regression
  *    is attributable to that query alone, independent of board order.
  *    `first - min` per query ≈ its artifact-materialization cost (plus
  *    any contention noise caught by run 1); the summed cost is reported
  *    as `materialization_total`. Set SPARK_GRAFT_ARTIFACT_MODE=1 for the
  *    r7-style deployment model (frames and memos survive across
  *    queries).
  *  - **calibration drift**: a fixed q1-shaped probe runs at board
  *    start/middle/end; `calibration.drift` (max/min of the three) says
  *    how loaded the host was DURING the run, so a cross-round comparison
  *    can tell plan regressions from box contention without adjudication.
  */
object Bench {
  private val REPS = 3

  /** Projection-only / window-output queries whose compute `count()`
    * can prune (the count-pruning gotcha documented in BASELINE.md
    * since r12): for these the board emits BOTH numbers — `queries`
    * (count path, scan-bound, comparable with every earlier round) and
    * `forced` (the query's OWN physical plan via queryExecution.toRdd,
    * pricing the un-pruned per-row compute + output sort) — so a
    * regression in the kernel work cannot hide behind column pruning.
    */
  private val ForcedKeys = Set(
    "text_extract", "text_pii_redact", "text_entropy", "text_token_count",
    "text_quality", "text_langid", "text_fingerprint", "text_repetition",
    "q27_time_range_agg", "q18_running_sum", "q23_moving_avg",
    "sink_pseudonymize", "sink_csv_format", "sink_serialize_overview",
    "sink_serialize_profile", "mm_binary_meta", "mm_chunk",
    "mm_frame_sample", "dedup_substr_rewrite", "dedup_lines",
    "events_heavy_hitters",
    // r16: the dup-only LEFT-join re-plan made both per-doc frames
    // unique-keyed, so count() now prunes the entire df/commonness
    // computation — the forced pass prices the real kernel work
    "dedup_substr", "sample_softdedup",
    // r16 session 2: both are row-preserving manifests over the
    // embedded corpus — count() prunes the prefix-sum windows /
    // threshold join, the forced pass prices them
    "doc_pack_semantic", "sample_prototypes", "quality_gopher",
    // r16 session 3: another row-preserving verdict manifest (the G25
    // histogram-threshold-join shape at token-weighted mass)
    "sample_budget",
    // r16 session 4: map-only line rewrite — count() prunes the whole
    // kept-lines lambda and the clean_text reassembly
    "text_boilerplate",
    // r17: row-preserving verdict manifest — the metric left-joins have
    // unique-keyed right sides, so count() can eliminate them and the
    // whole n-gram coverage pipeline with them
    "quality_gopher_rep")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    Caches.artifactMode =
      sys.env.get("SPARK_GRAFT_ARTIFACT_MODE").exists(_ == "1")
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the session before timing: JIT, codegen infrastructure, and the
    // per-file parquet footers/file-index all initialize on first action —
    // without this the alphabetically-first query absorbs ~3-5s of one-time
    // cost and per-query numbers aren't comparable across rounds.
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.names.foreach { t =>
      try Tables.load(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    // Warm the heavy expression machinery the same way: the interpreted
    // HOF evaluators, md5/minhash16 and dot/proj kernels all JIT on first
    // use (~4-5s, measured), which would otherwise be billed to whichever
    // query alphabetically touches shingles/vectors first. Run the two
    // deepest pipelines once at the smallest scale factor (fall back to
    // the bench SF if no sibling sf0.001 exists).
    val warmDir = {
      val sib = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
      if (sib.isDirectory) sib.toString else sfDir
    }
    Seq("dedup_minhash_lsh", "ann_lsh").foreach { q =>
      try SparkEntry.queries(q)(spark, warmDir).count()
      catch { case _: Throwable => () }
    }
    Caches.releaseScope()

    def secs(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    var anyFailed = false

    // q1-shaped calibration probe: scan → filter → groupBy → multi-agg
    // over lineitem at the bench SF. Its ONLY job is to price the host's
    // load at three points in the run.
    val lineitemPresent = new java.io.File(sfDir, "lineitem.parquet").exists
    def calibrate(): Double = {
      // an embeddings-only scale dir (localdata/sf100) has no lineitem:
      // the probe degrades to 0.0 there (drift then reports 1.0 — see
      // the zero-reading guard below — and the record says so via the
      // zero values). Any OTHER probe failure is a real failure: it
      // flags the run and still zeroes the reading, so drift reads 1.0
      // instead of a meaningless max/~0 ratio.
      val t =
        if (!lineitemPresent) 0.0
        else try secs(SparkEntry.queries("q1_agg")(spark, sfDir).count())
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] calibration FAILED: ${e.getMessage}")
            anyFailed = true
            0.0
        }
      Caches.releaseScope()
      t
    }

    // the probe itself warms once untimed (its first run would otherwise
    // bill q1's one-time plan compilation to `calibration.start` and
    // fake a drift reading)
    calibrate()
    // SPARK_GRAFT_ONLY=k1,k2 restricts the run (local iteration on one op).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // Deterministic run order (sorted keys) so per-round numbers compare.
    val keys = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }

    val calibStart = calibrate()
    var calibMid = calibStart
    val results = keys.zipWithIndex.map { case ((name, fn), i) =>
      if (i == keys.size / 2) calibMid = calibrate()
      var ok = true
      if (!Caches.artifactMode) operators.Artifact.clearMemos()
      val runs = (1 to REPS).iterator.map { _ =>
        try Some(secs(fn(spark, sfDir).count()))
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            anyFailed = true
            ok = false
            None
        }
      }.takeWhile(_.isDefined).flatten.toSeq
      Caches.releaseScope()
      // forced-plan pass for pruning-prone queries: same min-of-REPS
      // discipline, its own cache scope so the count-path numbers stay
      // attributable
      var forcedOk = true
      val forcedRuns = if (!ok || !ForcedKeys.contains(name)) Seq.empty[Double]
      else {
        val fr = (1 to REPS).iterator.map { _ =>
          try Some(secs(fn(spark, sfDir).queryExecution.toRdd.count()))
          catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name FORCED FAILED: ${e.getMessage}")
              anyFailed = true
              forcedOk = false
              None
          }
        }.takeWhile(_.isDefined).flatten.toSeq
        Caches.releaseScope()
        fr
      }
      val first = runs.headOption.getOrElse(0.0)
      val best = if (runs.isEmpty) 0.0 else runs.min
      (name, first, best, ok, forcedRuns, forcedOk)
    }
    val calibEnd = calibrate()

    def jmap(entries: Seq[(String, Double)]): String = entries
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val qs = jmap(results.map { case (k, _, mn, _, _, _) => k -> mn })
    val firsts = jmap(results.map { case (k, f, _, _, _, _) => k -> f })
    val forced = jmap(results.collect {
      case (k, _, _, _, fr, _) if fr.nonEmpty => k -> fr.min })
    // A forced-pass failure lists as "name(forced)" so the record itself
    // is self-describing (the count-path numbers still print for the op).
    val failed = (results.collect { case (k, _, _, false, _, _) => k } ++
      results.collect { case (k, _, _, _, _, false) => s"$k(forced)" })
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // Total counts only successful queries; failures are listed separately.
    val total = results.collect { case (_, _, mn, true, _, _) => mn }.sum
    val matTotal = results
      .collect { case (_, f, mn, true, _, _) => math.max(f - mn, 0.0) }.sum
    // drift = max/min of the three probe readings; any zero reading
    // (absent lineitem, failed probe) means "no probe signal" → 1.0,
    // never a max/~0 explosion
    val calibReadings = Seq(calibStart, calibMid, calibEnd)
    val calibDrift =
      if (calibReadings.exists(_ <= 0.0)) 1.0
      else calibReadings.max / calibReadings.min
    val calib = f""""calibration":{"start":$calibStart%.3f,"mid":$calibMid%.3f,"end":$calibEnd%.3f,"drift":$calibDrift%.2f}"""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"first":$firsts,"forced":$forced,"reps":$REPS,"cache_policy":"${
        if (Caches.artifactMode) "artifact" else "scoped-per-query"
      }","materialization_total":${f"$matTotal%.3f"},$calib,"failed":$failed,"sf":"$sfDir"}"""
    println(line)
    // The driver's stdout tail-capture truncates long boards mid-JSON
    // (BENCH_rN.json "parsed": null) — the full board is ALSO written
    // to a file so a parseable copy always exists: SPARK_GRAFT_BENCH_OUT
    // when set, else records/BENCH_last.json (r18 verdict: the opt-in
    // write left the judged end-of-round artifact truncated for two
    // rounds). Write-to-temp + rename so a killed run never leaves a
    // torn file under the final name; the default write is best-effort
    // (an unwritable cwd must not fail the bench itself).
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "records/BENCH_last.json")
    try {
      val outPath = java.nio.file.Paths.get(out)
      Option(outPath.getParent)
        .foreach(java.nio.file.Files.createDirectories(_))
      val tmp = java.nio.file.Paths.get(out + ".tmp")
      java.nio.file.Files.write(tmp, (line + "\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, outPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case e: java.io.IOException =>
        System.err.println(s"[bench] board file write to $out failed: $e")
    }
    // A stdout tail capture truncates the 165-query board line mid-JSON,
    // so one SHORT summary is the LAST stdout line: total seconds, query
    // count, failures, calibration drift and where the full board lives.
    // build.sbt's `showSuccess := false` keeps sbt's trailer off stdout.
    println(s"""{"total":$total,"n":${results.size},"failed":$failed,"drift":${
      f"$calibDrift%.2f"},"board_file":"$out"}""")
    spark.stop()
    if (anyFailed) sys.exit(1)
  }
}
