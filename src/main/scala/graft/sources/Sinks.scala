package graft.sources

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Checkpoints
import graft.operators.IndexFs

/** Sink abstractions (SURVEY.md §4): the write-side twin of the
  * reference's `ModelBaseSink.send_item` / dump-id idempotency contract
  * (reference sinks/base_sink.py:251-282 and the dump_id/time_last_dumped
  * columns every serializer stamps, serializers.py:34-153).
  *
  * Model: a sink is an APPEND-ONLY log of dumped rows, each stamped with
  * a `dump_id` (one per dump attempt) and a `time_last_dumped`. Readers
  * never see the log raw — they read the latest-state view (one row per
  * unique key, newest dump wins), exactly like ClickHouse
  * ReplacingMergeTree + FINAL. Idempotency is re-dump-safe appends:
  * a dump_id that already reached the sink is dropped before it lands,
  * so retrying a failed/duplicated dump batch never duplicates rows —
  * the Spark twin of the reference tolerating Celery task re-delivery.
  */
object Sinks {

  /** Stamp a batch with its dump metadata (the serializer twin of
    * `dump_id`/`time_last_dumped`). `dumpId` identifies the ATTEMPT:
    * replays of the same attempt are deduplicated by
    * [[ParquetSink.appendIdempotent]].
    */
  def stamped(df: DataFrame, dumpId: String, dumpTimeUs: Long): DataFrame =
    df.withColumn("dump_id", lit(dumpId))
      .withColumn("time_last_dumped_us", lit(dumpTimeUs))

  /** Stable per-query-instance tag for streaming dump ids. Epoch numbers
    * restart at 0 whenever a query starts from a fresh checkpoint dir, so
    * a dump id derived from the epoch alone collides with a previous
    * run's ids against the same sink log — and the idempotency check
    * would silently drop the new run's batches. Deriving the tag from the
    * checkpoint dir gives exactly the right identity: restarts from the
    * SAME checkpoint keep the tag (their re-delivered epochs SHOULD
    * dedup), while a fresh checkpoint — or a second query sharing the
    * log — gets a fresh tag.
    */
  def runTag(checkpointDir: String): String = {
    // Canonicalize before hashing: two spellings of the same directory
    // ('/x/ckpt' vs '/x/ckpt/', relative vs absolute, '..' segments)
    // MUST yield the same tag, or a restart referencing the same
    // checkpoint under a different spelling would get a fresh dump-id
    // namespace and its re-delivered epochs would append twice.
    val f = new java.io.File(checkpointDir)
    val canon = try f.getCanonicalPath catch {
      case _: java.io.IOException => f.getAbsolutePath
    }
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8"))
    d.take(6).map(b => f"${b & 0xff}%02x").mkString
  }
}

/** The sink contract every backend shares: an append-only log with
  * dump-id idempotent appends and a latest-state read view. Backends
  * differ only in where the log lives ([[ParquetSink]] — the lake;
  * [[ExternalSink]] — an external database over JDBC, the reference's
  * actual broker role).
  *
  * Scale notes: each backend answers "has this dump_id landed?" where
  * it is cheapest. [[ParquetSink]] keeps a per-dump_id commit manifest
  * beside its rows, so the check is one metadata lookup per dump_id in
  * the batch — it reads none of the log's data files or footers, and
  * its cost does not grow with the committed history; the append is
  * one Spark job. [[ExternalSink]] pushes `SELECT DISTINCT dump_id` to
  * the database and anti-joins the batch against the few ids it
  * returns (a broadcast join). The latest-state view is one shuffle on
  * the unique key and is the same plan as the `sink_latest_state`
  * operator (A1).
  */
trait SinkLog {

  /** Does the log exist yet (first append creates it)? */
  protected def exists(spark: SparkSession): Boolean

  /** Read the raw append-only log. */
  def log(spark: SparkSession): DataFrame

  /** Has anything ever been appended (the first append creates the
    * log)? Public so schedulers ([[Backfill]]) can gate their sink-state
    * read without touching the backend directly.
    */
  def initialized(spark: SparkSession): Boolean = exists(spark)

  /** Append `batch` (already stamped with `dump_id`), dropping every row
    * whose dump_id already reached the sink. Returns the number of rows
    * actually appended.
    */
  def appendIdempotent(spark: SparkSession, batch: DataFrame): Long

  /** Latest-state view: one row per unique key, newest
    * `time_last_dumped_us` wins (ties broken by dump_id so replays of
    * distinct attempts stay deterministic) — ReplacingMergeTree FINAL.
    * A `max_by` hash aggregate, not a window: map-side combine forwards
    * one row per key per map task and no per-key sort runs (see A1's
    * scaladoc in SinkOps for the 100 TB argument).
    */
  def latestState(spark: SparkSession, keyCols: Seq[String]): DataFrame =
    latestOf(log(spark), keyCols)

  /** [[latestState]] over a given snapshot of the log. */
  protected final def latestOf(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val missing = keyCols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"latestState key column(s) ${missing.mkString(", ")} not in log " +
        s"schema [${df.columns.mkString(", ")}]")
    val others = df.columns.filterNot(keyCols.contains).toSeq
    require(others.nonEmpty,
      "latestState needs at least one non-key column (the max_by payload " +
        "struct cannot be empty); a keys-only log has no versioned state " +
        s"to resolve — keys [${keyCols.mkString(", ")}] cover every column")
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(
        struct(others.map(c => col(s"`$c`")): _*),
        struct(col("time_last_dumped_us"), col("dump_id"))).as("m"))
      .select(df.columns.toSeq.map(c =>
        if (keyCols.contains(c)) col(s"`$c`")
        else col(s"m.`$c`").as(c)): _*)
  }
}

/** Append-only parquet sink log — the lake-native [[SinkLog]], with its
  * own commit protocol so an append is one Spark job and its dump-id
  * check never reads the log. Files, for a log at `path`:
  *   - `path/part-*.parquet`: the committed rows, all a reader sees.
  *   - `path/_manifest/<sha-256 of the dump_id>`: one marker per
  *     committed dump_id, holding the id. Spark's file index skips
  *     `_`-prefixed names, so the marker directory is invisible to reads.
  *   - `path.pending/<txn>/`: one append's staged write, and
  *     `path.pending/<txn>.commit`: its commit record (the dump_ids).
  *   - `path.staged`, `path.old`: a compaction's swap siblings
  *     ([[graft.operators.IndexFs]]).
  *
  * An append writes the batch once, unfiltered, into its staging
  * directory; `Dataset.observe` on that write yields the row count and
  * the dump_ids. The Spark driver then looks up each dump_id's marker
  * and, under the log's lock, commits: the record (written aside, then
  * renamed into place, so it is whole or absent), then the markers,
  * then the staged part files renamed into the log. A dump already
  * committed is dropped after its write, so a re-delivered streaming
  * epoch still executes its plan once and its state-store version
  * commits; an empty batch commits nothing.
  *
  * Every open rolls forward any commit record a crash left behind, so
  * a crash at any step leaves a dump either absent (its retry lands it)
  * or whole and marked (its retry appends nothing); only a reader that
  * goes around `log` can see a half-moved dump before the next open.
  * Opens repair an interrupted compaction swap too, in two strengths: a
  * read (`log`, `initialized`, [[latestState]]) only promotes the
  * compacted copy or restores the displaced log when the live log is
  * missing, and never deletes, so a reader in another process cannot
  * remove a compaction that is still running there; a write
  * ([[appendIdempotent]], [[compact]]) also drops the swap's debris.
  *
  * A log written before the manifest existed has no `_manifest`; the
  * first write to it marks the log's dump_ids from one scan, so its
  * earlier dumps stay replay-safe.
  *
  * ASSUMES atomic rename of files and directories, like `IndexFs`:
  * true on HDFS and local POSIX file systems, NOT on object stores (S3A
  * rename is copy+delete, so a crash mid-move can tear a dump and a
  * crash mid-swap can tear the log); an object-store deployment wants a
  * table format's commit protocol instead. Commits and compaction swaps
  * of one log are serialized per JVM, so one process writes a log;
  * readers may live in any process.
  */
final case class ParquetSink(path: String) extends SinkLog {
  import ParquetSink._

  private def root = new Path(path)
  private def manifest = new Path(root, ManifestDir)
  private def pending = new Path(path + ".pending")
  private def stagedCompact = new Path(IndexFs.stagedPath(path))
  private def record(txn: Path) = new Path(pending, txn.getName + ".commit")

  private def fsOf(spark: SparkSession): FileSystem = IndexFs.hfs(spark, path)._1

  private def stateOf(fs: FileSystem): LogState =
    states.computeIfAbsent(fs.makeQualified(root).toString, _ => new LogState)

  protected def exists(spark: SparkSession): Boolean = {
    val fs = fsOf(spark)
    recover(spark, fs, writer = false)
    fs.exists(root)
  }

  /** `mergeSchema` because an append-only log lives through producer
    * schema evolution: a batch that gains a column must not make the log
    * unreadable (rows from before the column read as NULL, exactly like
    * ClickHouse ALTER ADD COLUMN defaults). Cost note: merging reads
    * every file's footer at planning time — a 100 TB deployment
    * partitions the log by dump date and prunes before the merge, or
    * pins the schema once evolution settles.
    */
  def log(spark: SparkSession): DataFrame = {
    recover(spark, fsOf(spark), writer = false)
    spark.read.option("mergeSchema", "true").parquet(path)
  }

  def appendIdempotent(spark: SparkSession, batch: DataFrame): Long = {
    val fs = fsOf(spark)
    recover(spark, fs, writer = true)
    val txn = new Path(pending, UUID.randomUUID().toString)
    val fresh = new Path(txn.toString + "-fresh")
    try {
      val (n, ids) = stage(batch, txn)
      failpoint(path, "staged")
      stateOf(fs).synchronized {
        val seen = ids.filter(id => fs.exists(marker(manifest, id)))
        if (n == 0 || (seen.nonEmpty && seen.size == ids.size)) 0L
        else if (seen.isEmpty) { commit(fs, txn, ids); n }
        else {
          // a batch mixing committed and new dumps restages its new rows
          val (n2, ids2) = stage(spark.read.parquet(txn.toString)
            .filter(!coalesce(col("dump_id").isin(seen: _*), lit(false))), fresh)
          commit(fs, fresh, ids2)
          n2
        }
      }
    } finally {
      // staging that never got a commit record is dropped; a recorded
      // one is rolled forward by the next open
      Seq(txn, fresh).foreach(d => if (!fs.exists(record(d))) fs.delete(d, true))
    }
  }

  /** Write `df` to `dir` — the append's one Spark job — observing its
    * row count and dump_ids on the same pass.
    */
  private def stage(df: DataFrame, dir: Path): (Long, Seq[String]) = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n"), collect_set(col("dump_id")).as("ids"))
      .write.parquet(dir.toString)
    val m = obs.get
    (m("n").asInstanceOf[Long], m("ids").asInstanceOf[Seq[String]])
  }

  /** Commit a staged write: the record, atomically, then the roll-forward. */
  private def commit(fs: FileSystem, txn: Path, dumpIds: Seq[String]): Unit = {
    val tmp = new Path(txn, "_commit")
    val out = fs.create(tmp, false)
    try { out.writeInt(dumpIds.size); dumpIds.foreach(out.writeUTF) }
    finally out.close()
    if (!fs.rename(tmp, record(txn)))
      throw new IOException(s"could not write commit record for $txn")
    failpoint(path, "recorded")
    rollForward(fs, txn, dumpIds)
  }

  /** Finish a recorded commit: markers, then the part files moved into
    * the log, then the staging and the record dropped — only once every
    * file is in. Idempotent, so a crash anywhere in it is repaired by
    * running it again, and a reader in another process may run it
    * alongside the writer: a part file already in the log counts as
    * moved. A move that fails otherwise throws, leaving the record for
    * the next open to retry.
    */
  private def rollForward(fs: FileSystem, txn: Path, dumpIds: Seq[String]): Unit = {
    fs.mkdirs(manifest)
    dumpIds.foreach { id =>
      val m = marker(manifest, id)
      if (!fs.exists(m)) writeMarker(fs, m, id)
    }
    failpoint(path, "marked")
    dataFiles(fs, txn).foreach { f =>
      val dst = new Path(root, f.getPath.getName)
      val moved = try fs.rename(f.getPath, dst) catch { case _: FileNotFoundException => false }
      if (!moved && !fs.exists(dst))
        throw new IOException(s"could not move ${f.getPath} into $path")
      failpoint(path, "moved")
    }
    fs.delete(txn, true)
    fs.delete(record(txn), false)
  }

  /** Repair on open: an interrupted compaction swap first (unless this
    * JVM is compacting the log right now), then every commit record a
    * crashed append left behind, then — for a writer — the manifest of a
    * log written before manifests existed. A reader only repairs a
    * missing live log; dropping swap debris is left to writers, which
    * know whether a compaction is running.
    */
  private def recover(spark: SparkSession, fs: FileSystem, writer: Boolean): Unit = {
    val st = stateOf(fs)
    st.synchronized {
      if (!st.compacting && (writer || !fs.exists(root)))
        IndexFs.recoverSwap(spark, path,
          fs.exists(new Path(stagedCompact, CompactedMarker)))
      if (fs.exists(pending))
        fs.listStatus(pending).map(_.getPath)
          .filter(_.getName.endsWith(".commit")).sortBy(_.getName)
          .foreach { rec =>
            // gone if a concurrent open finished it first
            val ids = try {
              val in = fs.open(rec)
              try Some(Seq.fill(in.readInt())(in.readUTF())) finally in.close()
            } catch { case _: FileNotFoundException => None }
            ids.foreach(rollForward(fs, new Path(pending,
              rec.getName.stripSuffix(".commit")), _))
          }
      if (writer && fs.exists(root) && !fs.exists(manifest)) markHistory(spark, fs)
    }
  }

  /** Build the manifest of a log written before manifests existed, from
    * one scan of its dump_ids. The markers are written aside and renamed
    * in whole, so a crash leaves the log unmarked and the next write
    * starts over.
    */
  private def markHistory(spark: SparkSession, fs: FileSystem): Unit = {
    val tmp = new Path(pending, ManifestDir)
    fs.delete(tmp, true)
    fs.mkdirs(tmp)
    spark.read.parquet(path).select("dump_id").distinct().collect()
      .flatMap(r => Option(r.getString(0)))
      .foreach(id => writeMarker(fs, marker(tmp, id), id))
    if (!fs.rename(tmp, manifest))
      throw new IOException(s"could not install the manifest of $path")
  }

  /** Compaction — the scheduled twin of ClickHouse's background merge:
    * rewrite the append log down to its latest-state rows so reads stop
    * paying for superseded versions. Readers through [[latestState]]
    * see identical results before and after (the view is idempotent
    * over compaction). Dump-id idempotency keeps working because the
    * manifest is carried over whole: a replay of a dump whose every row
    * was superseded is still a no-op.
    *
    * The rewrite reads a snapshot of the part files and writes the
    * `path.staged` sibling, then copies the manifest beside it, all
    * outside the log's lock. Under the lock it checks the copy is still
    * whole, copies in the part files and markers that appends committed
    * since, marks the copy complete and swaps it in through
    * [[graft.operators.IndexFs.swapInto]], so an append committed
    * during the rewrite survives it, the lock is held for work that
    * grows with the appends of that window only, and a crash at any
    * step leaves either the old log or the compacted one.
    */
  def compact(spark: SparkSession, keyCols: Seq[String]): Unit = {
    val fs = fsOf(spark)
    val conf = spark.sparkContext.hadoopConfiguration
    val st = stateOf(fs)
    recover(spark, fs, writer = true)
    val snapshot = st.synchronized {
      if (st.compacting)
        throw new IllegalStateException(s"a compaction of $path is already running")
      st.compacting = true
      dataFiles(fs, root).map(_.getPath)
    }
    try {
      require(snapshot.nonEmpty, s"nothing to compact at $path")
      val stagedManifest = new Path(stagedCompact, ManifestDir)
      latestOf(spark.read.option("mergeSchema", "true")
          .parquet(snapshot.map(_.toString): _*), keyCols)
        .write.parquet(stagedCompact.toString)
      FileUtil.copy(fs, manifest, fs, stagedManifest, false, conf)
      failpoint(path, "compact-staged")
      st.synchronized {
        // copying into a removed copy would recreate it without the
        // compacted rows, and the swap would promote that
        if (!fs.exists(new Path(stagedCompact, "_SUCCESS")) || !fs.exists(stagedManifest))
          throw new IllegalStateException(
            s"the compacted copy of $path was removed during the rewrite; the log is unchanged")
        def copyIn(files: Seq[Path], to: Path): Unit = files.foreach(p =>
          FileUtil.copy(fs, p, fs, new Path(to, p.getName), false, conf))
        val read = snapshot.map(_.getName).toSet
        copyIn(dataFiles(fs, root).map(_.getPath).filterNot(p => read(p.getName)),
          stagedCompact)
        val marked = fs.listStatus(stagedManifest).map(_.getPath.getName).toSet
        copyIn(fs.listStatus(manifest).toSeq.map(_.getPath).filterNot(p => marked(p.getName)),
          stagedManifest)
        fs.create(new Path(stagedCompact, CompactedMarker), false).close()
        failpoint(path, "compact-complete")
        IndexFs.swapInto(spark, path)
      }
    } finally st.synchronized { st.compacting = false }
  }
}

object ParquetSink {
  private val ManifestDir = "_manifest"
  /** Written last into a compaction's staged copy: the copy is whole. */
  private val CompactedMarker = "_COMPACTED"

  /** Per-log commit lock and compaction flag, one per qualified path. */
  private final class LogState { var compacting = false }
  private val states = new ConcurrentHashMap[String, LogState]()

  private def marker(dir: Path, dumpId: String): Path = new Path(dir,
    MessageDigest.getInstance("SHA-256").digest(dumpId.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString)

  private def writeMarker(fs: FileSystem, m: Path, dumpId: String): Unit = {
    val out = fs.create(m, true)
    try out.write(dumpId.getBytes(UTF_8)) finally out.close()
  }

  /** The visible part files of a log directory (Spark's own rule:
    * `_`- and `.`-prefixed names are not data); none if the directory
    * is gone, also when a concurrent roll-forward just removed it.
    */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq.filter { f =>
      val n = f.getPath.getName
      f.isFile && !n.startsWith("_") && !n.startsWith(".")
    } catch { case _: FileNotFoundException => Nil }

  /** Fault-injection hook for the crash specs: called with (log path,
    * step) after each commit step — "staged", "recorded", "marked",
    * "moved" (per file), "compact-staged", "compact-complete". A throw
    * leaves the log as a crash at that step would; only the unrecorded
    * staging a crash leaves behind (invisible to reads) is dropped.
    */
  @volatile private[graft] var failpoint: (String, String) => Unit = (_, _) => ()
}

/** External-database sink over JDBC — the [[SinkLog]] twin of the
  * reference's actual broker role: pushing serialized rows into an
  * external store over the wire (`_send_clickhouse_request`,
  * base_sink.py:55-72, and `send_item`'s bulk POST,
  * base_sink.py:251-282). The reference tolerates Celery re-delivery of
  * the same dump via dump_id + ReplacingMergeTree; here the SAME
  * dump-id anti-join dedups re-delivered batches BEFORE the wire, so
  * the external table never sees a duplicate attempt.
  *
  * Scale notes: the write is `df.write.jdbc` — every Spark partition
  * opens its own connection and streams its rows in `batchsize`d
  * inserts, so the append is partition-parallel like the parquet path
  * (the reference posts one CSV payload per batch from one process; a
  * 1000-executor cluster writes 1000 ways). The idempotency pre-read
  * selects ONLY the distinct dump_id (pushed to the database as a
  * one-column query via a subquery alias, not a full-table fetch).
  */
final case class ExternalSink(
    url: String,
    table: String,
    connProps: Map[String, String] = Map.empty,
    createColumnTypes: Option[String] = None,
    timeoutSecs: Option[Int] = None) extends SinkLog {

  /** `timeoutSecs` is the `ClickHouseClient.ch_timeout_secs` twin
    * (base_sink.py:39-53, overridable per instance exactly as
    * `connection_overrides` overrides the settings default): it rides
    * the JDBC `queryTimeout` option into every Spark read/write this
    * sink issues, and the probe statement in [[exists]] sets it
    * directly — no sink request may hang past it.
    */
  private def props: java.util.Properties = {
    val p = new java.util.Properties()
    connProps.foreach { case (k, v) => p.setProperty(k, v) }
    timeoutSecs.foreach(t => p.setProperty("queryTimeout", t.toString))
    p
  }

  protected def exists(spark: SparkSession): Boolean =
      ExternalSink.surfacing("existence probe", url, table) {
    // Spark's JDBC source loads the driver class itself from the
    // "driver" property; the raw DriverManager probe here must do the
    // same (service autoloading misses drivers registered only in
    // add-on jars, e.g. Derby 10.15+'s EmbeddedDriver in derbytools).
    connProps.get("driver").foreach(Class.forName)
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      // Probe with the EXACT identifier every other path uses (Spark's
      // JDBC reader/writer pass `table` through verbatim) rather than
      // case-guessing against DatabaseMetaData — a metadata probe can
      // false-positive on a differently-cased sibling table on
      // case-sensitive stores, sending appendIdempotent's anti-join to
      // the wrong log. ONLY a table-not-found SQLState may mean "no log
      // yet": any other failure (lock timeout, dropped connection,
      // permission) must propagate, or appendIdempotent would skip the
      // dump-id anti-join and a replayed dump would land twice.
      val st = conn.createStatement()
      timeoutSecs.foreach(st.setQueryTimeout)
      try {
        st.executeQuery(s"SELECT 1 FROM $table WHERE 1=0").close()
        true
      } catch {
        case e: java.sql.SQLException
            if ExternalSink.isTableNotFound(e) => false
      } finally st.close()
    } finally conn.close()
  }

  protected def append(df: DataFrame): Unit =
      ExternalSink.surfacing("append", url, table) {
    // Some dialects map StringType to a LOB type (Derby: CLOB) that the
    // database cannot use in DISTINCT — which the idempotency pre-read
    // needs on dump_id. Pin the key column to a comparable VARCHAR at
    // table creation; callers override for their own columns.
    val colTypes = createColumnTypes.getOrElse(
      if (df.columns.contains("dump_id")) "dump_id VARCHAR(128)" else "")
    val w = df.write.mode("append")
    (if (colTypes.nonEmpty) w.option("createTableColumnTypes", colTypes)
     else w).jdbc(url, table, props)
  }

  def log(spark: SparkSession): DataFrame =
    spark.read.jdbc(url, table, props)

  def appendIdempotent(spark: SparkSession, batch: DataFrame): Long = {
    val fresh =
      if (!exists(spark)) batch
      else batch.join(broadcast(seenDumpIds(spark)), Seq("dump_id"), "left_anti")
    // one pass: count and append without recomputing the anti-join
    val materialized = Checkpoints.checkpoint(fresh)
    val n = materialized.count()
    if (n > 0) append(materialized)
    n
  }

  /** Test hook: the idempotency pre-read, for plan/width assertions. */
  private[graft] def seenForTest(spark: SparkSession): DataFrame =
    seenDumpIds(spark)

  private def seenDumpIds(spark: SparkSession): DataFrame = {
    // A subquery pushes the projection+distinct to the database: the
    // idempotency pre-read moves one column of few values over the
    // wire, not the log. Spark's JDBC writer creates columns with
    // dialect-quoted (case-preserved) names, so the read-back must
    // quote the same way or the database would case-normalize it.
    val q = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
      .quoteIdentifier("dump_id")
    spark.read.jdbc(
        url, s"(SELECT DISTINCT $q FROM $table) AS seen", props)
      .toDF("dump_id")
  }
}

object ExternalSink {
  /** SQLStates that mean "table/view does not exist" across the dialects
    * Spark's JDBC source ships: Derby 42X05, MySQL/SQL Server/ODBC 42S02,
    * Postgres 42P01, H2 42102/42S02, DB2 42704, legacy MySQL S0002.
    * Anything else is NOT evidence of a missing log and is rethrown by
    * [[ExternalSink.exists]].
    */
  val TableNotFoundStates: Set[String] =
    Set("42X05", "42S02", "42P01", "42102", "42704", "S0002")

  /** Oracle reports a missing table as ORA-00942 under the AMBIGUOUS
    * SQLState 42000 (syntax-error class), so it is classified by vendor
    * error code, never by state — treating all of 42000 as "no table"
    * would swallow real syntax errors and skip the idempotency anti-join.
    */
  def isTableNotFound(e: java.sql.SQLException): Boolean =
    TableNotFoundStates(e.getSQLState) ||
      (e.getSQLState == "42000" && e.getErrorCode == 942)

  /** The backend's full diagnostic chain, flattened: SQLState, vendor
    * code and message of the exception AND its `getNextException` chain
    * (JDBC batch drivers bury the real failure there). The twin of the
    * reference client logging `e.response` + `e.response.text` before
    * re-raising (`_send_clickhouse_request`, base_sink.py:55-71) — the
    * error BODY must reach the operator, not just "request failed".
    */
  def describe(e: java.sql.SQLException): String = {
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    var cur = e
    var n = 0
    while (cur != null && n < 8) {
      parts += s"[state=${cur.getSQLState} code=${cur.getErrorCode}] " +
        String.valueOf(cur.getMessage).linesIterator.mkString(" ")
      cur = cur.getNextException
      n += 1
    }
    parts.mkString(" <- ")
  }

  /** Run a sink request, surfacing the backend diagnostics on failure:
    * the first SQLException in the cause chain (Spark wraps JDBC
    * failures) is re-raised with [[describe]]'s flattened detail in the
    * message, original as cause, SQLState/code preserved. Non-SQL
    * failures pass through untouched.
    */
  def surfacing[T](ctx: String, url: String, table: String)(body: => T): T =
    try body catch {
      case e: Throwable =>
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
          .collectFirst { case s: java.sql.SQLException => s } match {
          case Some(s) => throw new java.sql.SQLException(
            s"sink $ctx failed against $url table $table: ${describe(s)}",
            s.getSQLState, s.getErrorCode, e)
          case None => throw e
        }
    }
}

/** ClickHouse-FORMAT-CSV-shaped payload rendering: every row of any
  * DataFrame becomes one QUOTE_NONNUMERIC CSV line (strings/dates
  * quoted with internal quotes doubled, numbers bare, NULL as an empty
  * field) — the bulk-insert payload `send_item` builds
  * (reference sinks/base_sink.py:251-282). Schema-driven and
  * whole-stage-codegen'd: a narrow projection, no shuffle, so payload
  * rendering runs at scan speed at any scale.
  */
object CsvBulkSink {

  private def quoted(c: Column): Column =
    concat(lit("\""), regexp_replace(c, "\"", "\"\""), lit("\""))

  /** The CSV cell expression for one field, by type. */
  private def cell(f: StructField): Column = f.dataType match {
    case _: NumericType | BooleanType => col(f.name).cast(StringType)
    case DateType => quoted(date_format(col(f.name), "yyyy-MM-dd"))
    case TimestampType =>
      quoted(date_format(col(f.name), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
    case _ => quoted(col(f.name).cast(StringType))
  }

  /** One `csv_row` string column for the whole schema. NULL in any field
    * renders as an empty cell (coalesce before concat_ws — concat_ws
    * SKIPS null arguments, which would silently shift every later
    * column one position left).
    */
  def csvRow(df: DataFrame): Column =
    concat_ws(",",
      df.schema.fields.map(f => coalesce(cell(f), lit(""))).toIndexedSeq: _*)

  /** Render and write the payload as text files, one CSV line per row. */
  def write(df: DataFrame, path: String): Unit =
    df.select(csvRow(df).as("value")).write.mode("overwrite").text(path)
}

/** One registered model sink: what `ModelBaseSink` subclasses declare
  * (reference sinks/base_sink.py:125-160: `model`, `unique_key`, the
  * serializer) plus the two `is_enabled` flag sources (settings +
  * waffle, base_sink.py:338-358). `serialize` is the model's serializer
  * over its source table — projection/rename, the A5/A5b/A7 shape.
  */
/** One nested sink chained under a parent model sink — the
  * `nested_sinks` / `dump_related` contract (base_sink.py:123-127,
  * 184-203, 226-233): after a parent object dumps, each nested sink
  * serializes the object's RELATED rows and they land stamped with the
  * PARENT's dump_id/time_last_dumped. `serializeRelated` takes
  * (spark, sfDir, parentIds) where `parentIds` is a one-column
  * (`parent_id`) frame — BATCH-shaped, so the single-object task
  * (a 1-row frame) and [[Backfill.runModel]]'s per-batch cascade share
  * ONE definition and can never drift; the related scan semi-joins the
  * broadcast id set instead of filtering per object.
  */
final case class NestedSinkSpec(
    name: String,
    serializeRelated: (SparkSession, String, DataFrame) => DataFrame)

final case class ModelSinkSpec(
    model: String,
    uniqueKey: String,
    serializedKey: String,
    settingEnabled: Boolean,
    waffleEnabled: Boolean,
    serialize: (SparkSession, String) => DataFrame,
    nested: Seq[NestedSinkSpec] = Nil) {

  /** `is_enabled` = settings flag OR waffle flag (base_sink.py:338-358). */
  def isEnabled: Boolean = settingEnabled || waffleEnabled
}

/** Model→sink registry dispatch — the twin of
  * `ModelBaseSink.get_sink_by_model_name` (base_sink.py:361-369: walk
  * the registered sinks, match on `model`, None for unknown) and of the
  * generic `dump_data_to_clickhouse` task that drives a sink BY NAME
  * (tasks.py:43-59: resolve the class, check `is_enabled`, dump one
  * object). A driver that knows only "dump model X, object N" needs no
  * knowledge of which operator implements X — the routing the reference
  * exposes to its Celery layer.
  */
object SinkRegistry {

  /** The registered model sinks (the `__subclasses__()` walk, keyed
    * up-front — the registry is a handful of entries, so a Map twin of
    * the reference's linear scan is the same contract). Flags mirror
    * the A13 gating fixture: supplier/events are disabled models.
    */
  val specs: Map[String, ModelSinkSpec] = Seq(
    ModelSinkSpec("orders", "o_orderkey", "course_id",
      settingEnabled = true, waffleEnabled = false,
      (s, d) => graft.Tables.orders(s, d).select(
        col("o_orderkey").as("course_id"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").as("price"),
        col("o_orderdate").as("last_published")),
      // the XBlockSink-under-CourseOverviewSink shape: the order's
      // line rows ride the parent dump
      nested = Seq(NestedSinkSpec("order_lines",
        (s, d, pids) => graft.Tables.lineitem(s, d)
          .join(broadcast(pids.select(col("parent_id").as("l_orderkey"))),
            Seq("l_orderkey"), "left_semi")
          .select(col("l_orderkey").as("course_id"),
            col("l_linenumber").as("line"),
            col("l_quantity").as("qty"))))),
    ModelSinkSpec("customer", "c_custkey", "user_id",
      settingEnabled = false, waffleEnabled = true,
      (s, d) => graft.Tables.customer(s, d).select(
        col("c_custkey").as("user_id"),
        col("c_name").as("name"),
        col("c_acctbal").as("balance"))),
    ModelSinkSpec("supplier", "s_suppkey", "supplier_id",
      settingEnabled = false, waffleEnabled = false,
      (s, d) => graft.Tables.supplier(s, d).select(
        col("s_suppkey").as("supplier_id"),
        col("s_name").as("name")))
  ).map(sp => sp.model -> sp).toMap

  /** `get_sink_by_model_name` twin: None for an unregistered model. */
  def byModelName(model: String): Option[ModelSinkSpec] = specs.get(model)

  /** The generic dump task (`dump_data_to_clickhouse` twin): resolve
    * the sink by model name, honor the enable gate (a disabled sink is
    * never invoked — zero reads of its table), serialize the ONE object
    * named by `objectId` (the task's `object_id`), stamp it, append
    * idempotently, then cascade to the spec's nested sinks — each
    * related frame lands under the PARENT's dump_id/time (the
    * `dump` → `nested_sink.dump_related` loop, base_sink.py:184-203).
    * Returns total rows appended, parent + nested (0 for a disabled
    * sink or a fully-replayed dump id). An unknown model throws — the
    * analog of the task's import/getattr failure on a bad sink path; a
    * nested sink with no provided log likewise (the reference's
    * NotImplementedError for an unimplemented dump_related).
    */
  def dumpModel(
      spark: SparkSession,
      sfDir: String,
      model: String,
      objectId: Long,
      sink: SinkLog,
      dumpId: String,
      dumpTimeUs: Long,
      nestedSinks: Map[String, SinkLog] = Map.empty): Long = {
    val spec = byModelName(model).getOrElse(throw new IllegalArgumentException(
      s"unknown model '$model'; registered: ${specs.keys.toSeq.sorted.mkString(", ")}"))
    if (!spec.isEnabled) 0L
    else {
      // resolve EVERY nested sink before anything dumps — the reference
      // instantiates nested_sinks in __init__, so a missing/broken
      // nested sink fails BEFORE the parent row lands, never between
      // the parent append and the cascade
      val resolved = spec.nested.map { ns =>
        ns -> nestedSinks.getOrElse(ns.name,
          throw new IllegalArgumentException(
            s"no sink provided for nested '${ns.name}' of model '$model'"))
      }
      val nParent = sink.appendIdempotent(spark,
        Sinks.stamped(
          spec.serialize(spark, sfDir)
            .filter(col(spec.serializedKey) === objectId),
          dumpId, dumpTimeUs))
      val oneId = spark.range(1).select(lit(objectId).as("parent_id"))
      val nNested = resolved.map { case (ns, nsink) =>
        nsink.appendIdempotent(spark, Sinks.stamped(
          ns.serializeRelated(spark, sfDir, oneId), dumpId, dumpTimeUs))
      }.sum
      nParent + nNested
    }
  }
}
