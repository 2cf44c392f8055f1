package graft.operators

import java.io.{EOFException, FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one commit protocol for changing a directory that readers see:
  * the parquet sink log's appends and compactions
  * ([[graft.sources.ParquetSink]]) and every write to a saved artifact
  * — save, retire, compact, append ([[Artifact.save]],
  * [[Artifact.append]]). Files, for a root directory `root`:
  *   - `root.pending/<txn>/`: one commit's staged files, laid out as they
  *     will sit under `root`;
  *   - `root.pending/<txn>.commit`: its commit record — the dump_ids to
  *     mark (`int n`, then `n` UTF ids), then, only when there are any,
  *     the root-relative files the commit removes in the same form;
  *   - `root/_manifest/<sha-256 of the dump_id>`: one marker per
  *     committed dump_id (sink logs only; an index commit marks none).
  *
  * A commit writes its record aside and renames it into place, so the
  * record is whole or absent, then rolls forward: markers, then the
  * staged files moved in, then the removals deleted, then the staging
  * and the record dropped. Every open rolls forward a record a crash
  * left behind, so a commit is either absent (staging without a record
  * is dropped: by its writer, or by the next writer's open once no live
  * txn owns it) or, after the next open, whole. Commits of one root are
  * serialized per JVM by [[lockOf]]; staging may run concurrently.
  *
  * ASSUMES atomic rename of files: true on HDFS and local POSIX file
  * systems, NOT on object stores.
  */
private[graft] object Commits {

  val ManifestDir = "_manifest"

  /** The file system of `path`, and `path` as a Hadoop path. */
  def hfs(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** One lock per qualified root path. */
  private val locks = new ConcurrentHashMap[String, AnyRef]()

  def lockOf(fs: FileSystem, root: Path): AnyRef =
    locks.computeIfAbsent(fs.makeQualified(root).toString, _ => new Object)

  def pending(root: Path): Path = new Path(root.toString + ".pending")

  def record(txn: Path): Path = new Path(txn.getParent, txn.getName + ".commit")

  /** Per qualified root, the txns a writer of this JVM is staging. */
  private val live = new ConcurrentHashMap[String, java.util.Set[String]]()

  private def liveOf(fs: FileSystem, root: Path): java.util.Set[String] =
    live.computeIfAbsent(fs.makeQualified(root).toString,
      _ => ConcurrentHashMap.newKeySet[String]())

  /** Stage one commit to `root`: `body` gets a fresh staging directory
    * `root.pending/<txn>`, which a writer's [[recover]] leaves alone
    * while `body` runs. The staging is dropped after it unless it got a
    * commit record (the next open rolls a recorded one forward).
    */
  def staging[A](fs: FileSystem, root: Path)(body: Path => A): A = {
    val txn = new Path(pending(root), UUID.randomUUID().toString)
    val owned = liveOf(fs, root)
    owned.add(txn.getName)
    try body(txn)
    finally { dropUnrecorded(fs, txn); owned.remove(txn.getName) }
  }

  /** Drop `txn`'s staging unless it got a commit record. */
  private def dropUnrecorded(fs: FileSystem, txn: Path): Unit =
    if (!fs.exists(record(txn))) fs.delete(txn, true)

  def marker(dir: Path, dumpId: String): Path = new Path(dir,
    MessageDigest.getInstance("SHA-256").digest(dumpId.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString)

  def writeMarker(fs: FileSystem, m: Path, dumpId: String): Unit = {
    val out = fs.create(m, true)
    try out.write(dumpId.getBytes(UTF_8)) finally out.close()
  }

  /** The visible entries under `dir`, as paths relative to it, each
    * with whether it is a directory (Spark's own rule, at every level:
    * `_`- and `.`-prefixed names are not data); none if the directory is
    * gone, also when a concurrent roll-forward just removed it.
    */
  private def entries(fs: FileSystem, dir: Path): Seq[(String, Boolean)] = {
    def under(d: Path, prefix: String): Seq[(String, Boolean)] =
      (try fs.listStatus(d).toSeq catch { case _: FileNotFoundException => Nil })
        .filterNot { f => val n = f.getPath.getName; n.startsWith("_") || n.startsWith(".") }
        .flatMap { f =>
          val rel = prefix + f.getPath.getName
          if (f.isDirectory) (rel, true) +: under(f.getPath, rel + "/") else Seq((rel, false))
        }
    under(dir, "")
  }

  /** The visible data files under `dir`, relative to it. */
  def dataFiles(fs: FileSystem, dir: Path): Seq[String] =
    entries(fs, dir).collect { case (f, false) => f }

  /** The visible directories under `dir`, relative to it, at every depth
    * — also those that hold no file, like an empty frame's.
    */
  def dataDirs(fs: FileSystem, dir: Path): Seq[String] =
    entries(fs, dir).collect { case (d, true) => d }

  /** Commit `txn`'s staged files to `root`: the record, atomically, then
    * the roll-forward. Call it holding [[lockOf]]. A commit may not
    * remove a file it stages: the roll-forward counts a file already in
    * place as moved, so the removal would delete the staged one.
    */
  def commit(fs: FileSystem, root: Path, txn: Path, dumpIds: Seq[String],
      removals: Seq[String] = Nil): Unit = {
    if (removals.nonEmpty) {
      val clash = dataFiles(fs, txn).intersect(removals)
      require(clash.isEmpty, s"a commit to $root stages files it removes: ${clash.mkString(", ")}")
    }
    val tmp = new Path(txn, "_commit")
    val out = fs.create(tmp, false)
    try {
      out.writeInt(dumpIds.size); dumpIds.foreach(out.writeUTF)
      if (removals.nonEmpty) { out.writeInt(removals.size); removals.foreach(out.writeUTF) }
    } finally out.close()
    if (!fs.rename(tmp, record(txn)))
      throw new IOException(s"could not write commit record for $txn")
    failpoint(root.toString, "recorded")
    rollForward(fs, root, txn, dumpIds, removals)
  }

  /** Finish a recorded commit: markers, then each staged directory
    * created under `root` (an empty one too) and each staged file moved
    * to the same relative path, then the removals deleted, then the
    * staging and the record dropped — only once every file is in.
    * Idempotent, so a crash anywhere in it is repaired by running it
    * again, and a reader in another process may run it alongside the
    * writer: a file already in place counts as moved, one already gone
    * as removed. A move that fails otherwise throws, leaving the record
    * for the next open to retry.
    */
  private def rollForward(fs: FileSystem, root: Path, txn: Path,
      dumpIds: Seq[String], removals: Seq[String]): Unit = {
    if (dumpIds.nonEmpty) {
      val manifest = new Path(root, ManifestDir)
      fs.mkdirs(manifest)
      dumpIds.foreach { id =>
        val m = marker(manifest, id)
        if (!fs.exists(m)) writeMarker(fs, m, id)
      }
    }
    failpoint(root.toString, "marked")
    val staged = entries(fs, txn)
    (root +: staged.collect { case (d, true) => new Path(root, d) }).foreach(fs.mkdirs)
    staged.collect { case (f, false) => f }.foreach { f =>
      val dst = new Path(root, f)
      val moved = try fs.rename(new Path(txn, f), dst) catch { case _: FileNotFoundException => false }
      if (!moved && !fs.exists(dst))
        throw new IOException(s"could not move $f from $txn into $root")
      failpoint(root.toString, "moved")
    }
    removals.foreach { f =>
      fs.delete(new Path(root, f), false)
      failpoint(root.toString, "removed")
    }
    fs.delete(txn, true)
    fs.delete(record(txn), false)
  }

  /** Roll forward, in record-name order, every commit record a crash
    * left behind; then, for a `writer`, drop the staging of writers that
    * died before their record: every unrecorded entry of `root.pending`
    * that no txn of this JVM is [[staging]] (one process writes a root).
    * Readers drop nothing. One `exists` call when nothing is pending; a
    * reader takes the lock only when a record is there.
    */
  def recover(fs: FileSystem, root: Path, writer: Boolean = false): Unit = {
    val dir = pending(root)
    def listed = (try fs.listStatus(dir).toSeq catch { case _: FileNotFoundException => Nil })
      .map(_.getPath)
    if (fs.exists(dir)) {
      val records = listed.filter(_.getName.endsWith(".commit")).sortBy(_.getName)
      if (records.nonEmpty || writer) lockOf(fs, root).synchronized {
        records.foreach { rec =>
          // gone if a concurrent open finished it first
          val parsed = try {
            val in = fs.open(rec)
            def strings() = Seq.fill(in.readInt())(in.readUTF())
            try Some((strings(), try strings() catch { case _: EOFException => Nil }))
            finally in.close()
          } catch { case _: FileNotFoundException => None }
          parsed.foreach { case (ids, removals) => rollForward(fs, root,
            new Path(dir, rec.getName.stripSuffix(".commit")), ids, removals) }
        }
        if (writer) {
          // list, then look the owners up: a txn registers before it
          // creates its staging, so every live one listed is owned
          val owned = liveOf(fs, root)
          listed.filterNot(e => e.getName.endsWith(".commit") || owned.contains(e.getName))
            .foreach(dropUnrecorded(fs, _))
        }
      }
    }
  }

  /** Fault-injection hook for the crash specs: called with (root path,
    * step) after each step — "staged" (by the committer, once its files
    * are staged), "compact-staged" (the sink's compaction), "recorded",
    * "marked", "moved" (per file), "removed" (per file). A throw leaves
    * the root as a crash at that step would; only the unrecorded
    * staging a crash leaves behind (invisible to reads) is dropped.
    */
  @volatile var failpoint: (String, String) => Unit = (_, _) => ()
}
