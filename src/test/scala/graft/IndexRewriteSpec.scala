package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, udf}

import graft.operators._

/** Fault hook of the spec's retirement frames: the ids UDF runs it on
  * every evaluation that happens once the rewrite's staged copy exists,
  * i.e. while the staged copy is being written.
  */
object RewriteFault {
  @volatile var action: () => Unit = () => ()
}

/** The one rewrite path of the saved indexes ([[Artifact.replace]]),
  * pinned once for every index that retires or compacts a saved path:
  *  - a rewrite that dies after opening its staged copy leaves the
  *    previous index loadable and probe-identical;
  *  - an open beside an intact live directory leaves the staged copy in
  *    place (it may be a rewrite another thread is still writing), also
  *    while that rewrite runs;
  *  - the next rewrite drops the debris and lands.
  */
class IndexRewriteSpec extends SparkSpec {

  private def embeddings: DataFrame =
    Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
  private def queries: DataFrame = embeddings.filter(col("vec_id") < 8)

  private def docs(rows: (Long, String)*): DataFrame =
    spark.createDataFrame(rows).toDF("doc_id", "text")
  private val textA = (1 to 40).map(i => s"idx$i").mkString(" ")
  private val textB = (1 to 40).map(i => s"oth$i").mkString(" ")
  // never probed: retiring both probed documents leaves a non-empty index
  private val textC = (1 to 40).map(i => s"unp$i").mkString(" ")

  /** One rewrite-capable index: save a fresh one at a path, probe the
    * saved one (`hit` names the column holding indexed ids), retire ids
    * (`id` names their column) and compact, both on the saved path.
    */
  private final case class Rewritable(
      name: String,
      id: String,
      hit: String,
      save: String => Unit,
      probe: String => DataFrame,
      retire: (String, DataFrame) => Unit,
      compact: Option[String => Unit])

  private val indexes = Seq(
    Rewritable("AnnIndex", "vec_id", "vec_id",
      AnnIndex.save(AnnIndex.build(embeddings), _),
      p => AnnIndex.probe(AnnIndex.load(spark, p), queries),
      AnnIndex.retire, Some(AnnIndex.compact(_, 2))),
    Rewritable("PqIndex", "vec_id", "vec_id",
      PqIndex.save(PqIndex.build(embeddings), _),
      p => PqIndex.probe(PqIndex.load(spark, p), queries),
      PqIndex.retire, Some(PqIndex.compact(_, 2))),
    Rewritable("IvfPqIndex", "vec_id", "vec_id",
      IvfPqIndex.save(IvfPqIndex.build(embeddings), _),
      p => IvfPqIndex.probe(IvfPqIndex.load(spark, p), queries),
      IvfPqIndex.retire, Some(IvfPqIndex.compact(_, 2))),
    Rewritable("DedupIndex", "doc_id", "first_id",
      DedupIndex.save(DedupIndex.build(docs(0L -> textA, 1L -> textB, 2L -> textC)), _),
      p => DedupIndex.probe(DedupIndex.load(spark, p),
        docs(9L -> textA, 8L -> textB)),
      DedupIndex.retire, Some(DedupIndex.compact(_, 2))),
    Rewritable("KnnIndex", "vec_id", "nbr_id",
      KnnIndex.save(KnnIndex.build(embeddings), _),
      p => KnnIndex.neighbors(KnnIndex.load(spark, p)),
      KnnIndex.retire, None))

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  private def hits(ix: Rewritable, path: String): Set[Long] =
    ix.probe(path).select(ix.hit).collect().map(_.getLong(0)).toSet

  private def staged(path: String): Boolean =
    Files.exists(Paths.get(IndexFs.stagedPath(path)))

  /** The staged copy is still the one the rewrite opened: its marker,
    * the first thing the rewrite wrote, is there.
    */
  private def stagedIntact(path: String): Boolean =
    Files.exists(Paths.get(IndexFs.stagedPath(path), "complete"))

  /** A one-row retirement frame whose ids UDF runs [[RewriteFault]]
    * once the staged copy of `path` exists. Nondeterministic, so it is
    * evaluated where the rewrite reads it, never folded or reused.
    */
  private def faulty(ix: Rewritable, path: String, victim: Long): DataFrame = {
    val stagedDir = IndexFs.stagedPath(path)
    val gate = udf { (id: Long) =>
      if (Files.exists(Paths.get(stagedDir))) RewriteFault.action()
      id
    }.asNondeterministic()
    spark.range(1).select(gate(lit(victim)).as(ix.id))
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
    Files.walk(from).forEach(p => Files.copy(p, to.resolve(from.relativize(p))))

  /** `t` is blocked entering an index rewrite another thread holds. */
  private def waitsOnRewrite(t: Thread): Boolean =
    t.getState == Thread.State.BLOCKED &&
      t.getStackTrace.exists(_.getClassName.startsWith("graft.operators.Artifact"))

  private def ids(ix: Rewritable, victim: Long): DataFrame =
    spark.range(1).select(lit(victim).as(ix.id))

  /** A saved index, its probe rows and one id its probe returns. */
  private def saved(ix: Rewritable): (String, Set[Seq[Any]], Long) = {
    val path = Files.createTempDirectory("graft_rewrite").toString + "/index"
    ix.save(path)
    val before = rows(ix.probe(path))
    (path, before, hits(ix, path).min)
  }

  indexes.foreach { ix =>
    test(s"${ix.name}: a rewrite that dies in its staged copy leaves the " +
        "previous index; a load leaves the debris; the next retire drops it") {
      val (path, before, victim) = saved(ix)
      RewriteFault.action = () => throw new IllegalStateException("injected fault")
      val attempt =
        try Try(ix.retire(path, faulty(ix, path, victim)))
        finally RewriteFault.action = () => ()
      val reloaded = rows(ix.probe(path))
      assert(stagedIntact(path),
        "a load beside the live index must leave the staged copy in place")
      assert(attempt.isFailure, "the injected fault must fail the rewrite")
      assert(reloaded == before, "the previous index must serve unchanged")

      ix.retire(path, ids(ix, victim))
      assert(!staged(path), "the next retire drops the debris")
      assert(!hits(ix, path).contains(victim), "the retire must land")
      ix.compact.foreach { compact =>
        val retired = rows(ix.probe(path))
        compact(path)
        assert(rows(ix.probe(path)) == retired, "compaction is probe-invisible")
        assert(!staged(path) &&
          !Files.exists(Paths.get(path + ".old")), "a swap leaves no siblings")
      }
    }

    test(s"${ix.name}: a load while a retire writes its staged copy " +
        "neither disturbs the rewrite nor sees it") {
      val (path, before, victim) = saved(ix)
      val writing = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      // hold one evaluation only: a rewrite may read its ids in several
      // concurrent jobs, and holding them all could take every core the
      // concurrent load needs
      val held = new AtomicBoolean(false)
      RewriteFault.action = () =>
        if (held.compareAndSet(false, true)) {
          writing.countDown()
          release.await(1, TimeUnit.MINUTES)
          ()
        }
      val retire = Future(ix.retire(path, faulty(ix, path, victim)))(ExecutionContext.global)
      try {
        assert(writing.await(1, TimeUnit.MINUTES), "the retire never reached its staged copy")
        assert(rows(ix.probe(path)) == before, "a load mid-rewrite serves the previous index")
        assert(stagedIntact(path), "a load must not remove a rewrite in progress")
      } finally {
        release.countDown()
        Try(Await.result(retire, 5.minutes))
        RewriteFault.action = () => ()
      }
      Await.result(retire, 1.second)
      assert(!staged(path) && !hits(ix, path).contains(victim),
        "the rewrite lands whole after the concurrent load")
    }

    test(s"${ix.name}: two retires of one path both land, as if run in turn") {
      val (path, _, _) = saved(ix)
      val Seq(v1, v2) = hits(ix, path).toSeq.sorted.take(2)
      val inTurn = {
        val copy = Files.createTempDirectory("graft_rewrite").toString + "/index"
        copyTree(Paths.get(path), Paths.get(copy))
        ix.retire(copy, ids(ix, v1))
        ix.retire(copy, ids(ix, v2))
        rows(ix.probe(copy))
      }
      val writing = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val held = new AtomicBoolean(false)
      RewriteFault.action = () =>
        if (held.compareAndSet(false, true)) {
          writing.countDown()
          release.await(1, TimeUnit.MINUTES)
          ()
        }
      val first = Future(ix.retire(path, faulty(ix, path, v1)))(ExecutionContext.global)
      @volatile var second: Try[Unit] = null
      val racer = new Thread(() => second = Try(ix.retire(path, ids(ix, v2))))
      try {
        assert(writing.await(1, TimeUnit.MINUTES), "the first retire never reached its staged copy")
        racer.start()
        // hold the first retire until the second one waits for it (or,
        // were rewrites not serialized, has run)
        val deadline = System.nanoTime + 2.minutes.toNanos
        while (racer.isAlive && !waitsOnRewrite(racer) && System.nanoTime < deadline)
          Thread.sleep(20)
      } finally {
        release.countDown()
        Try(Await.result(first, 5.minutes))
        racer.join(5.minutes.toMillis)
        RewriteFault.action = () => ()
      }
      Await.result(first, 1.second)
      second.get
      assert(!staged(path), "both rewrites swapped in")
      assert(rows(ix.probe(path)) == inTurn, "the second retire starts from the first's result")
    }
  }
}
