package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, udf}

import graft.operators._

/** Fault hook of the spec's retirement and append frames: the ids UDF
  * runs it on every evaluation that happens once a commit's staging
  * exists, i.e. while a rewrite stages its frames, and on every
  * evaluation of an appended batch.
  */
object RewriteFault {
  @volatile var action: () => Unit = () => ()
}

/** Every write to a saved index is one commit ([[Commits]]): a save over
  * it, a retire, a compact ([[Artifact.save]]) and an append
  * ([[Artifact.append]]), pinned once for every index that retires,
  * compacts or appends to a saved path, and for LmIndex's merge append.
  * Faults are injected through the frames' ids UDF and
  * [[Commits.failpoint]]:
  *  - a write that dies while staging, or once staged, leaves the
  *    previous index, probe-identical, and nothing pending; a load
  *    beside a staging leaves it, and the next write drops what a dead
  *    writer staged;
  *  - from the commit record on, the next load finishes the commit and
  *    equals the clean write;
  *  - a replayed append leaves every frame's rows unchanged;
  *  - writes of one path land in turn.
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

  /** One rewrite-capable index: save a fresh one at a path, save over
    * a saved one its own loaded frames less some ids (`resave`), probe
    * the saved one (`hit` names the column holding indexed ids), retire
    * ids (`id` names their column) and compact, both on the saved path.
    */
  private final case class Rewritable(
      name: String,
      id: String,
      hit: String,
      save: String => Unit,
      resave: (String, DataFrame) => Unit,
      probe: String => DataFrame,
      retire: (String, DataFrame) => Unit,
      compact: Option[String => Unit],
      append: (String, DataFrame) => Unit,
      batch: (Column => Column) => DataFrame,
      frames: String => Seq[DataFrame])

  /** New vectors (ids past the corpus') and new documents to append,
    * their ids passed through `gate`.
    */
  private def newVecs(gate: Column => Column): DataFrame =
    embeddings.filter(col("vec_id") < 24)
      .select(gate(col("vec_id") + 100000L).as("vec_id"), col("embedding"))
  private def newDocs(gate: Column => Column): DataFrame =
    docs(5L -> textA.replace("idx9", "new"), 6L -> (1 to 40).map(i => s"app$i").mkString(" "))
      .select(gate(col("doc_id")).as("doc_id"), col("text"))

  private val indexes = Seq(
    Rewritable("AnnIndex", "vec_id", "vec_id",
      AnnIndex.save(AnnIndex.build(embeddings), _),
      (p, ids) => AnnIndex.save(AnnIndex.retire(AnnIndex.load(spark, p), ids), p),
      p => AnnIndex.probe(AnnIndex.load(spark, p), queries),
      AnnIndex.retire, Some(AnnIndex.compact(_, 2)),
      AnnIndex.append, newVecs,
      p => { val i = AnnIndex.load(spark, p); Seq(i.buckets, i.vectors) }),
    Rewritable("PqIndex", "vec_id", "vec_id",
      PqIndex.save(PqIndex.build(embeddings), _),
      (p, ids) => PqIndex.save(PqIndex.retire(PqIndex.load(spark, p), ids), p),
      p => PqIndex.probe(PqIndex.load(spark, p), queries),
      PqIndex.retire, Some(PqIndex.compact(_, 2)),
      PqIndex.append, newVecs,
      p => { val i = PqIndex.load(spark, p); Seq(i.codes, i.vectors) }),
    Rewritable("IvfPqIndex", "vec_id", "vec_id",
      IvfPqIndex.save(IvfPqIndex.build(embeddings), _),
      (p, ids) => IvfPqIndex.save(IvfPqIndex.retire(IvfPqIndex.load(spark, p), ids), p),
      p => IvfPqIndex.probe(IvfPqIndex.load(spark, p), queries),
      IvfPqIndex.retire, Some(IvfPqIndex.compact(_, 2)),
      IvfPqIndex.append, newVecs,
      p => { val i = IvfPqIndex.load(spark, p); Seq(i.codes, i.vectors) }),
    Rewritable("DedupIndex", "doc_id", "first_id",
      DedupIndex.save(DedupIndex.build(docs(0L -> textA, 1L -> textB, 2L -> textC)), _),
      (p, ids) => DedupIndex.save(DedupIndex.retire(DedupIndex.load(spark, p), ids), p),
      p => DedupIndex.probe(DedupIndex.load(spark, p),
        docs(9L -> textA, 8L -> textB)),
      DedupIndex.retire, Some(DedupIndex.compact(_, 2)),
      DedupIndex.append, newDocs,
      p => Seq(DedupIndex.load(spark, p))),
    Rewritable("KnnIndex", "vec_id", "nbr_id",
      KnnIndex.save(KnnIndex.build(embeddings), _),
      (p, ids) => KnnIndex.save(KnnIndex.retire(KnnIndex.load(spark, p), ids), p),
      p => KnnIndex.neighbors(KnnIndex.load(spark, p)),
      KnnIndex.retire, None,
      KnnIndex.append, newVecs,
      p => { val i = KnnIndex.load(spark, p); Seq(i.edges, i.vectors, i.seeds) }))

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** Each persisted frame's rows, with their multiplicities (binary
    * values compared by content).
    */
  private def multisets(ix: Rewritable, path: String): Seq[Map[Seq[Any], Int]] =
    ix.frames(path).map(_.collect().toSeq
      .map(_.toSeq.map { case b: Array[Byte] => b.toSeq; case v => v })
      .groupBy(identity).map { case (r, rs) => r -> rs.size })

  private def hits(ix: Rewritable, path: String): Set[Long] =
    ix.probe(path).select(ix.hit).collect().map(_.getLong(0)).toSet

  /** Some commit of `path` is staged, or a dead writer's staging is left. */
  private def staging(path: String): Boolean =
    Option(new java.io.File(path + ".pending").list()).exists(_.nonEmpty)

  /** `attempt` failed with the injected fault, however Spark wrapped it. */
  private def injected(attempt: Try[Unit]): Boolean =
    attempt.failed.toOption.exists(e =>
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("injected"))))

  /** Nothing staged or recorded is left beside `path`. */
  private def nothingPending(path: String): Boolean = !staging(path)

  /** A one-row retirement frame whose ids UDF runs [[RewriteFault]]
    * while a commit of `path` stages. Nondeterministic, so it is
    * evaluated where the rewrite reads it, never folded or reused.
    */
  private def faulty(ix: Rewritable, path: String, victim: Long): DataFrame = {
    val pending = new java.io.File(path + ".pending")
    val gate = udf { (id: Long) =>
      if (Option(pending.list()).exists(_.nonEmpty)) RewriteFault.action()
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

  /** One saved index per kind, built once with its probe rows and one id
    * its probe returns; tests write to copies.
    */
  private val built = scala.collection.mutable.Map[String, (String, Set[Seq[Any]], Long)]()

  private def copyOf(path: String): String = {
    val copy = Files.createTempDirectory("graft_rewrite").toString + "/index"
    copyTree(Paths.get(path), Paths.get(copy))
    copy
  }

  /** A saved index, its probe rows and one id its probe returns. */
  private def saved(ix: Rewritable): (String, Set[Seq[Any]], Long) = {
    val (path, before, victim) = built.getOrElseUpdate(ix.name, {
      val p = Files.createTempDirectory("graft_rewrite").toString + "/index"
      ix.save(p)
      (p, rows(ix.probe(p)), hits(ix, p).min)
    })
    (copyOf(path), before, victim)
  }

  /** Each frame's multisets of the saved index, once per kind. */
  private val savedSets = scala.collection.mutable.Map[String, Seq[Map[Seq[Any], Int]]]()

  /** Runs [[RewriteFault]] on every evaluation of an appended batch. */
  private val appendGate: Column => Column = {
    val gate = udf { (id: Long) => RewriteFault.action(); id }.asNondeterministic()
    c => gate(c)
  }

  /** Run `body` with a crash injected the first time a write of `path`
    * passes commit step `step`.
    */
  private def crashingAt(path: String, step: String)(body: => Unit): Try[Unit] = {
    val root = new org.apache.hadoop.fs.Path(path).toString
    val seen = new AtomicBoolean(false)
    Commits.failpoint = (p, s) =>
      if (p == root && s == step && seen.compareAndSet(false, true))
        throw new IllegalStateException(s"injected crash at $step")
    try Try(body) finally Commits.failpoint = (_, _) => ()
  }

  /** The commit steps a crash is injected after: "staged" is before the
    * record, the others after it.
    */
  private val steps = Seq("staged", "recorded", "moved", "removed")

  /** Each frame's multisets after a clean write, once per (index, write). */
  private val clean = scala.collection.mutable.Map[(String, String), Seq[Map[Seq[Any], Int]]]()

  indexes.foreach { ix =>
    test(s"${ix.name}: a rewrite that dies in its staged copy leaves the " +
        "previous index; a load leaves the debris; the next retire drops it") {
      val (path, before, victim) = saved(ix)
      RewriteFault.action = () => throw new IllegalStateException("injected fault")
      val attempt =
        try Try(ix.retire(path, faulty(ix, path, victim)))
        finally RewriteFault.action = () => ()
      assert(injected(attempt), s"the injected fault must fail the rewrite: $attempt")
      assert(nothingPending(path), "a rewrite that throws drops its staging")
      // a writer that dies with its process leaves its staging: the
      // live index copied under a commit id no record names
      copyTree(Paths.get(path), Paths.get(path + ".pending", "dead-writer"))
      assert(rows(ix.probe(path)) == before, "the previous index must serve unchanged")
      assert(staging(path), "a load must leave the staging in place")

      ix.retire(path, ids(ix, victim))
      assert(nothingPending(path), "the next retire drops the debris")
      assert(!hits(ix, path).contains(victim), "the retire must land")
      ix.compact.foreach { compact =>
        val retired = rows(ix.probe(path))
        compact(path)
        assert(rows(ix.probe(path)) == retired, "compaction is probe-invisible")
        assert(nothingPending(path), "a commit leaves nothing pending")
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
        assert(staging(path), "a load must not remove a rewrite in progress")
      } finally {
        release.countDown()
        Try(Await.result(retire, 5.minutes))
        RewriteFault.action = () => ()
      }
      Await.result(retire, 1.second)
      assert(nothingPending(path) && !hits(ix, path).contains(victim),
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
      assert(nothingPending(path), "both rewrites committed")
      assert(rows(ix.probe(path)) == inTurn, "the second retire starts from the first's result")
    }

    // a save over the index, a retire and a compact, each crashed after
    // every commit step
    val rewrites: Seq[(String, (String, Long) => Unit)] = Seq(
      "save over the index" -> ((p: String, v: Long) => ix.resave(p, ids(ix, v))),
      "retire" -> ((p: String, v: Long) => ix.retire(p, ids(ix, v)))) ++
      ix.compact.map(c => "compact" -> ((p: String, _: Long) => c(p)))
    for ((op, write) <- rewrites; step <- steps) {
      val recorded = step != "staged"
      test(s"${ix.name}: a crash after '$step' in a $op: " +
          (if (recorded) "the next load equals the clean rewrite"
           else "the previous index serves, nothing pending")) {
        val (path, before, victim) = saved(ix)
        val want = clean.getOrElseUpdate((ix.name, op), {
          val copy = copyOf(path)
          write(copy, victim)
          multisets(ix, copy)
        })
        val was = savedSets.getOrElseUpdate(ix.name, multisets(ix, path))
        val attempt = crashingAt(path, step)(write(path, victim))
        assert(injected(attempt), s"the injected crash must fail the write: $attempt")
        if (recorded) assert(multisets(ix, path) == want, "the next load finishes the commit")
        else {
          assert(rows(ix.probe(path)) == before && multisets(ix, path) == was,
            "before the record the previous index serves")
          assert(nothingPending(path), "nothing is left pending")
        }
        assert(nothingPending(path))
      }
    }

    test(s"${ix.name}: a save over the index whose write throws mid-frame " +
        "leaves the previous index serving") {
      val (path, before, victim) = saved(ix)
      val was = savedSets.getOrElseUpdate(ix.name, multisets(ix, path))
      RewriteFault.action = () => throw new IllegalStateException("injected fault")
      val attempt =
        try Try(ix.resave(path, faulty(ix, path, victim)))
        finally RewriteFault.action = () => ()
      assert(injected(attempt), s"the injected fault must fail the save: $attempt")
      assert(rows(ix.probe(path)) == before && multisets(ix, path) == was,
        "the previous index serves")
      assert(nothingPending(path))
    }

    // a crash while the batch stages, then after each commit step; only
    // KnnIndex's append removes files (the cell directories it replaces)
    (Seq("staging", "staged", "recorded", "moved") ++
        (if (ix.name == "KnnIndex") Seq("removed") else Nil)).foreach { step =>
      val recorded = !Set("staging", "staged")(step)
      test(s"${ix.name}: an append crash " +
          (if (step == "staging") "while staging" else s"after '$step'") +
          (if (recorded) ": the next load finishes it" else ": the previous index serves") +
          "; a replay changes no rows") {
        val (path, before, _) = saved(ix)
        val clean = copyOf(path)
        ix.append(clean, ix.batch(identity))
        val want = multisets(ix, clean)
        val attempt =
          if (step == "staging") {
            RewriteFault.action = () => throw new IllegalStateException("injected fault")
            try Try(ix.append(path, ix.batch(appendGate)))
            finally RewriteFault.action = () => ()
          } else crashingAt(path, step)(ix.append(path, ix.batch(identity)))
        assert(injected(attempt), s"the injected crash must fail the append: $attempt")
        if (!recorded) {
          assert(rows(ix.probe(path)) == before, "before the record the previous index serves")
          ix.append(path, ix.batch(identity))
          assert(nothingPending(path), "the next write leaves no staging behind")
        }
        assert(multisets(ix, path) == want, "the index equals a clean append")
        assert(nothingPending(path), "the next load finishes the commit")
        if (ix.name == "KnnIndex")
          assert(KnnIndex.load(spark, path).vectors.groupBy("cell", "vec_id").count()
            .filter(col("count") > 1).isEmpty, "no member is held twice in a cell")
        ix.append(path, ix.batch(identity))
        assert(multisets(ix, path) == want, "a replayed batch changes no rows")
      }
    }

    test(s"${ix.name}: an append and a retire of one path both land, as if run in turn") {
      val (path, _, victim) = saved(ix)
      val inTurn = {
        val copy = copyOf(path)
        ix.append(copy, ix.batch(identity))
        ix.retire(copy, ids(ix, victim))
        rows(ix.probe(copy))
      }
      val staging = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val held = new AtomicBoolean(false)
      RewriteFault.action = () =>
        if (held.compareAndSet(false, true)) {
          staging.countDown()
          release.await(1, TimeUnit.MINUTES)
          ()
        }
      val append = Future(ix.append(path, ix.batch(appendGate)))(ExecutionContext.global)
      @volatile var retired: Try[Unit] = null
      val racer = new Thread(() => retired = Try(ix.retire(path, ids(ix, victim))))
      try {
        assert(staging.await(1, TimeUnit.MINUTES), "the append never staged its batch")
        racer.start()
        val deadline = System.nanoTime + 2.minutes.toNanos
        while (racer.isAlive && !waitsOnRewrite(racer) && System.nanoTime < deadline)
          Thread.sleep(20)
      } finally {
        release.countDown()
        Try(Await.result(append, 5.minutes))
        racer.join(5.minutes.toMillis)
        RewriteFault.action = () => ()
      }
      Await.result(append, 1.second)
      retired.get
      assert(rows(ix.probe(path)) == inTurn, "the retire starts from the append's result")
    }
  }

  test("DedupIndex: retiring every document leaves an index that loads and " +
      "probes empty; appending them back equals a fresh build") {
    val all = docs(0L -> textA, 1L -> textB, 2L -> textC)
    val q = docs(9L -> textA, 8L -> textB)
    val path = Files.createTempDirectory("graft_rewrite").toString + "/index"
    DedupIndex.save(DedupIndex.build(all), path)
    DedupIndex.retire(path, all.select("doc_id"))
    assert(DedupIndex.probe(DedupIndex.load(spark, path), q).isEmpty)
    DedupIndex.append(path, all)
    val fresh = Files.createTempDirectory("graft_rewrite").toString + "/index"
    DedupIndex.save(DedupIndex.build(all), fresh)
    val got = rows(DedupIndex.probe(DedupIndex.load(spark, path), q))
    assert(got.nonEmpty && got == rows(DedupIndex.probe(DedupIndex.load(spark, fresh), q)))
  }

  test("DedupIndex: retiring every document then compacting leaves an " +
      "index that loads and probes empty") {
    val all = docs(0L -> textA, 1L -> textB, 2L -> textC)
    val path = Files.createTempDirectory("graft_rewrite").toString + "/index"
    DedupIndex.save(DedupIndex.build(all), path)
    DedupIndex.retire(path, all.select("doc_id"))
    DedupIndex.compact(path, 2)
    assert(DedupIndex.load(spark, path).isEmpty)
    assert(DedupIndex.probe(DedupIndex.load(spark, path), docs(9L -> textA)).isEmpty)
  }

  test("DedupIndex: an index built from zero documents saves and loads") {
    val path = Files.createTempDirectory("graft_rewrite").toString + "/index"
    DedupIndex.save(DedupIndex.build(docs(0L -> textA).filter(lit(false))), path)
    assert(DedupIndex.load(spark, path).isEmpty)
    DedupIndex.append(path, docs(0L -> textA))
    assert(rows(DedupIndex.probe(DedupIndex.load(spark, path), docs(9L -> textA)))
      .map(_.take(2)) == Set(Seq(0L, 9L)))
  }

  // LmIndex's append merges into a rewrite of the whole model
  private def lmFrames(path: String): Seq[Set[Seq[Any]]] = {
    val m = LmIndex.load(spark, path)
    Seq(rows(m.bigrams), rows(m.vocab))
  }

  private lazy val lmSaved: String = {
    val p = Files.createTempDirectory("graft_rewrite").toString + "/model"
    LmIndex.save(spark, LmIndex.train(Tables.documents(spark, sf).filter(col("doc_id") % 2 === 0)), p)
    p
  }

  /** The saved model's frames, and those after a clean append. */
  private lazy val lmExpected: (Seq[Set[Seq[Any]]], Seq[Set[Seq[Any]]]) = {
    val copy = copyOf(lmSaved)
    val was = lmFrames(copy)
    lmAppend(copy)
    (was, lmFrames(copy))
  }

  private def lmAppend(path: String): Unit =
    LmIndex.append(spark, path, Tables.documents(spark, sf).filter(col("doc_id") % 2 === 1))

  steps.foreach { step =>
    val recorded = step != "staged"
    test(s"LmIndex: an append crash after '$step': " +
        (if (recorded) "the next load equals the clean merge"
         else "the previous model serves, nothing pending")) {
      val path = copyOf(lmSaved)
      val (was, want) = lmExpected
      val attempt = crashingAt(path, step)(lmAppend(path))
      assert(injected(attempt), s"the injected crash must fail the append: $attempt")
      assert(lmFrames(path) == (if (recorded) want else was))
      assert(nothingPending(path))
    }
  }
}
