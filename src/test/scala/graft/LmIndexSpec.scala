package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.LmIndex

/** The persistent reference-LM artifact: scoring under a loaded model
  * must equal scoring under the in-session aggregate to the q16 micro,
  * the loaded-consumer plan must never re-read the reference corpus,
  * append must equal retraining on the union, and torn or inconsistent
  * saves must refuse to load.
  */
class LmIndexSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf)

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_lmidx_$tag").toString + "/model"

  private def rows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("save/load roundtrip: loaded scores equal in-session scores to " +
      "the q16 micro, and equal the oracle-checked board query") {
    val dir = tmp("rt")
    val refDocs = docs.filter(col("doc_id") % 2 === 0)
    LmIndex.save(spark, LmIndex.train(refDocs), dir)
    val loaded = LmIndex.load(spark, dir)
    val got = rows(LmIndex.score(docs, loaded))
    assert(got.nonEmpty)
    assert(got == rows(LmIndex.score(docs, LmIndex.train(refDocs))),
      "loaded-model scores must equal in-session-trained scores")
    // the board op is the same kernel: its (doc_id, n_bigrams,
    // sum_bits_q16) triple must match the artifact cycle exactly
    val board = rows(run("lm_bigram_ref")
      .select(col("doc_id"), col("n_bigrams"), col("sum_bits_q16")))
    assert(got == board,
      "artifact-cycle scores must match the oracle-checked board query")
    Caches.releaseScope()
  }

  test("a loaded consumer reads only the target corpus and the model " +
      "frames — the reference corpus path does not appear in the plan") {
    val dir = tmp("plan")
    // train on a COPY of the corpus so reference scans are recognizable
    // by path: a loaded consumer's plan must reference the model dir,
    // never refCorpus
    val refCorpus = Files.createTempDirectory("graft_lmidx_ref").toString
    docs.filter(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$refCorpus/documents.parquet")
    LmIndex.save(spark,
      LmIndex.train(Tables.documents(spark, refCorpus)), dir)
    Caches.releaseScope()
    val scored = LmIndex.score(docs, LmIndex.load(spark, dir))
    scored.count()
    val p = plan(scored)
    assert(!p.contains(refCorpus),
      s"scoring under a loaded model must not rescan the reference " +
        s"corpus:\n$p")
    assert(p.contains(dir),
      s"the scoring plan should read the persisted model frames:\n$p")
  }

  test("unseen prefixes score log2(V) exactly (the uniform prior)") {
    import spark.implicits._
    // reference: "a b", "a c" → V = 2 continuations, c_prefix(a) = 2.
    // scoring doc "x y": prefix x unseen → bits = log2((0+2)/(0+1)) = 1
    // bit exactly = 65536 in q16.
    val ref = Seq((0L, "a b"), (2L, "a c")).toDF("doc_id", "text")
    val target = Seq((1L, "x y")).toDF("doc_id", "text")
    val got = rows(LmIndex.score(target, LmIndex.train(ref)))
    assert(got == Seq((1L, 1L, 65536L)),
      s"unseen-prefix bigram must cost exactly log2(V) = 1 bit: $got")
  }

  test("append equals retraining on the union, frame-exact") {
    val dir = tmp("app")
    val half = docs.filter(col("doc_id") % 4 === 0)
    val add = docs.filter(col("doc_id") % 4 === 2)
    LmIndex.save(spark, LmIndex.train(half), dir)
    LmIndex.append(spark, dir, add)
    val appended = LmIndex.load(spark, dir)
    val retrained = LmIndex.train(docs.filter(col("doc_id") % 2 === 0))
    def bg(r: LmIndex.Ref) =
      r.bigrams.orderBy(col("w1"), col("w2")).collect()
        .map(x => (x.getString(0), x.getString(1), x.getLong(2))).toSeq
    assert(bg(appended) == bg(retrained),
      "appended model must equal the union retrain bigram-for-bigram")
    assert(appended.vocab.head().getLong(0) ==
      retrained.vocab.head().getLong(0))
    Caches.releaseScope()
  }

  // ---- interpolated-backoff trigram model (r16) ----

  private def rows3(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select(col("doc_id"), col("n_trigrams"), col("sum_bits3_q16"))
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("trigram save3/load3 roundtrip: loaded scores equal in-session " +
      "scores and the oracle-checked board query") {
    val dir = tmp("rt3")
    val refDocs = docs.filter(col("doc_id") % 2 === 0)
    LmIndex.save3(spark, LmIndex.train3(refDocs), dir)
    val got = rows3(LmIndex.score3(docs, LmIndex.load3(spark, dir)))
    assert(got.nonEmpty)
    assert(got == rows3(LmIndex.score3(docs, LmIndex.train3(refDocs))),
      "loaded trigram model must score identically to in-session")
    val board = rows3(run("lm_trigram_ref"))
    assert(got == board,
      "artifact-cycle trigram scores must match the board query")
    Caches.releaseScope()
  }

  test("bigram and trigram models ORDER documents differently when " +
      "bigrams are common but the trigram context is novel") {
    import spark.implicits._
    // reference (even ids): "d b e" ×9, "a b c" ×3 — so bigram (b,e)
    // is 3× more frequent than (b,c), but the only trigram containing
    // (b,e) has context (d,b), never (a,b).
    val ref = ((0 until 9).map(i => (2L * i, "d b e")) ++
      (0 until 3).map(i => (18L + 2 * i, "a b c"))).toDF("doc_id", "text")
    // X = "a b e": both bigrams frequent (scores WELL under bigrams)
    // but trigram (a,b,e) unseen under a seen context (pays backoff).
    // Y = "a b c": rarer bigram (b,c) (scores worse under bigrams) but
    // the full trigram is in the reference (scores well).
    val x = Seq((1L, "a b e")).toDF("doc_id", "text")
    val y = Seq((3L, "a b c")).toDF("doc_id", "text")
    def meanBits2(t: DataFrame, r: LmIndex.Ref): Double = {
      val row = LmIndex.score(t, r).head()
      row.getAs[Long]("sum_bits_q16").toDouble /
        row.getAs[Long]("n_bigrams") / 65536.0
    }
    def meanBits3(t: DataFrame, r: LmIndex.Ref3): Double = {
      val row = LmIndex.score3(t, r).head()
      row.getAs[Long]("sum_bits3_q16").toDouble /
        row.getAs[Long]("n_trigrams") / 65536.0
    }
    val r2 = LmIndex.train(ref)
    val r3 = LmIndex.train3(ref)
    val (x2, y2) = (meanBits2(x, r2), meanBits2(y, r2))
    val (x3, y3) = (meanBits3(x, r3), meanBits3(y, r3))
    info(f"bigram: X $x2%.3f vs Y $y2%.3f; trigram: X $x3%.3f vs Y $y3%.3f")
    assert(x2 < y2, f"bigram model must prefer X ($x2%.3f !< $y2%.3f)")
    assert(x3 > y3, f"trigram model must prefer Y ($x3%.3f !> $y3%.3f) — " +
      "the context-sensitivity the bigram scorer cannot express")
    Caches.releaseScope()
  }

  test("append3 equals retraining on the union, frame-exact for BOTH " +
      "count frames") {
    val dir = tmp("app3")
    LmIndex.save3(spark,
      LmIndex.train3(docs.filter(col("doc_id") % 4 === 0)), dir)
    LmIndex.append3(spark, dir, docs.filter(col("doc_id") % 4 === 2))
    val appended = LmIndex.load3(spark, dir)
    val retrained = LmIndex.train3(docs.filter(col("doc_id") % 2 === 0))
    def tg(r: LmIndex.Ref3) =
      r.trigrams.orderBy(col("w1"), col("w2"), col("w3")).collect()
        .map(x => (x.getString(0), x.getString(1), x.getString(2),
          x.getLong(3))).toSeq
    def bg3(r: LmIndex.Ref3) =
      r.bigrams.orderBy(col("w1"), col("w2")).collect()
        .map(x => (x.getString(0), x.getString(1), x.getLong(2))).toSeq
    assert(tg(appended) == tg(retrained),
      "appended trigram frame must equal the union retrain")
    assert(bg3(appended) == bg3(retrained),
      "appended backoff bigram frame must equal the union retrain")
    Caches.releaseScope()
  }

  test("load3 refuses a trigram frame whose (w2, w3) marginal exceeds " +
      "the backoff bigram counts (frames from different corpora)") {
    import spark.implicits._
    val dir = tmp("marg3")
    LmIndex.save3(spark, LmIndex.train3(
      Seq((0L, "a b c d")).toDF("doc_id", "text")), dir)
    // corrupt: a trigram count the bigram frame cannot cover
    Seq(("a", "b", "c", 100L)).toDF("w1", "w2", "w3", "cnt")
      .write.mode("overwrite").parquet(s"$dir/trigrams")
    val ex = intercept[IllegalStateException] { LmIndex.load3(spark, dir) }
    assert(ex.getMessage.contains("marginals exceed"))
    Caches.releaseScope()
  }

  test("torn save refuses to load; an inconsistent vocab refuses to " +
      "load; an interrupted append swap rolls back to the live model") {
    val dir = tmp("torn")
    val ref = LmIndex.train(docs.filter(col("doc_id") % 2 === 0))
    LmIndex.save(spark, ref, dir)
    val before = LmIndex.load(spark, dir)
      .bigrams.count()
    // torn save: marker incomplete
    spark.range(1).select(lit(false).as("complete"))
      .write.mode("overwrite").parquet(s"$dir/complete")
    intercept[IllegalStateException] { LmIndex.load(spark, dir) }
    spark.range(1).select(lit(true).as("complete"))
      .write.mode("overwrite").parquet(s"$dir/complete")
    // inconsistent vocab: stored v drifted from the bigram frame
    spark.range(1).select(lit(999999L).as("v"))
      .write.mode("overwrite").parquet(s"$dir/vocab")
    intercept[IllegalStateException] { LmIndex.load(spark, dir) }
    spark.read.parquet(s"$dir/bigrams")
      .agg(countDistinct(col("w2")).as("v"))
      .write.mode("overwrite").parquet(s"$dir/vocab")
    // an append that dies once its merge is staged: the next load
    // serves the intact live model and nothing is left staged; the
    // next append lands
    val root = new org.apache.hadoop.fs.Path(dir).toString
    graft.operators.Commits.failpoint = (p, s) =>
      if (p == root && s == "staged") throw new IllegalStateException("injected crash")
    try intercept[IllegalStateException] {
      LmIndex.append(spark, dir, docs.filter(col("doc_id") % 2 === 1))
    } finally graft.operators.Commits.failpoint = (_, _) => ()
    assert(LmIndex.load(spark, dir).bigrams.count() == before,
      "interrupted append must leave the previous complete model")
    assert(Files.list(Paths.get(dir + ".pending")).count() == 0,
      "an interrupted append leaves nothing staged")
    LmIndex.append(spark, dir, docs.filter(col("doc_id") % 2 === 1))
    assert(LmIndex.load(spark, dir).bigrams.count() > before,
      "the next append lands")
    Caches.releaseScope()
  }

  test("a model an earlier build left mid-swap is refused; its " +
      "siblings are never read or deleted") {
    val dir = tmp("swap")
    LmIndex.save(spark, LmIndex.train(docs.filter(col("doc_id") % 2 === 0)), dir)
    // that build's swap, between its two renames: the live model
    // displaced to .old, a complete staged copy not yet promoted
    val live = Paths.get(dir)
    Files.walk(live).forEach(p =>
      Files.copy(p, Paths.get(dir + ".staged").resolve(live.relativize(p))))
    Files.move(live, Paths.get(dir + ".old"))
    val e = intercept[IllegalStateException] { LmIndex.load(spark, dir) }
    assert(e.getMessage.contains("no completion marker"), e.getMessage)
    assert(Files.exists(Paths.get(dir + ".staged")) && Files.exists(Paths.get(dir + ".old")),
      "a load must leave both siblings")
    Caches.releaseScope()
  }

  // ---- interpolated Kneser-Ney scoring (r16, C29) ----

  test("lm_trigram_kn: the San-Francisco property — a word frequent " +
      "in ONE context prices worse after a novel context than a " +
      "rarer word with many contexts; raw frequency would invert it") {
    import spark.implicits._
    import graft.operators.TextOps
    // reference half (even ids): 'francisco' occurs 12 times, ONLY
    // after 'san' (continuation count 1); 'cat' occurs 6 times after
    // 6 DISTINCT words (continuation count 6). Raw frequency says
    // francisco (12) > cat (6) — a frequency-backoff model prices an
    // unseen-context francisco BETTER; Kneser-Ney's continuation
    // counts price it WORSE, the published motivation for the method.
    val preceders = Seq("the", "a", "my", "his", "her", "our")
    val docs = (
      (0 until 12).map(i => (i * 2L, "san francisco bay")) ++
      preceders.zipWithIndex.map { case (w, i) =>
        ((12 + i) * 2L, s"$w cat ran") } ++
      Seq((41L, "qq zz francisco"),  // unseen context, 1-context word
          (43L, "qq zz cat"),        // unseen context, 6-context word
          (45L, "san francisco bay")) // fully-seen trigram
    ).toDF("doc_id", "text")
    val out = TextOps.knScore(docs).collect()
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    val mb = (id: Long) => byId(id).getAs[Double]("mean_bits")
    assert(out.forall(_.getAs[Long]("n_trigrams") >= 1L))
    // the KN ordering: novel-context francisco > novel-context cat
    assert(mb(41L) > mb(43L),
      s"KN must price 1-context francisco (${mb(41L)}) worse than " +
        s"6-context cat (${mb(43L)}) after an unseen context")
    // and the seen trigram is by far the cheapest
    assert(mb(45L) < mb(43L),
      "a reference-seen trigram must underprice every backoff path")
    // all bits positive and finite (the Q32 floor guard: P ≥ 1)
    assert(out.forall(r => r.getAs[Double]("mean_bits") > 0.0))
    Caches.releaseScope()
  }

  test("lm_trigram_kn plan: model frames are type-set reaggregations; " +
      "no cartesian; the log kernel rides the scoring join") {
    val df = run("lm_trigram_kn")
    df.count()
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), "no all-pairs fallback")
    assert(p.contains("log2_q16"), s"Q16 log kernel missing:\n$p")
    val globalSorts = "Sort \\[[^\\]]*\\], true".r.findAllIn(p).size
    assert(globalSorts <= 1,
      s"only the deterministic output sort may be global:\n$p")
    Caches.releaseScope()
  }

  test("forCorpusRefHalf: the loaded per-corpus Ref3 artifact scores " +
      "row-for-row identical to the inline-trained model for all " +
      "three trigram scorers (r19, the artifact-warm path)") {
    import org.apache.spark.sql.functions.col
    val d = sf
    val docs = Tables.documents(spark, d)
    operators.Artifact.clearMemos()
    val loaded = operators.LmIndex.forCorpusRefHalf(spark, d)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.orderBy(col("doc_id")).collect().map(_.toSeq.toSeq).toSeq
    // C27: scoreCounts3 under loaded vs inline-trained even half
    val doctg = Caches.persist(operators.LmIndex.trigramCounts(docs))
    val inline = operators.LmIndex.train3(
      docs.filter(col("doc_id") % 2 === 0))
    assert(rows(operators.LmIndex.scoreCounts3(doctg, loaded)) ==
      rows(operators.LmIndex.scoreCounts3(doctg, inline)),
      "C27 scoring must not depend on where the model came from")
    // C29 / C37: the model-threaded scorers vs their inline bodies
    assert(rows(operators.TextOps.knScore(docs, Some(loaded))) ==
      rows(operators.TextOps.knScore(docs)),
      "C29 loaded-model scoring drifted from the inline aggregation")
    assert(rows(operators.TextOps.mknScore(docs, Some(loaded))) ==
      rows(operators.TextOps.mknScore(docs)),
      "C37 loaded-model scoring drifted from the inline aggregation")
    Caches.releaseScope()
  }
}
