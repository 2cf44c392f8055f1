package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.UnigramLm

/** The unigram-LM (SentencePiece-family) trainer: hard-EM piece
  * selection must prefer whole pieces over their character spellings
  * on planted multi-segmentation words, encode must be the exact
  * consumer twin of the training E-step (no-OOV closure included),
  * pricing must consume the artifact join-only, and the artifact must
  * save/load/refuse under the standard marker discipline.
  */
class UnigramLmSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_uglm_$tag").toString + "/model"

  /** A corpus whose Zipf head is the word "xy" — the canonical
    * multi-segmentation plant: "xy" can spell as [xy] or [x, y].
    */
  private lazy val planted: UnigramLm.Model =
    UnigramLm.trainFromCounts(Seq("xy" -> 100L, "z" -> 50L))

  test("planted multi-segmentation word: the whole piece beats its " +
      "character spelling (equal usage, one cost vs two)") {
    // candidates: x, y, z, xy — "xy" usage ties the singles' so the
    // single-piece path [xy] strictly undercuts [x, y] (one smoothed
    // cost vs two); EM must settle on it
    assert(UnigramLm.encodeWith(planted, "xy") == Vector("xy"))
    // the EM must also have starved the now-unused singles x, y
    val u = planted.pieces.map(p => p._1 -> p._2).toMap
    assert(u("xy") == 100L, s"piece usage drifted: $u")
    assert(u("x") == 0L && u("y") == 0L,
      s"hard-EM usage must move wholly to the chosen segmentation: $u")
  }

  test("encode is the E-step twin: every trained word's stored " +
      "segmentation equals a fresh encode") {
    val m = UnigramLm.train(Tables.documents(spark, sf))
    assert(m.vocab.nonEmpty)
    m.vocab.take(200).foreach { case (w, seg) =>
      assert(UnigramLm.encodeWith(m, w) == seg,
        s"stored segmentation of '$w' diverges from encode")
    }
    Caches.releaseScope()
  }

  test("no-OOV closure: unseen words segment (reversed pieces, unseen " +
      "code points) and never price as zero") {
    // "yx" reverses the trained piece — no "yx" candidate, so it must
    // fall back to the single-cp spelling
    assert(UnigramLm.encodeWith(planted, "yx") == Vector("y", "x"))
    // "qx": q never appeared in training at all — the u=0 smoothed
    // fallback prices it as its own piece
    assert(UnigramLm.encodeWith(planted, "qx") == Vector("q", "x"))
  }

  test("priceDocuments: artifact-consumer pricing with the OOV " +
      "code-point fallback, one scan + broadcast join") {
    val docs = Seq(
      (1L, "xy xy z"), // 1 + 1 + 1 pieces
      (2L, "yx"), // OOV word -> 2 code points
      (3L, "xy qqq") // 1 + 3 (OOV word 'qqq' prices as cp count)
    ).toDF("doc_id", "text")
    val got = UnigramLm.priceDocuments(docs, planted).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_unigram"))
      .toMap
    assert(got == Map(1L -> 3L, 2L -> 2L, 3L -> 4L), s"got $got")
    Caches.releaseScope()
  }

  test("board query shape: ranks dense from 1, usage non-increasing, " +
      "costs consistent with usage order") {
    val rows = run("text_unigram_train").collect()
    assert(rows.nonEmpty && rows.length <= UnigramLm.OutK)
    val ranks = rows.map(_.getAs[Long]("rank"))
    assert(ranks.toSeq == (1L to rows.length).toSeq)
    val us = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("usage"))
    assert(us.zip(us.tail).forall { case (a, b) => a >= b },
      "usage must be non-increasing in rank")
    // higher usage => lower (or equal, on the Q16 grid) cost
    val cs = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("cost_q16"))
    us.zip(cs).toSeq.sliding(2).foreach {
      case Seq((u1, c1), (u2, c2)) =>
        if (u1 > u2) assert(c1 <= c2, s"cost not monotone: $u1/$c1 vs $u2/$c2")
      case _ =>
    }
    Caches.releaseScope()
  }

  test("text_unigram_count: per-doc price equals the model's own " +
      "segmentation lengths (OOV + residual included) and a warm " +
      "re-run trains zero times") {
    operators.Artifact.clearMemos()
    val rows = run("text_unigram_count").collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    // internal consistency: recompute each doc's price from the
    // memoized model driver-side (vocab segmentation lengths, cpLen
    // fallback for out-of-cap words, residual non-letters)
    val model = UnigramLm.forCorpus(spark, sf)
    val segLen = model.vocab.map { case (w, seg) => w -> seg.length }.toMap
    val texts = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val got = rows.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("n_unigram")).toMap
    got.foreach { case (id, n) =>
      val t = texts(id)
      val m = java.util.regex.Pattern.compile("\\p{L}+")
        .matcher(t.toLowerCase)
      var words = 0L
      val sb = new StringBuilder(t.toLowerCase)
      while (m.find()) {
        val w = m.group()
        words += segLen.getOrElse(w, w.codePointCount(0, w.length)).toLong
        (m.start() until m.end()).foreach(i => sb.setCharAt(i, ' '))
      }
      val resid = sb.toString.codePoints().toArray
        .count(c => !Character.isWhitespace(c)).toLong
      assert(n == words + resid, s"doc $id: engine $n != $words + $resid")
    }
    // warm re-run: the memo serves the model, the EM loop never re-runs
    val before = UnigramLm.trainRuns.get()
    run("text_unigram_count").collect()
    assert(UnigramLm.trainRuns.get() == before,
      "a warm text_unigram_count re-ran the EM trainer")
    Caches.releaseScope()
  }

  test("artifact save/load roundtrip, torn-save and wrong-dial refusal") {
    val dir = tmp("rt")
    UnigramLm.save(spark, planted, dir)
    val loaded = UnigramLm.load(spark, dir)
    assert(loaded.pieces.toSet == planted.pieces.toSet)
    assert(loaded.tot == planted.tot && loaded.v == planted.v)
    assert(loaded.vocab.toMap == planted.vocab.toMap)
    assert(UnigramLm.encodeWith(loaded, "xy") == Vector("xy"))
    spark.range(1).select(lit(false).as("complete"))
      .write.mode("overwrite").parquet(s"$dir/complete")
    assert(intercept[IllegalStateException] {
      UnigramLm.load(spark, dir)
    }.getMessage.contains("partial save"))
    spark.range(1).select(lit(true).as("complete"))
      .write.mode("overwrite").parquet(s"$dir/complete")
    spark.range(1).select(lit(planted.tot).as("tot"), lit(planted.v).as("v"),
      lit(99).as("max_piece"), lit(UnigramLm.Rounds).as("rounds"))
      .write.mode("overwrite").parquet(s"$dir/config")
    assert(intercept[IllegalStateException] {
      UnigramLm.load(spark, dir)
    }.getMessage.contains("max piece length"))
    Caches.releaseScope()
  }

  test("scaled dials: the gate path IS trainFromCountsAt at the board " +
      "dials; raised caps keep the closure and widen the vocabulary") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val wcapBoard = UnigramLm.cappedWordCounts(docs)
    val wcapWide = UnigramLm.cappedWordCountsAt(docs, 1 << 20)
    // parity: the board model and the explicit-dial call are one path
    val a = UnigramLm.trainFromCounts(wcapBoard)
    val b = UnigramLm.trainFromCountsAt(wcapBoard, UnigramLm.CandCap,
      UnigramLm.Rounds)
    assert(a.pieces == b.pieces && a.tot == b.tot && a.v == b.v &&
      a.vocab == b.vocab, "explicit dials must reproduce the gate path")
    // raised caps: full head, 4x candidates - still every single code
    // point present (the no-OOV closure) and every word segments under
    // the trained costs
    val wide = UnigramLm.trainFromCountsAt(wcapWide, 2048, 2)
    val singles = wcapWide.flatMap(_._1.codePoints().toArray.toSeq)
      .map(cp => new String(Character.toChars(cp))).toSet
    val pieceSet = wide.pieces.map(_._1).toSet
    assert(singles.subsetOf(pieceSet), "single-cp closure lost at scale")
    // the gate corpus SATURATES below the board cap (every distinct
    // substring is already a candidate), so the dial proves itself in
    // the binding direction: a tightened cap must narrow the vocabulary
    // while the closure keeps every word segmentable
    val narrow = UnigramLm.trainFromCountsAt(wcapWide, 64, 2)
    assert(narrow.pieces.size < wide.pieces.size,
      s"candidate cap must bind (${narrow.pieces.size} vs " +
        s"${wide.pieces.size})")
    assert(wide.pieces.size >= a.pieces.size)
    assert(wide.vocab.forall(_._2.nonEmpty) &&
      narrow.vocab.forall(_._2.nonEmpty),
      "every capped word must still segment")
    Caches.releaseScope()
  }

  test("production dials (r18 ask #8): the 262k-word / 32k-candidate " +
      "model keeps the no-OOV closure and prices the gate corpus " +
      "identically to a driver-side recomputation") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val wcap = UnigramLm.cappedWordCountsAt(docs, 262144)
    val prod = UnigramLm.trainFromCountsAt(wcap, 32768, 2)
    val singles = wcap.flatMap(_._1.codePoints().toArray.toSeq)
      .map(cp => new String(Character.toChars(cp))).toSet
    assert(singles.subsetOf(prod.pieces.map(_._1).toSet),
      "single-cp closure lost at the production dials")
    assert(prod.vocab.forall(_._2.nonEmpty),
      "every capped word must segment under the production model")
    // engine pricing (join-only consumer plan) ≡ pricing the same
    // words driver-side through the trained vocab
    val got = UnigramLm.priceDocuments(docs, prod).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_unigram"))
      .toMap
    val vl = prod.vocab.map { case (w, seg) => w -> seg.length.toLong }
      .toMap
    val want = docs
      .select(col("doc_id"),
        call_function("bpe_residual", col("text")).as("resid"),
        call_function("bpe_words", col("text")).as("ws"))
      .collect()
      .map { r =>
        val ws = r.getAs[scala.collection.Seq[String]]("ws")
        r.getAs[Long]("doc_id") ->
          (ws.map(w => vl.getOrElse(w,
            w.codePointCount(0, w.length).toLong)).sum +
            r.getAs[Long]("resid"))
      }.toMap
    assert(got == want,
      "engine pricing must equal the driver-side recomputation at " +
        "the production dials")
    Caches.releaseScope()
  }
}
