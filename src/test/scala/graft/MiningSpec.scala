package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** E18 margin-based bitext mining + C28 min-k% membership scan + C29
  * tokenizer fertility — the r16 session-4 adds. Planted corpora pin
  * the semantics the oracle can't express as an invariant: hub
  * demotion (the reason margin exists), exact min-k multiset
  * arithmetic, and member-vs-nonmember separation.
  */
class MiningSpec extends SparkSpec {

  private def unit64(deg: Double): Seq[Float] = {
    val r = math.toRadians(deg)
    (math.cos(r).toFloat +: math.sin(r).toFloat +:
      Seq.fill(62)(0.0f))
  }

  /** A hub corpus on the 2-D unit circle (dims 0-1 of 64): four even
    * "source" vectors cluster within ±8° of the odd HUB at 0° (raw
    * cosine ≥ .99 to all of them), while the genuine pair
    * (20 even @90°, 21 odd @96°) sits isolated at raw cosine .9945 —
    * BELOW the hub's best. Margin must invert that: the hub's high
    * neighborhood average cancels its raw cosine, the isolated pair's
    * doesn't. vec_id 8 exists for the cells=1 coarse seed slice.
    */
  lazy val hubDir: String = {
    val dir = Files.createTempDirectory("graft_bitext").toString
    val rows = Seq(
      (8L, unit64(270), 0), (9L, unit64(200), 0),
      (10L, unit64(-8), 0), (11L, unit64(210), 0),
      (12L, unit64(-4), 0), (14L, unit64(4), 0),
      (15L, unit64(0), 0), // the hub (odd side)
      (16L, unit64(8), 0),
      (20L, unit64(90), 0), (21L, unit64(96), 0))
    spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("emb_bitext_mine: margin demotes the hub — the genuine isolated " +
      "pair out-margins every hub pairing despite a LOWER raw cosine") {
    operators.Artifact.clearMemos()
    val out = operators.BitextOps.mineAt(spark, hubDir, 1, None).collect()
    assert(out.nonEmpty && out.length <= 6, s"rows ${out.length}")
    // forward mining: one target per source, even -> odd only
    val srcs = out.map(_.getAs[Long]("src_id"))
    assert(srcs.distinct.length == srcs.length)
    out.foreach { r =>
      assert(r.getAs[Long]("src_id") % 2 == 0 &&
        r.getAs[Long]("tgt_id") % 2 == 1, r.toString)
    }
    val byKey = out.map(r => (r.getAs[Long]("src_id"),
      r.getAs[Long]("tgt_id")) ->
      (r.getAs[Long]("cos_micros"), r.getAs[Long]("margin_micros"))).toMap
    // the genuine pair is mined, with the top margin overall
    assert(byKey.contains((20L, 21L)), s"mined: ${byKey.keySet}")
    val (gCos, gMargin) = byKey((20L, 21L))
    assert(out.forall(_.getAs[Long]("margin_micros") <= gMargin))
    // ... even though its raw cosine (~.9945) is BELOW the hub's best
    // cluster cosine (~.9976): raw-cosine mining would keep hub pairs
    // ranked above it, margin mining does not
    assert(gCos < 997000L, s"genuine raw cos $gCos")
    byKey.foreach { case ((_, tgt), (cos, margin)) =>
      if (tgt == 15L) {
        assert(cos > gCos, s"hub raw cos $cos should beat the pair's")
        assert(margin < gMargin - 100000L,
          s"hub margin $margin not demoted vs genuine $gMargin")
      }
    }
  }

  test("emb_bitext_mine: board run mines cross-side forward-best pairs " +
      "under the corpus geometry") {
    val out = run("emb_bitext_mine").collect()
    assert(out.nonEmpty)
    val srcs = out.map(_.getAs[Long]("src_id"))
    assert(srcs.distinct.length == srcs.length,
      "more than one mined target for a source")
    out.foreach { r =>
      assert(r.getAs[Long]("src_id") % 2 == 0 &&
        r.getAs[Long]("tgt_id") % 2 == 1, r.toString)
    }
  }

  /** Even docs are the reference model's training half; doc 1/3 carry
    * only never-seen bigrams (every prefix unseen → each bigram prices
    * exactly log2(V) = log2(2) = 1.0 bit), doc 5 mixes seen and unseen.
    */
  lazy val minkDir: String = {
    val dir = Files.createTempDirectory("graft_mink").toString
    val docs = Seq(
      (0L, "alpha beta gamma", "en", "s0", 1L),
      (1L, "p q r s t u v w x", "en", "s1", 1L),
      (2L, "alpha beta gamma", "en", "s2", 1L),
      (3L, "m m m", "en", "s3", 1L),
      (4L, "alpha beta gamma", "en", "s4", 1L),
      (5L, "alpha beta gamma alpha beta", "en", "s5", 1L))
    spark.createDataFrame(docs)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  test("lm_mink_scan: exact min-k arithmetic — unseen bigrams price " +
      "log2(V) each, multiplicity counts, members score under " +
      "non-members and flag as suspect") {
    val r = run("lm_mink_scan", minkDir).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r.keySet == Set(0L, 1L, 2L, 3L, 4L, 5L))
    // all-unseen docs: every bigram bits = log2(V=2) = 65536 q16 exactly
    assert(r(1L).getAs[Long]("n_bigrams") == 8L)
    assert(r(1L).getAs[Long]("mink_mean_q16") == 65536L)
    // multiset multiplicity: "m m m" is ONE distinct bigram at c=2
    assert(r(3L).getAs[Long]("n_bigrams") == 2L)
    assert(r(3L).getAs[Long]("mink_mean_q16") == 65536L)
    assert(r(3L).getAs[Long]("mink_sum_q16") == 2L * 65536L)
    // members (the training half): identical docs, identical scores,
    // strictly cheaper than the unseen docs even at their worst tokens
    val member = r(0L).getAs[Long]("mink_mean_q16")
    assert(member == r(2L).getAs[Long]("mink_mean_q16"))
    assert(member == r(4L).getAs[Long]("mink_mean_q16"))
    assert(member < 65536L)
    // doc 5: 3 seen bigrams at the member's bits b + 1 unseen at 65536,
    // k-tail covers all 4 → mean = (3b + 65536) div 4 (the greedy
    // consumption identity, checkable without reimplementing the log)
    assert(r(5L).getAs[Long]("mink_mean_q16") ==
      (3L * member + 65536L) / 4L)
    // membership detection: the member half flags, the unseen docs don't
    assert(r(0L).getAs[Boolean]("suspect"))
    assert(!r(1L).getAs[Boolean]("suspect"))
    assert(!r(3L).getAs[Boolean]("suspect"))
  }

  test("lm_mink_scan: on the gate corpus the reference half scores " +
      "below the held-out half (the membership signal)") {
    val rows = run("lm_mink_scan").collect()
    val (ref, non) = rows.partition(_.getAs[Boolean]("is_ref"))
    assert(ref.nonEmpty && non.nonEmpty)
    def meanBits(rs: Array[org.apache.spark.sql.Row]): Double =
      rs.map(_.getAs[Double]("mink_bits")).sum / rs.length
    assert(meanBits(ref) < meanBits(non),
      s"ref ${meanBits(ref)} !< non ${meanBits(non)}")
    def rate(rs: Array[org.apache.spark.sql.Row]): Double =
      rs.count(_.getAs[Boolean]("suspect")).toDouble / rs.length
    assert(rate(ref) >= rate(non), s"${rate(ref)} < ${rate(non)}")
  }

  test("tokenizer_fertility: per-language totals are exact and the " +
      "ratios recompute from the emitted sums") {
    val dir = Files.createTempDirectory("graft_fert").toString
    val docs = Seq(
      (0L, "the and of to is the and", "en", "s0", 1L),
      (1L, "the and of to is again", "en", "s1", 1L),
      (2L, "le la et les des", "fr", "s2", 1L))
    spark.createDataFrame(docs)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val rows = run("tokenizer_fertility", dir).collect()
      .map(r => r.getAs[String]("pred_lang") -> r).toMap
    assert(rows.keySet == Set("en", "fr"))
    assert(rows("en").getAs[Long]("n_docs") == 2L)
    assert(rows("en").getAs[Long]("n_words") == 13L)
    assert(rows("fr").getAs[Long]("n_docs") == 1L)
    assert(rows("fr").getAs[Long]("n_words") == 5L)
    // ASCII corpus: bytes == characters
    assert(rows("en").getAs[Long]("n_bytes") == (24L + 22L))
    rows.values.foreach { r =>
      assert(r.getAs[Double]("fertility") ==
        r.getAs[Long]("n_bpe").toDouble / r.getAs[Long]("n_words"))
      assert(r.getAs[Double]("bytes_per_token") ==
        r.getAs[Long]("n_bytes").toDouble / r.getAs[Long]("n_bpe"))
      assert(r.getAs[Long]("n_bpe") >= 1L)
    }
  }

  test("tokenizer_fertility: language groups partition the corpus") {
    val rows = run("tokenizer_fertility").collect()
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == Tables.documents(spark, sf).count())
  }
}
