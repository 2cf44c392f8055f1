package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{PipelineOps, TokenizerIndex}

/** The persistent learned-BPE artifact: the driver-local training
  * engine is byte-identical to C14's distributed loop, the artifact
  * survives save/load, and the C14b consumer prices documents with a
  * scan-shaped plan instead of retraining.
  */
class TokenizerIndexSpec extends SparkSpec {

  private def mergesOf(l: TokenizerIndex.Learned) = l.merges
  private def vocabOf(l: TokenizerIndex.Learned) =
    l.vocab.collect().map(r => (r.getAs[String]("w"), r.getAs[String]("s"),
      r.getAs[Long]("c"))).sortBy(_._1).toSeq

  test("local and distributed training are byte-identical (merges AND vocab)") {
    val words = Caches.persist(TokenizerIndex.wordCounts(spark, sf))
    val dist = TokenizerIndex.trainDistributed(spark, words, 32)
    val local = TokenizerIndex.trainLocal(spark,
      words.collect().toIndexedSeq
        .map(r => r.getAs[String]("w") -> r.getAs[Long]("c")), 32)
    assert(mergesOf(local) == mergesOf(dist),
      "the two engines must learn the same merge table")
    assert(vocabOf(local) == vocabOf(dist),
      "and leave every word with the same tokenization")
    Caches.releaseScope()
  }

  test("merge application is the standard greedy left-to-right scan") {
    // back-to-back occurrences ALL merge in one round — the textbook
    // scan, matching Bpe.encode's one-merge-per-step outcome
    assert(TokenizerIndex.applyMerge("a b a b", "a", "b") == "ab ab")
    assert(TokenizerIndex.applyMerge("a b c a b", "a", "b") == "ab c ab")
    assert(TokenizerIndex.applyMerge("x y", "a", "b") == "x y")
    assert(graft.functions.Bpe.encode("thth").mkString(" ") == "th th")
    assert(TokenizerIndex.applyMerge("t h t h", "t", "h") == "th th")
    // self-merge runs consume greedily left to right: aaaaa → aa aa a
    // (NOT the space-sharing replace artifact "aa a aa")
    assert(TokenizerIndex.applyMerge("a a a a a", "a", "a") == "aa aa a")
    assert(TokenizerIndex.applyMerge("a a a a", "a", "a") == "aa aa")
    assert(TokenizerIndex.applyMerge("a", "a", "a") == "a")
  }

  test("distributed merge application equals the local scan on adversarial symbol runs") {
    import spark.implicits._
    // the doubled-space replace trick must equal the symbol-array scan
    // on exactly the shapes where single-space replace diverged:
    // shared-boundary repeats and odd self-merge runs
    val words = Seq("abab", "ababab", "aaaaa", "aaaa", "banana", "xy", "a")
    val wc = words.map(_ -> 1L)
    for (k <- Seq(1, 2, 3)) {
      val local = TokenizerIndex.trainLocal(spark, wc, k)
      val dist = TokenizerIndex.trainDistributed(spark,
        wc.toDF("w", "c"), k)
      assert(mergesOf(local) == mergesOf(dist), s"k=$k merge tables differ")
      assert(vocabOf(local) == vocabOf(dist),
        s"k=$k tokenizations differ between engines")
    }
    Caches.releaseScope()
  }

  test("encode parity: priceDocuments equals Bpe.encodeWith under the exported table") {
    import graft.functions.Bpe
    // a crafted repeat-pair corpus: shared-boundary repeats, self-merge
    // runs, and a word that chains merges — the exact shapes where the
    // old replace-variant disagreed with standard BPE
    val wc = Seq("abab" -> 3L, "ab" -> 5L, "aaaa" -> 2L, "aaaaa" -> 2L,
      "banana" -> 4L, "an" -> 1L)
    val learned = TokenizerIndex.trainLocal(spark, wc, 4)
    val table = learned.merges.map(m => (m._2, m._3))
    // every learned tokenization IS the standard-BPE piece sequence
    learned.vocab.collect().foreach { r =>
      val w = r.getAs[String]("w")
      val s = r.getAs[String]("s").split(' ').toVector
      val enc = Bpe.encodeWith(w, table)
      assert(s == enc,
        s"'$w': trained pieces $s != standard encode $enc (table $table)")
    }
    // and the document pricing matches token-for-token
    import spark.implicits._
    val docs = Seq((0L, "abab ab!"), (1L, "aaaaa banana"), (2L, "zq"))
      .toDF("doc_id", "text")
    val priced = TokenizerIndex.priceDocuments(docs, learned).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def price(ws: Seq[String], resid: Long) =
      ws.map {
        case w if wc.exists(_._1 == w) => Bpe.encodeWith(w, table).length.toLong
        case w => w.codePointCount(0, w.length).toLong // OOV fallback
      }.sum + resid
    assert(priced(0L) == price(Seq("abab", "ab"), 1L), s"got $priced")
    assert(priced(1L) == price(Seq("aaaaa", "banana"), 0L), s"got $priced")
    assert(priced(2L) == 2L, s"OOV-only doc: got $priced")
  }

  test("argmax ties break UTF-8-bytewise, not UTF-16 (supplementary plane)") {
    val uFFFF = "￿"
    val u10000 = new String(Character.toChars(0x10000))
    // Java's native String order puts the surrogate pair first —
    // using it would pick a different merge than Spark/DuckDB on a tie
    assert(u10000.compareTo(uFFFF) < 0)
    assert(TokenizerIndex.utf8Less(uFFFF, u10000),
      "UTF-8 bytes order U+FFFF below U+10000, as both engines do")
    assert(!TokenizerIndex.utf8Less(u10000, uFFFF))
    assert(TokenizerIndex.utf8Less("a", "ab") && !TokenizerIndex.utf8Less("ab", "a"))
  }

  test("end-to-end standard-BPE pricing on a crafted corpus") {
    import spark.implicits._
    // corpus vocabulary: ab(x2), abab, x — round 1 learns (a,b) with
    // weight 4; 'abab' becomes 'ab ab' (standard scan: 2 pieces)
    val learned = TokenizerIndex.trainLocal(spark,
      Seq("ab" -> 2L, "abab" -> 1L, "x" -> 1L), 1)
    assert(mergesOf(learned) == Vector((0L, "a", "b", 4L)))
    val docs = Seq((0L, "ab ab"), (1L, "abab x!")).toDF("doc_id", "text")
    val got = TokenizerIndex.priceDocuments(docs, learned).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 0: ab + ab = 2; doc 1: abab(2) + x(1) + !(1)
    assert(got == Map(0L -> 2L, 1L -> 4L), s"got $got")
  }

  test("OOV words price as their code-point count, never 0") {
    import spark.implicits._
    // train on a corpus that has never seen 'zqzqzqzqzq' or 'δδδ'
    val learned = TokenizerIndex.trainLocal(spark,
      Seq("ab" -> 2L, "abab" -> 1L), 1)
    val docs = Seq(
      (0L, "ab zqzqzqzqzq"),   // in-vocab word + 10-letter unseen word
      (1L, "δδδ"),             // unseen non-ASCII: 3 code points
      (2L, "zq ab")            // unseen 2-letter + in-vocab
    ).toDF("doc_id", "text")
    val got = TokenizerIndex.priceDocuments(docs, learned).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 0: ab(1) + 10 OOV code points + 1 space residual... residual
    // counts non-word chars; the space is 1 → 1 + 10 + 1
    val words0 = 1L + 10L
    assert(got(0L) >= words0,
      s"an unseen 10-letter word must price as 10, not 0: $got")
    assert(got(1L) >= 3L, s"unseen non-ASCII word prices per code point: $got")
    assert(got(2L) >= 3L, s"got $got")
    // exact per-word check without residual noise: single-word docs
    val bare = Seq((10L, "zqzqzqzqzq"), (11L, "ab")).toDF("doc_id", "text")
    val g2 = TokenizerIndex.priceDocuments(bare, learned).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g2(10L) - g2(11L) == 9L,
      s"OOV word = 10 code points vs learned 'ab' = 1 token: $g2")
  }

  test("k=512 trains locally in seconds at sf0.1; k=32 prefix is the distributed table") {
    val big = "/root/testdata/sf0.1"
    val words = Caches.persist(TokenizerIndex.wordCounts(spark, big))
    val wc = words.collect().toIndexedSeq
      .map(r => r.getAs[String]("w") -> r.getAs[Long]("c"))
    val t0 = System.nanoTime()
    val local = TokenizerIndex.trainLocal(spark, wc, 512)
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"k=512 local training over ${wc.size} words: $secs%.2f s")
    assert(secs < 30.0, f"driver-local training must stay in seconds ($secs%.1f)")
    assert(local.merges.length == 512 ||
      local.merges.length < 512, "loop may dry up, never overrun")
    val dist = TokenizerIndex.trainDistributed(spark, words, 32)
    assert(local.merges.take(32) == dist.merges,
      "the k=512 run's first 32 merges ARE the oracle-replayed k=32 table")
    Caches.releaseScope()
  }

  test("k-large: merge counts are monotone non-increasing; training early-stops at vocab saturation") {
    // monotone: a merge (a,b)->c can only create pairs whose weighted
    // count is at most the merged pair's (every new-pair occurrence
    // rides a c occurrence), and existing counts only decrease — so
    // round r+1's argmax count <= round r's. Saturation: a k far above
    // the corpus' pair budget ends when every word is one symbol.
    val wc = Seq("interleave" -> 7L, "interleaved" -> 3L, "leave" -> 9L,
      "banana" -> 5L, "bandana" -> 2L, "abracadabra" -> 1L, "x" -> 99L)
    val learned = TokenizerIndex.trainLocal(spark, wc, 100000)
    assert(learned.merges.nonEmpty && learned.merges.length < 100000,
      "a tiny corpus must saturate long before k")
    val cnts = learned.merges.map(_._4)
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b },
      s"merge counts must be monotone non-increasing: $cnts")
    // saturated = every word fully merged to a single piece
    learned.vocab.collect().foreach { r =>
      assert(!r.getAs[String]("s").contains(' '),
        s"word '${r.getAs[String]("w")}' not fully merged at saturation")
    }
    // and the saturated table is a fixpoint: a larger k changes nothing
    val again = TokenizerIndex.trainLocal(spark, wc, 200000)
    assert(again.merges == learned.merges)
  }

  test("k=4096 over a 200k-word synthetic Zipf vocabulary trains in seconds") {
    // the production-shape check for the incremental trainer: real
    // vocab sizes (hundreds of thousands of distinct words) at real
    // k — the naive full-recount loop is O(k * corpus chars) and
    // cannot do this in CI time. Deterministic synthetic Zipf corpus:
    // skewed letters make early merges touch many words (the worst
    // delta-update case).
    val rnd = new scala.util.Random(42)
    val letters = "etaoinshrdlucmfwypvbgkjqxz"
    def word(): String = {
      val n = 3 + rnd.nextInt(9)
      val sb = new StringBuilder
      (0 until n).foreach { _ =>
        sb += letters(math.min((math.abs(rnd.nextGaussian()) * 6).toInt, 25))
      }
      sb.toString
    }
    val wc = (0 until 200000).map { i =>
      (word() + java.lang.Integer.toString(i, 26).map(c =>
        ('a' + Character.digit(c, 26)).toChar), // force distinctness
        math.max(1L, 1000000L / (i + 1)))
    }
    val t0 = System.nanoTime()
    val learned = TokenizerIndex.trainLocal(spark, wc, 4096)
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"k=4096 over ${wc.size} words: $secs%.2f s, ${learned.merges.length} merges")
    assert(secs < 60.0, f"incremental trainer must hold at vocab scale ($secs%.1f s)")
    assert(learned.merges.length == 4096, "a 200k-word vocab must not saturate at k=4096")
    val cnts = learned.merges.map(_._4)
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b },
      "monotone non-increasing merge counts at scale")
  }

  test("save/load roundtrip: loaded artifact prices identically; partial save refuses") {
    val dir = Files.createTempDirectory("graft_tokidx").toString + "/tok"
    val learned = TokenizerIndex.train(spark, sf, 32)
    TokenizerIndex.save(learned, dir)
    val loaded = TokenizerIndex.load(spark, dir)
    assert(loaded.merges == learned.merges)
    val docs = Tables.documents(spark, sf)
    val a = TokenizerIndex.priceDocuments(docs, learned).collect().map(_.toSeq)
    val b = TokenizerIndex.priceDocuments(docs, loaded).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq && a.nonEmpty)
    // an earlier build's torn in-place save left complete=false: refuse
    spark.range(1).select(lit(false).as("complete"))
      .write.mode("overwrite").parquet(s"$dir/complete")
    val e = intercept[IllegalStateException] { TokenizerIndex.load(spark, dir) }
    assert(e.getMessage.contains("partial save"))
    Caches.releaseScope()
  }

  test("C14b consumer plan: one corpus scan, no merge loop, no cartesian") {
    val df = run("text_bpe_count_learned")
    val p = plan(df)
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 2, s"consumer plan must not re-scan per round ($scans scans):\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the vocabulary must join broadcast")
    assert(df.collect().length > 0)
    Caches.releaseScope()
  }

  test("packing and mixture consume the artifact without re-tokenizing") {
    val learned = TokenizerIndex.train(spark, sf, 32)
    val docs = Tables.documents(spark, sf)
    val priced = TokenizerIndex.priceDocuments(docs, learned)
    // +1 EOS, the G9b contract
    val manifest = PipelineOps.packManifestFromCounts(
      priced.select(col("doc_id"), (col("n_bpe_learned") + 1L).as("nt")))
      .collect()
    val nt = priced.collect().map(r => r.getLong(0) -> (r.getLong(1) + 1L)).toMap
    // manifest invariant: consecutive docs pack back-to-back — each
    // doc's reconstructed start equals the previous start + nt
    val starts = manifest.map { r =>
      r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("seq_idx") * PipelineOps.SEQ_TOKENS +
          r.getAs[Long]("offset_in_seq"))
    }.sortBy(_._1)
    starts.sliding(2).foreach {
      case Array((d0, s0), (d1, s1)) =>
        assert(s1 == s0 + nt(d0), s"doc $d1 must start where $d0 ended")
      case _ => ()
    }
    assert(starts.head._2 == 0L)
    val mix = PipelineOps.mixturePlanFromCounts(
      priced.join(docs.select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"), col("n_bpe_learned").as("nt")))
    assert(mix.collect().nonEmpty && mix.columns.contains("epochs_milli"))
    Caches.releaseScope()
  }

  // ---- byte-level base (r15): 256 base symbols, no OOV ----

  test("byte base: local and distributed training are byte-identical " +
      "and every symbol is lowercase hex reconstructing the word") {
    import spark.implicits._
    val wc = Seq("the" -> 5L, "thethe" -> 2L, "中文" -> 3L, "banana" -> 4L)
    val local = TokenizerIndex.trainLocal(spark, wc, 8,
      TokenizerIndex.BaseBytes)
    val dist = TokenizerIndex.trainDistributed(spark, wc.toDF("w", "c"), 8,
      TokenizerIndex.BaseBytes)
    assert(local.merges == dist.merges,
      "the two engines must learn the same byte merge table")
    assert(vocabOf(local) == vocabOf(dist))
    assert(local.base == TokenizerIndex.BaseBytes &&
      dist.base == TokenizerIndex.BaseBytes)
    local.vocab.collect().foreach { r =>
      val w = r.getAs[String]("w")
      val syms = r.getAs[String]("s").split(' ')
      assert(syms.forall(s => s.matches("[0-9a-f]+") && s.length % 2 == 0),
        s"'$w': symbols must be even-length lowercase hex: ${syms.toSeq}")
      val bytes = syms.flatMap(_.grouped(2))
        .map(h => Integer.parseInt(h, 16).toByte)
      assert(bytes.toSeq == w.getBytes("UTF-8").toSeq,
        s"'$w': symbol bytes must reconstruct the word (no-OOV closure)")
    }
    Caches.releaseScope()
  }

  test("byte base: never-seen words and scripts price by UTF-8 bytes — " +
      "no OOV, never 0") {
    import spark.implicits._
    // one merge over an ASCII-only corpus: (61,62) -> 6162
    val learned = TokenizerIndex.trainLocal(spark,
      Seq("ab" -> 2L, "abab" -> 1L), 1, TokenizerIndex.BaseBytes)
    assert(learned.merges.map(m => (m._2, m._3)) == Vector(("61", "62")))
    val docs = Seq(
      (0L, "中文"),     // never-seen CJK: 2 letters × 3 bytes
      (1L, "ab"),       // in-vocab, merged to 1 token
      (2L, "δδδ"),      // never-seen Greek: 3 letters × 2 bytes
      (3L, "ab, 中!")   // mixed: 1 + residual(',')1 + 3 + residual('!')1
    ).toDF("doc_id", "text")
    val got = TokenizerIndex.priceDocuments(docs, learned).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 6L, 1L -> 1L, 2L -> 6L, 3L -> 6L),
      s"byte-base pricing must be exact byte counts for unseen words: $got")
  }

  test("byte base: save/load preserves the base and prices identically; " +
      "a pre-r15 artifact (no config) loads as code-point base") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tok_b").toString + "/tok"
    val learned = TokenizerIndex.trainLocal(spark,
      Seq("the" -> 5L, "banana" -> 2L), 4, TokenizerIndex.BaseBytes)
    TokenizerIndex.save(learned, dir)
    val loaded = TokenizerIndex.load(spark, dir)
    assert(loaded.base == TokenizerIndex.BaseBytes)
    val docs = Seq((0L, "the banana 中文")).toDF("doc_id", "text")
    val a = TokenizerIndex.priceDocuments(docs, learned).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = TokenizerIndex.priceDocuments(docs, loaded).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b, "loaded byte-base artifact must price identically")
    // legacy artifact shape: remove the config dir → code-point base
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(); ()
    }
    rmrf(new java.io.File(s"$dir/config"))
    assert(TokenizerIndex.load(spark, dir).base ==
      TokenizerIndex.BaseCodePoints)
    Caches.releaseScope()
  }
}
