package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.Kernels.log2q16
import graft.operators.TokenizerIndex.utf8Less

/** Unigram-LM (SentencePiece-family) tokenizer TRAINING — the other
  * public tokenizer family beside BPE (Kudo 2018: SentencePiece's
  * unigram mode trained most public multilingual models), which the
  * r15 verdict named as the remaining tokenizer gap. Where BPE GROWS a
  * vocabulary bottom-up by merge frequency, the unigram model SELECTS
  * from a candidate-substring vocabulary by expectation-maximization
  * over each word's best segmentation.
  *
  * This engine runs the hard-EM (Viterbi-EM) variant so every step is
  * exact integer arithmetic the DuckDB oracle replays CTE-for-CTE:
  *
  *  1. words: the engine's standard `\p{L}+` lowercased word counts
  *     (shared with the BPE family), length ≤ [[MaxWordLen]] code
  *     points, capped to the [[WordsCap]] most frequent (ties by UTF-8
  *     byte order) — the Zipf head carries the signal, and the cap
  *     bounds EVERYTHING downstream at any corpus scale;
  *  2. candidates: every code-point substring of length 2..[[MaxPiece]]
  *     of the capped words, occurrence-weighted by word count, capped
  *     to [[CandCap]] by the SentencePiece seed heuristic
  *     count·(len−1) (the characters a piece saves); PLUS every single
  *     code point of the capped words — the closure that guarantees
  *     every capped word segments;
  *  3. EM rounds ([[Rounds]]): piece costs are the add-one-smoothed
  *     information −log2 p(piece) = log2((tot+V)/(u+1)) in Q16 fixed
  *     point (the [[graft.functions.FixedLog]] recipe — the oracle
  *     unrolls the identical 16 square-shift rounds); the E-step
  *     Viterbi-segments each capped word by min total cost
  *     (deterministic tie-break: lexicographically-least path by UTF-8
  *     bytes — the C14 argmax discipline); the M-step recounts usage
  *     from the chosen segmentations;
  *  4. output: the top [[OutK]] pieces by final usage (ties by piece),
  *     with usage and final cost.
  *
  * Scale shape: the corpus is touched ONCE (the distributed word-count
  * aggregate); the cap makes the EM a model-sized driver loop — the
  * E8/C18 precedent (re-planning K×MaxWordLen DP joins through
  * Catalyst would cost more than the arithmetic; at 4096 words × 16
  * positions × 6 pieces the whole EM is microseconds). At 100 TB the
  * only corpus-scaled cost is the word-count shuffle the BPE trainer
  * already pays.
  */
object UnigramLm {

  /** Max word length considered, in CODE POINTS (longer words are
    * excluded from training — at the gate corpus nothing exceeds it;
    * it also bounds the oracle's unrolled DP depth).
    */
  val MaxWordLen = 16

  /** Max candidate piece length (SentencePiece's default family). */
  val MaxPiece = 6

  /** Training vocabulary cap (most-frequent words). */
  val WordsCap = 4096

  /** Multi-character candidate cap (by the count·(len−1) seed rank). */
  val CandCap = 512

  /** Hard-EM rounds (each = cost derivation + Viterbi E-step + usage
    * M-step; the oracle unrolls all of them).
    */
  val Rounds = 2

  /** Output rows (top pieces by final usage). */
  val OutK = 48

  private val Sep = '\u0001'

  /** A trained model: every candidate piece with final usage and cost,
    * the final smoothing totals, and the capped training words' best
    * segmentations (the consumer vocabulary [[priceDocuments]] joins
    * against — the BPE vocabLengths shape).
    */
  final case class Model(
      pieces: Vector[(String, Long, Long)], // (piece, usage, cost_q16)
      tot: Long, // Σ final usage (the smoothing numerator base)
      v: Long, // candidate-set size (fixed across rounds)
      vocab: Vector[(String, Vector[String])]) // word -> best segmentation

  // ---- code-point helpers (Java String is UTF-16; the oracle's
  // substr/length are code-point-based, so all indexing here is by
  // code point) ----

  private def cps(w: String): Array[Int] = w.codePoints().toArray

  private def cpSlice(c: Array[Int], from: Int, until: Int): String =
    new String(c, from, until - from)

  private def cpLen(w: String): Int = w.codePointCount(0, w.length)

  /** Viterbi segmentation of one word under a piece-cost map: minimize
    * (total cost, path UTF-8 bytes); `oovCost` prices a single code
    * point absent from the map (u = 0 smoothing), so any word
    * segments. Returns the chosen pieces in order.
    */
  private[graft] def viterbi(
      word: String, cost: collection.Map[String, Long], oovCost: Long)
      : Vector[String] = {
    val c = cps(word)
    val n = c.length
    val bc = Array.fill(n + 1)(Long.MaxValue)
    val bp = Array.fill[String](n + 1)(null)
    bc(0) = 0L; bp(0) = ""
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - MaxPiece)
      while (j < i) {
        if (bp(j) != null) {
          val piece = cpSlice(c, j, i)
          val pc = cost.get(piece) match {
            case Some(x) => Some(x)
            case None => if (i - j == 1) Some(oovCost) else None
          }
          pc.foreach { x =>
            val cand = bc(j) + x
            val path = bp(j) + Sep + piece
            if (cand < bc(i) ||
              (cand == bc(i) && (bp(i) == null || utf8Less(path, bp(i))))) {
              bc(i) = cand; bp(i) = path
            }
          }
        }
        j += 1
      }
      i += 1
    }
    if (bp(n) == null) Vector.empty // unreachable under the cp closure
    else bp(n).split(Sep).toVector.drop(1)
  }

  /** Smoothed piece cost: log2((tot+V)/(u+1)) in Q16. */
  private def costOf(u: Long, tot: Long, v: Long): Long =
    log2q16(tot + v, u + 1)

  /** Train from capped (word, count) pairs — the whole EM, driver-local
    * over the bounded vocabulary (see the object scaladoc for why).
    * Deterministic: every ordering is (key desc, UTF-8 bytes asc).
    */
  /** EM runs this session — the C35 spec's observable for "a warm
    * consumer trains zero times" (the [[CentroidIndex.trainRuns]]
    * convention).
    */
  private[graft] val trainRuns =
    new java.util.concurrent.atomic.AtomicLong(0)

  def trainFromCounts(wcap: Seq[(String, Long)]): Model =
    trainFromCountsAt(wcap, CandCap, Rounds)

  /** The EM at EXPLICIT dials — the scale seam (r17, the r16 verdict's
    * ask #6, the C15 trainer-scaling precedent): the gate path
    * ([[trainFromCounts]]) IS this function at the board dials, so
    * scaled runs and the oracle-pinned path cannot diverge
    * (UnigramLmSpec pins byte parity). Unlike the BPE trainer there is
    * no incremental argmax to maintain — every EM round reprices EVERY
    * candidate (tot changes ⇒ all costs change) and re-segments every
    * word — so the scale discipline is bounding the work per round
    * (|words| · MaxWordLen · MaxPiece map probes + |candidates| cost
    * derivations, both driver-local) and MEASURING the ladder
    * (records/BENCH_unigram_r18.txt): a 32k-piece vocabulary over
    * a 256k-word head prices in driver minutes at any corpus size,
    * because the corpus only ever pays the one word-count shuffle.
    */
  def trainFromCountsAt(
      wcap: Seq[(String, Long)],
      candCap: Int,
      rounds: Int): Model = {
    trainRuns.incrementAndGet()
    // candidate generation (occurrence-weighted substring counts)
    val multi = new java.util.HashMap[String, Long]()
    val single = new java.util.HashMap[String, Long]()
    wcap.foreach { case (w, c) =>
      val a = cps(w)
      var i = 0
      while (i < a.length) {
        single.merge(cpSlice(a, i, i + 1), c, _ + _)
        var l = 2
        while (l <= MaxPiece && i + l <= a.length) {
          multi.merge(cpSlice(a, i, i + l), c, _ + _)
          l += 1
        }
        i += 1
      }
    }
    import scala.jdk.CollectionConverters._
    val multiCapped = multi.asScala.toVector
      .sortWith { case ((p1, u1), (p2, u2)) =>
        val r1 = u1 * (cpLen(p1) - 1); val r2 = u2 * (cpLen(p2) - 1)
        if (r1 != r2) r1 > r2 else utf8Less(p1, p2)
      }
      .take(candCap)
    val pieces0: Vector[(String, Long)] =
      single.asScala.toVector ++ multiCapped
    val v = pieces0.size.toLong
    // EM rounds: usage/cost live in hash maps sized by the candidate
    // cap — at 64k candidates each repricing pass is milliseconds; the
    // E-step dominates and is linear in Σ word DPs
    var usage: Map[String, Long] = pieces0.toMap
    val pieceSet = pieces0.map(_._1)
    for (_ <- 0 until rounds) {
      val tot = usage.valuesIterator.sum
      val cost = usage.map { case (p, u) => p -> costOf(u, tot, v) }
      val nextU = new java.util.HashMap[String, Long]()
      wcap.foreach { case (w, c) =>
        viterbi(w, cost, oovCost = costOf(0, tot, v))
          .foreach(p => nextU.merge(p, c, _ + _))
      }
      usage = pieceSet.map(p =>
        p -> nextU.getOrDefault(p, 0L).longValue()).toMap
    }
    val tot = usage.valuesIterator.sum
    val cost = usage.map { case (p, u) => p -> costOf(u, tot, v) }
    val vocab = wcap.toVector.map { case (w, _) =>
      w -> viterbi(w, cost, oovCost = costOf(0, tot, v))
    }
    val pieces = pieceSet.toVector
      .map(p => (p, usage(p), cost(p)))
    Model(pieces, tot, v, vocab)
  }

  /** Encode an arbitrary word under a trained model (consumer-facing
    * twin of the training E-step — same Viterbi, same tie-break;
    * unknown single code points price at the u = 0 smoothed cost, so
    * every word segments: the no-OOV closure, spec-pinned).
    */
  def encodeWith(model: Model, word: String): Vector[String] = {
    val cost = model.pieces.iterator.map(p => p._1 -> p._3).toMap
    viterbi(word, cost, oovCost = costOf(0, model.tot, model.v))
  }

  /** The capped training vocabulary of a corpus — the one distributed
    * step: filter by code-point length (Spark `length` counts code
    * points, matching DuckDB), order by (count desc, word UTF-8), cap.
    */
  def cappedWordCounts(docs: DataFrame): Seq[(String, Long)] =
    cappedWordCountsAt(docs, WordsCap)

  /** The word head at an explicit cap — the scale seam's distributed
    * half (one count shuffle + a bounded TakeOrdered, whatever the
    * cap).
    */
  def cappedWordCountsAt(
      docs: DataFrame, wordsCap: Int): Seq[(String, Long)] =
    TokenizerIndex.wordCountsOf(docs)
      .filter(length(col("w")) <= MaxWordLen)
      .orderBy(col("c").desc, col("w"))
      .limit(wordsCap)
      .collect().toIndexedSeq
      .map(r => r.getAs[String]("w") -> r.getAs[Long]("c"))

  def train(docs: DataFrame): Model = trainFromCounts(cappedWordCounts(docs))

  private val memo = new Artifact.Memo[Model]

  /** Train-once-per-corpus memo (the [[CorpusKey]] doctrine — C35's
    * consumer path must not re-run the EM loop per query). Training is
    * driver-local over the capped vocabulary, so the memo holds only
    * model-sized state; an in-session corpus rewrite invalidates the
    * fingerprint and retrains.
    */
  def forCorpus(s: SparkSession, d: String): Model =
    memo(CorpusKey.key(d, "documents.parquet"))(
      train(graft.Tables.documents(s, d)))

  /** The board output frame: top-[[OutK]] pieces by (final usage desc,
    * piece) with usage + final cost.
    */
  def resultDf(s: SparkSession, model: Model): DataFrame = {
    import s.implicits._
    model.pieces
      .sortWith { case ((p1, u1, _), (p2, u2, _)) =>
        if (u1 != u2) u1 > u2 else utf8Less(p1, p2)
      }
      .take(OutK)
      .zipWithIndex
      .map { case ((p, u, cq), i) => (i + 1L, p, u, cq) }
      .toDF("rank", "piece", "usage", "cost_q16")
  }

  /** Price documents under the learned unigram vocabulary:
    * (doc_id, n_unigram) — one corpus scan, one broadcast join against
    * the capped vocabulary's segmentation LENGTHS, one per-doc
    * aggregate (exactly [[TokenizerIndex.priceDocuments]]'s plan
    * shape, so the artifact-consumer economics carry over verbatim).
    * Out-of-vocabulary words price as their code-point count (each
    * unknown-context code point is its own piece under the Viterbi
    * fallback — the BPE OOV contract), and residual non-letter code
    * points price in the code-point base.
    */
  def priceDocuments(docs: DataFrame, model: Model): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val vl = model.vocab.map { case (w, seg) => (w, seg.length.toLong) }
      .toDF("w", "n")
    docs
      .select(col("doc_id"),
        call_function("bpe_residual", col("text")).as("resid"),
        explode_outer(call_function("bpe_words", col("text"))).as("w"))
      .join(broadcast(vl), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg((coalesce(sum(coalesce(col("n"),
        length(col("w")).cast(LongType))), lit(0L))
        + max(col("resid"))).as("n_unigram"))
      .orderBy(col("doc_id"))
  }

  // ---- persistence (the artifact contract, [[Artifact]]) ----

  /** Persist pieces + vocabulary segmentations + the config that makes
    * them meaningful, as one commit ([[Artifact.save]]).
    */
  def save(spark: SparkSession, model: Model, path: String): Unit = {
    import spark.implicits._
    Artifact.save(spark, path) { dir =>
      model.pieces.toDF("piece", "usage", "cost_q16")
        .write.mode("overwrite").parquet(s"$dir/pieces")
      model.vocab.map { case (w, seg) => (w, seg.mkString(Sep.toString)) }
        .toDF("w", "seg")
        .write.mode("overwrite").parquet(s"$dir/vocab")
      spark.range(0L, 1L, 1L, 1).select(lit(model.tot).as("tot"), lit(model.v).as("v"),
        lit(MaxPiece).as("max_piece"), lit(Rounds).as("rounds"))
        .write.mode("overwrite").parquet(s"$dir/config")
    }
  }

  /** Reopen a saved model. Refuses a partial save and a config whose
    * piece-length dial disagrees with this engine's Viterbi lookback —
    * segmentations under a different MaxPiece are a different model.
    */
  def load(spark: SparkSession, path: String): Model = {
    Artifact.open(spark, path, "UnigramLm")
    val cfg = spark.read.parquet(s"$path/config").head()
    val mp = cfg.getAs[Int]("max_piece")
    if (mp != MaxPiece)
      throw new IllegalStateException(
        s"UnigramLm at $path was trained with max piece length $mp; " +
          s"this engine segments with $MaxPiece")
    val pieces = spark.read.parquet(s"$path/pieces").collect().toVector
      .map(r => (r.getAs[String]("piece"), r.getAs[Long]("usage"),
        r.getAs[Long]("cost_q16")))
    val vocab = spark.read.parquet(s"$path/vocab").collect().toVector
      .map(r => r.getAs[String]("w") ->
        r.getAs[String]("seg").split(Sep).toVector.filter(_.nonEmpty))
    Model(pieces, cfg.getAs[Long]("tot"), cfg.getAs[Long]("v"), vocab)
  }

  // ---- the DuckDB oracle (unrolled EM) ----

  /** The full oracle query: word cap → candidates → [[Rounds]] unrolled
    * EM rounds (FixedLog cost chains + positional Viterbi DP CTEs +
    * usage recount) → final costs → top-[[OutK]]. Every CTE mirrors
    * one step of [[trainFromCounts]] operand-for-operand.
    */
  def sqlTrain(docsRel: String, textCol: String): String = s"""
      WITH ${sqlModelCtes(docsRel, textCol)}
      SELECT rank, piece, usage, cost_q16 FROM (
        SELECT u.piece, u.u AS usage, f.bits_q16 AS cost_q16,
               CAST(row_number() OVER (ORDER BY u.u DESC, u.piece)
                 AS BIGINT) AS rank
        FROM ug_u$Rounds u JOIN ug_pc$Rounds f USING (piece)) z
      WHERE rank <= $OutK
      ORDER BY rank"""

  /** C35's oracle: the shared model CTEs + ONE more Viterbi DP under
    * the FINAL piece costs — the segmentation [[trainFromCounts]]
    * stores as Model.vocab — then per-document occurrence pricing with
    * the code-point OOV fallback (words outside the capped vocabulary
    * price as their code-point count, [[priceDocuments]]'s contract)
    * and the residual non-letter count.
    */
  def sqlCount(docsRel: String, textCol: String): String = s"""
      WITH ${sqlModelCtes(docsRel, textCol)},
      ${dp(Rounds, withUsage = false)},
      uq_np AS (
        SELECT w, CAST(len(string_split(substr(path, 2), chr(1)))
          AS BIGINT) AS np
        FROM ug_seg$Rounds),
      uq_dwc AS (
        SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c FROM (
          SELECT doc_id, unnest(regexp_extract_all($textCol, '\\p{L}+'))
            AS w
          FROM $docsRel) t GROUP BY doc_id, w),
      uq_word AS (
        SELECT doc_id,
               CAST(sum(c * coalesce(np, length(w))) AS BIGINT) AS nw
        FROM uq_dwc LEFT JOIN uq_np USING (w) GROUP BY doc_id)
      SELECT d.doc_id,
             CAST(coalesce(w.nw, 0) +
               ${graft.functions.Bpe.sqlOtherCount(textCol)} AS BIGINT)
               AS n_unigram,
             CAST(len(regexp_split_to_array(trim($textCol, ' '), '\\s+'))
               AS BIGINT) AS n_ws_tokens,
             CAST(coalesce(w.nw, 0) +
               ${graft.functions.Bpe.sqlOtherCount(textCol)} AS DOUBLE)
               / greatest(len(regexp_split_to_array(trim($textCol, ' '),
                   '\\s+')), 1) AS unigram_per_word
      FROM $docsRel d LEFT JOIN uq_word w ON d.doc_id = w.doc_id
      ORDER BY d.doc_id"""

  private def branch(r: Int, j: Int, i: Int): String = s"""
        SELECT s.w, s.c, s.cost + p.bits_q16 AS cost,
               s.path || chr(1) || substr(s.w, ${j + 1}, ${i - j}) AS path
        FROM ug_st${r}_$j s
        JOIN ug_pcm$r p ON p.piece = substr(s.w, ${j + 1}, ${i - j})
        WHERE length(s.w) >= $i"""

  /** One Viterbi-DP round's CTEs under the `ug_pcm<r>` cost table:
    * positional states, the per-word winning segmentation `ug_seg<r>`,
    * and (when `withUsage`) the usage recount feeding round r+1. The
    * count oracle runs a final usage-free round under the FINAL costs.
    */
  private def dp(r: Int, withUsage: Boolean): String = {
    val steps = (1 to MaxWordLen).map { i =>
      val branches = (math.max(0, i - MaxPiece) until i)
        .map(j => branch(r, j, i)).mkString("\n        UNION ALL")
      // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
      // st_i references its MaxPiece predecessors — inlined, st_16
      // would expand into ~6^16 plan subtrees (the E14 sf100 lesson)
      s"""
      ug_st${r}_$i AS MATERIALIZED (
        SELECT w, c, ms.k AS cost, ms.p AS path FROM (
          SELECT w, c, min({'k': cost, 'p': path}) AS ms FROM ($branches
          ) b GROUP BY w, c) t)"""
    }.mkString(",")
    val segUnion = (1 to MaxWordLen)
      .map(i => s"SELECT w, c, path, $i AS len FROM ug_st${r}_$i")
      .mkString("\n        UNION ALL ")
    val usage =
      if (!withUsage) ""
      else s""",
      ug_use$r AS (
        SELECT piece, CAST(sum(c) AS BIGINT) AS u FROM (
          SELECT c, unnest(string_split(substr(path, 2), chr(1))) AS piece
          FROM ug_seg$r) x GROUP BY piece),
      ug_u${r + 1} AS MATERIALIZED (
        SELECT p.piece, CAST(coalesce(u.u, 0) AS BIGINT) AS u
        FROM ug_p0 p LEFT JOIN ug_use$r u USING (piece))"""
    s"""
      ug_st${r}_0 AS MATERIALIZED (
        SELECT w, c, CAST(0 AS BIGINT) AS cost, '' AS path
        FROM ug_wcap),$steps,
      ug_seg$r AS MATERIALIZED (
        SELECT w, c, path FROM (
        $segUnion
        ) q WHERE len = length(w))$usage"""
  }

  // ug_pcm$r: the cost table is referenced by every DP branch
  // (~MaxWordLen x MaxPiece joins) — materialized so the FixedLog
  // chain runs once per round, not once per reference
  private def costChain(r: Int): String = s"""
      ug_tot$r AS (SELECT CAST(sum(u) AS BIGINT) AS tot FROM ug_u$r),
      ug_pcs$r AS (SELECT piece, tot + v AS num, u + 1 AS den
                   FROM ug_u$r, ug_tot$r, ug_v),
      ${graft.functions.FixedLog.sqlRounds(
        s"ug_pcs$r", Seq("piece"), "num", "den", s"ug_pc$r")},
      ug_pcm$r AS MATERIALIZED (SELECT piece, bits_q16 FROM ug_pc$r)"""

  /** The shared oracle CTE body: word cap → candidates → [[Rounds]]
    * unrolled EM rounds → the FINAL cost tables (`ug_u<Rounds>` usages,
    * `ug_pc<Rounds>` bits, `ug_pcm<Rounds>` cost map) — the model state
    * [[trainFromCounts]] holds after its EM loop, consumed by both the
    * training oracle's ranking and the count oracle's final DP.
    */
  private def sqlModelCtes(docsRel: String, textCol: String): String = {
    val rounds = (0 until Rounds)
      .map(r => s"${costChain(r)},${dp(r, withUsage = true)}").mkString(",")
    s"""ug_wc AS MATERIALIZED (
        SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
          SELECT unnest(regexp_extract_all($textCol, '\\p{L}+')) AS w
          FROM $docsRel) GROUP BY w),
      ug_wcap AS MATERIALIZED (
        SELECT w, c FROM (
          SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS rn
          FROM ug_wc WHERE length(w) <= $MaxWordLen) t
        WHERE rn <= $WordsCap),
      ug_cl AS (SELECT w, c, unnest(generate_series(2, $MaxPiece)) AS l
                FROM ug_wcap),
      ug_ci AS (SELECT w, c, l,
                       unnest(generate_series(1, length(w) - l + 1)) AS i
                FROM ug_cl WHERE length(w) >= l),
      ug_c2 AS (SELECT substr(w, i, l) AS piece, CAST(sum(c) AS BIGINT) AS u0
                FROM ug_ci GROUP BY piece),
      ug_c2cap AS (SELECT piece, u0 FROM (
          SELECT piece, u0, row_number() OVER (
            ORDER BY u0 * (length(piece) - 1) DESC, piece) AS rn
          FROM ug_c2) t
        WHERE rn <= $CandCap),
      ug_i1 AS (SELECT w, c, unnest(generate_series(1, length(w))) AS i
                FROM ug_wcap),
      ug_c1 AS (SELECT substr(w, i, 1) AS piece, CAST(sum(c) AS BIGINT) AS u0
                FROM ug_i1 GROUP BY piece),
      ug_p0 AS MATERIALIZED (
        SELECT piece, u0 FROM ug_c1
        UNION ALL SELECT piece, u0 FROM ug_c2cap),
      ug_u0 AS (SELECT piece, u0 AS u FROM ug_p0),
      ug_v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM ug_p0),
      $rounds,
      ${costChain(Rounds)}"""
  }
}
