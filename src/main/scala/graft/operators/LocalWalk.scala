package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.functions.Kernels

/** Driver-local engine for the graph-ANN beam walks (r20) — the
  * size-adaptive engine-chooser doctrine ([[TokenizerIndex.train]]'s
  * driver-local merge loop, [[DedupOps]]' driver union-find) applied to
  * the walk family, the board's most expensive queries after round 19.
  *
  * Why: every hop of [[GraphAnnOps.beamWalk]] and the HNSW descent is a
  * bounded relational round over a frontier of ≤ queries × beam rows —
  * at gate scale a few HUNDRED rows — yet pays 2 Exchanges plus their
  * stage scheduling and AQE replanning per hop (guide §1.2: round
  * LATENCY, not data, dominates the iterative operators; measured
  * ~0.1–0.2 s per hop against microseconds of arithmetic). Below the
  * threshold the walk's whole world (the probed cells' members and
  * edges — already a partition-pruned artifact read, never the corpus)
  * collects to the driver once and the hops run as in-memory loops;
  * above it the distributed loop runs unchanged, so the 100 TB shape is
  * untouched (the sf100 probes exercise it).
  *
  * Equivalence is EXACT, not approximate: candidates score through
  * [[graft.functions.Kernels]] — `dotMicros`, the function the
  * distributed plan's `dot_micros` runs, and `cos`, the single double
  * division `cosineFromMicros` spells as a Column in the same IEEE op
  * order — and the beam cut uses the `topk_min` aggregate's struct ordering
  * (java.lang.Double.compare on the negated cosine, then the id
  * tie-break — the same total order Spark's struct comparator applies,
  * including NaN-greatest and -0.0 < 0.0). GraphAnnSpec/HnswSpec pin
  * local ≡ distributed end to end.
  */
private[graft] object LocalWalk {

  /** Row-count threshold for the driver-local engine: the walk world's
    * member frame (vectors ride in the rows, ~300 B each) collects only
    * below this. Conf-tunable (`graft.walk.localMax`); 0 disables the
    * local engine (tests force the distributed path through this).
    */
  val LocalMaxKey = "graft.walk.localMax"
  val LOCAL_MAX_DEFAULT: Long = 1L << 17

  def localMax(s: SparkSession): Long =
    s.conf.getOption(LocalMaxKey).map(_.toLong).getOrElse(LOCAL_MAX_DEFAULT)

  /** A collected (embedding, nm) vector; the embedding is kept in the
    * kernels' operand form, packed once at collect.
    */
  final case class V(emb: ArrayData, nm: Long)

  /** The `topk_min(struct(-cos AS negc, vec_id), k)` order: negc
    * ascending by java.lang.Double.compare (Spark's double ordering —
    * NaN greatest, -0.0 < 0.0), vec_id ascending as the tie-break.
    * Entries are (vec_id, cos); the comparator negates cos into the
    * SAME negc double the aggregate compares.
    */
  private val topkOrd: Ordering[(Long, Double)] = new Ordering[(Long, Double)] {
    def compare(a: (Long, Double), b: (Long, Double)): Int = {
      val c = java.lang.Double.compare(-a._2, -b._2)
      if (c != 0) c else java.lang.Long.compare(a._1, b._1)
    }
  }

  /** The per-query beam cut: the k smallest (negc, vec_id) = the k
    * highest-cosine candidates, ids breaking ties low, returned in the
    * aggregate's sorted order.
    */
  def cut(entries: Iterable[(Long, Double)], k: Int): Vector[(Long, Double)] =
    entries.toVector.sorted(topkOrd).take(k)

  /** Score candidate pairs against a member map, dropping pairs whose
    * vector is not a member (the distributed plan's inner join) and
    * deduping (q, v) (the merge aggregate's max over identical copies).
    * Returns per-query maps vec_id → cos.
    */
  def score(
      pairs: Iterable[(Long, Long)],
      members: mutable.LongMap[V],
      queries: Map[Long, V]): mutable.LongMap[mutable.LongMap[Double]] = {
    val out = mutable.LongMap.empty[mutable.LongMap[Double]]
    pairs.foreach { case (q, v) =>
      members.get(v).foreach { mv =>
        queries.get(q).foreach { qv =>
          out.getOrElseUpdate(q, mutable.LongMap.empty[Double])
            .getOrElseUpdate(v,
              Kernels.cos(Kernels.dotMicros(qv.emb, mv.emb), qv.nm, mv.nm))
        }
      }
    }
    out
  }

  /** The synchronous beam walk — [[GraphAnnOps.beamWalk]]'s hop loop on
    * driver maps: per hop, expand the frontier along `edges`, drop
    * self-hits, score new candidates against `members`, merge with the
    * frontier by (q, v) (cosines are deterministic, so max ≡ the
    * value), cut to `beam` per query. Returns the final per-query
    * frontier and every (q, v) pair the walk SCANNED (pre-dedup feed of
    * the distributed `scanned` union).
    */
  def walk(
      members: mutable.LongMap[V],
      edges: mutable.LongMap[Array[Long]],
      queries: Map[Long, V],
      cand0: Iterable[(Long, Long)],
      beam: Int,
      hops: Int): (mutable.LongMap[Vector[(Long, Double)]], mutable.LinkedHashSet[(Long, Long)]) = {
    val scanned = mutable.LinkedHashSet.empty[(Long, Long)]
    scanned ++= cand0
    val f0 = score(cand0, members, queries)
    var frontier = mutable.LongMap.empty[Vector[(Long, Double)]]
    f0.foreach { case (q, m) => frontier(q) = cut(m, beam) }
    (1 to hops).foreach { _ =>
      frontier = hop(frontier, edges, members, queries, beam, scanned)
    }
    (frontier, scanned)
  }

  /** One synchronous hop: expand the frontier along `edges` (dropping
    * self-hits), score the new candidates against `members`, merge by
    * (q, v) — frontier entries keep their (identical) cosines — and cut
    * to `beam` per query. The scanned pairs accumulate into `scanned`.
    */
  def hop(
      frontier: mutable.LongMap[Vector[(Long, Double)]],
      edges: mutable.LongMap[Array[Long]],
      members: mutable.LongMap[V],
      queries: Map[Long, V],
      beam: Int,
      scanned: mutable.LinkedHashSet[(Long, Long)]): mutable.LongMap[Vector[(Long, Double)]] = {
    val nbrs = mutable.ArrayBuffer.empty[(Long, Long)]
    frontier.foreach { case (q, vs) =>
      vs.foreach { case (v, _) =>
        edges.get(v).foreach(_.foreach { n =>
          if (n != q) nbrs += ((q, n))
        })
      }
    }
    scanned ++= nbrs
    val scored = score(nbrs, members, queries)
    val next = mutable.LongMap.empty[Vector[(Long, Double)]]
    // merge: the frontier's entries win ties trivially (equal values)
    frontier.foreach { case (q, vs) =>
      val m = scored.getOrElse(q, mutable.LongMap.empty[Double])
      vs.foreach { case (v, c) => m.getOrElseUpdate(v, c) }
      next(q) = cut(m, beam)
    }
    next
  }

  /** Rank the final frontier to the top-k result rows
    * (q_id, rank, vec_id, cos), ordered by (q_id, rank) — the
    * distributed plan's final topkMin + posexplode + orderBy.
    */
  def ranked(
      frontier: mutable.LongMap[Vector[(Long, Double)]],
      topK: Int): Seq[Row] =
    frontier.toSeq.sortBy(_._1).flatMap { case (q, vs) =>
      cut(vs, topK).zipWithIndex.map { case ((v, c), p) =>
        Row(q, (p + 1).toLong, v, c)
      }
    }

  private val resultSchema = StructType(Seq(
    StructField("q_id", LongType),
    StructField("rank", LongType),
    StructField("vec_id", LongType),
    StructField("cos", DoubleType)))

  private val scannedSchema = StructType(Seq(
    StructField("q_id", LongType),
    StructField("vec_id", LongType)))

  def resultDf(s: SparkSession, rows: Seq[Row]): DataFrame =
    s.createDataFrame(
        s.sparkContext.parallelize(rows, 1), resultSchema)
      .orderBy(col("q_id"), col("rank"))

  def scannedDf(s: SparkSession, pairs: Iterable[(Long, Long)]): DataFrame =
    s.createDataFrame(
      s.sparkContext.parallelize(
        pairs.toSeq.map { case (q, v) => Row(q, v) },
        1),
      scannedSchema)

  // ---- collection helpers (one action each, on frames the
  //      distributed path materializes anyway) ----

  def collectVectors(df: DataFrame): mutable.LongMap[V] = {
    val out = mutable.LongMap.empty[V]
    df.select(col("vec_id"), col("embedding"), col("nm")).collect()
      .foreach { r =>
        out(r.getLong(0)) = V(packEmb(r, 1), r.getLong(2))
      }
    out
  }

  def collectEdges(df: DataFrame): mutable.LongMap[Array[Long]] = {
    val m = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
    df.select(col("vec_id"), col("nbr_id")).collect().foreach { r =>
      m.getOrElseUpdate(r.getLong(0), mutable.ArrayBuffer.empty[Long]) +=
        r.getLong(1)
    }
    val out = mutable.LongMap.empty[Array[Long]]
    m.foreach { case (k, v) => out(k) = v.toArray }
    out
  }

  /** Collect (vec_id, embedding, nm, cell) rows into the vector map
    * plus an id → cell map (the HNSW descent's probed-cell seam).
    */
  def collectVectorsWithCell(
      df: DataFrame): (mutable.LongMap[V], mutable.LongMap[Long]) = {
    val vs = mutable.LongMap.empty[V]
    val cells = mutable.LongMap.empty[Long]
    df.select(col("vec_id"), col("embedding"), col("nm"), col("cell"))
      .collect().foreach { r =>
        val id = r.getLong(0)
        vs(id) = V(packEmb(r, 1), r.getLong(2))
        cells(id) = r.getLong(3)
      }
    (vs, cells)
  }

  def collectQueries(qF: DataFrame): Map[Long, V] =
    qF.select(col("q_id"), col("q_emb"), col("q_nm")).collect()
      .map(r => r.getLong(0) -> V(packEmb(r, 1), r.getLong(2))).toMap

  def collectPairs(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def packEmb(r: Row, i: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(r.getSeq[Float](i).toArray)
}
