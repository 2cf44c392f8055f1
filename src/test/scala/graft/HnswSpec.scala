package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.operators.{AnnOps, GraphAnnOps, HnswOps, KnnIndex}
import graft.functions.Portable.dotMicros

/** E18c contracts the oracle gate can't see in isolation: the level
  * hash's geometric law and nesting, the blocked all-pairs top layer
  * (exactness AND the no-cartesian plan invariant), the bridge
  * ranking, and end-to-end determinism + result-shape of the
  * hierarchy-seeded walk on the gate corpus.
  */
class HnswSpec extends SparkSpec {



  test("levelsFor keeps the top layer in (32, 256] expected members") {
    assert(HnswOps.levelsFor(500) == 1)
    assert(HnswOps.levelsFor(2000) == 1)
    assert(HnswOps.levelsFor(20000) == 3)
    assert(HnswOps.levelsFor(2000000) == 5)
    Seq(500L, 2000L, 20000L, 200000L, 2000000L).foreach { n =>
      val l = HnswOps.levelsFor(n)
      val top = n.toDouble / math.pow(8, l)
      assert(top <= 256.0, s"n=$n levels=$l expected top $top > 256")
      assert(l == 1 || top > 32.0, s"n=$n levels=$l top $top <= 32")
    }
  }

  test("level assignment is geometric and nested on sequential ids") {
    import spark.implicits._
    val n = 80000
    val lv = (0L until n.toLong).toDF("vec_id")
      .select(HnswOps.lvlCol(4).as("lvl"))
      .groupBy(col("lvl")).count().collect()
      .map(r => r.getAs[Int]("lvl") -> r.getAs[Long]("count")).toMap
    // members of layer >= l ~ n / 8^l within 15%
    (1 to 4).foreach { l =>
      val atLeast = lv.filter(_._1 >= l).values.sum.toDouble
      val expect = n / math.pow(8, l)
      assert(math.abs(atLeast - expect) / expect < 0.15,
        s"layer >= $l: got $atLeast expected ~$expect")
    }
    // nesting is structural (lvl >= l implies lvl >= l-1): the lvl
    // column is a single integer, so nesting holds by construction;
    // pin the hash itself against a scalar replay
    val hm = (12345L * HnswOps.HNSW_MULT + HnswOps.HNSW_ADD) % HnswOps.HNSW_P
    val want = (4 to 1 by -1).find(l =>
      hm * math.pow(8, l).toLong < HnswOps.HNSW_P).getOrElse(0)
    val got = Seq(12345L).toDF("vec_id")
      .select(HnswOps.lvlCol(4).as("lvl")).head.getInt(0)
    assert(got == want)
  }

  test("the top layer's blocked all-pairs k-NN is exact and never a " +
      "cartesian plan") {
    import spark.implicits._
    val e = AnnOps.withNorm(spark, sf)
    val n = e.count()
    val idx = KnnIndex.forCorpus(spark, sf, AnnOps.CENTROIDS, None,
      k = GraphAnnOps.GRAPH_DEGREE)
    val hier = HnswOps.hierEdges(idx.vectors, idx.micros,
      HnswOps.levelsFor(n))
    val top = hier.filter(col("lvl") === HnswOps.levelsFor(n))
    assert(top.queryExecution.executedPlan.toString
      .contains("CartesianProduct") == false)
    // exactness: every top member's stored neighbors are its true
    // M_UP nearest top-layer mates (cos desc, id ties low)
    val members = idx.vectors
      .filter(HnswOps.lvlCol(HnswOps.levelsFor(n)) >= HnswOps.levelsFor(n))
      .select(col("vec_id"), col("embedding"), col("nm"))
    val brute = members.as("a").join(members.as("b"),
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("nbr"),
        graft.functions.Portable.cosineFromMicros(
          dotMicros(col("a.embedding"), col("b.embedding")),
          col("a.nm"), col("b.nm")).as("cos"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("src"))
          .orderBy(col("cos").desc, col("nbr"))))
      .filter(col("rn") <= HnswOps.M_UP)
      .select(col("src"), col("nbr")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = top.select(col("vec_id"), col("nbr_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute, "top-layer edges must equal brute-force k-NN")
    Caches.releaseScope()
  }

  test("cellNeighbors ranks by exact centroid cosine, id ties low, " +
      "R_BRIDGE per cell, never self") {
    val micros = Array(
      Array(1000000L, 0L, 0L),
      Array(990000L, 100000L, 0L),
      Array(0L, 1000000L, 0L),
      Array(0L, 0L, 1000000L),
      Array(707000L, 707000L, 0L),
      Array(-1000000L, 0L, 0L))
    val cnn = HnswOps.cellNeighbors(micros)
    val base = 8L
    assert(cnn.forall { case (a, b) => a != b })
    assert(cnn.groupBy(_._1).forall(_._2.size == HnswOps.R_BRIDGE))
    // cell 0 = +x: nearest must be cell 1 (cos ~ 0.995), then 4, and
    // cell 5 (-x, cos -1) must NOT be among its R_BRIDGE = 4 of 5
    val c0 = cnn.filter(_._1 == base).map(_._2)
    assert(c0.take(2) == Seq(base + 1, base + 4))
    assert(!c0.contains(base + 5))
  }

  test("hnsw search: exactly topK ranked rows per query, " +
      "deterministic run to run, recall not below the probe-seeded " +
      "walk on the gate corpus") {
    val e = AnnOps.withNorm(spark, sf)
    val idx = KnnIndex.forCorpus(spark, sf, AnnOps.CENTROIDS, None,
      k = GraphAnnOps.GRAPH_DEGREE)
    val n = e.count()
    val hier = HnswOps.hierFor(spark, sf, idx, n)
    val (res1, scanned) = HnswOps.hnswSearch(e, idx, hier, n)
    val rows1 = res1.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getDouble(3)))
    val rows2 = HnswOps.hnswSearch(e, idx, hier, n)._1.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows1.toSeq == rows2.toSeq, "descent must be deterministic")
    val perQ = rows1.groupBy(_._1)
    assert(perQ.size == 8 &&
      perQ.values.forall(_.map(_._2).sorted.toSeq == (1L to 5L)))
    assert(scanned.count() > 0)
    // recall parity floor vs the probe-seeded diversified regime
    val truth = SparkEntry.queries("ann_bruteforce")(spark, sf)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hnswGot = rows1.map(t => (t._1, t._3)).toSet
    val plainGot = GraphAnnOps.graphSearch(e, idx)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rh = hnswGot.count(truth.contains).toDouble / truth.size
    val rp = plainGot.count(truth.contains).toDouble / truth.size
    assert(rh >= rp,
      s"hierarchy entry recall $rh fell below the probe walk's $rp")
    Caches.releaseScope()
  }

  test("r20: driver-local descent ≡ distributed descent, bit-exact " +
      "result AND scanned set (engine-chooser parity pin)") {
    import graft.operators.LocalWalk
    val dir = "/root/testdata/sf0.01"
    def both(): (Seq[(Long, Long, Long, Long)], Set[(Long, Long)]) = {
      val e = AnnOps.withNorm(spark, dir)
      val n = Tables.embeddings(spark, dir).count()
      val cells = AnnOps.ivfCellsFor(n)
      val idx = KnnIndex.forCorpus(spark, dir, cells,
        graft.operators.EmbeddingOps.knnSubGeometry(n, cells),
        k = GraphAnnOps.GRAPH_DEGREE)
      val (res, scanned) = HnswOps.hnswSearch(
        e, idx, HnswOps.hierFor(spark, dir, idx, n), n)
      val rows = res.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), java.lang.Double.doubleToLongBits(r.getDouble(3))))
        .toSeq
      val sc = scanned.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      Caches.releaseScope()
      (rows, sc)
    }
    val (localRows, localScanned) = both()
    spark.conf.set(LocalWalk.LocalMaxKey, "0")
    try {
      val (distRows, distScanned) = both()
      assert(localRows == distRows, "result: local != distributed")
      assert(localScanned == distScanned, "scanned: local != distributed")
    } finally {
      spark.conf.unset(LocalWalk.LocalMaxKey)
      Caches.releaseScope()
    }
  }

  test("a warm ann_hnsw rep counts the corpus once") {
    HnswOps.annHnsw.fn(spark, sf).collect()
    Caches.releaseScope()
    val counts = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart
            if x.description.startsWith("count at") =>
          counts.add(x.description)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    SpecBus.drain(sc)
    sc.addSparkListener(l)
    try HnswOps.annHnsw.fn(spark, sf).collect()
    finally {
      SpecBus.drain(sc)
      sc.removeSparkListener(l)
      Caches.releaseScope()
    }
    assert(counts.size == 1, s"count actions: $counts")
  }
}
