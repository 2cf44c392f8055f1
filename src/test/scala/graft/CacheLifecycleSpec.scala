package graft

/** Proves the [[Caches]] scope contract the harnesses rely on: after a
  * FULL board run with per-query scope release (exactly what Bench and
  * Verify do), no registered entries and no persisted RDDs remain — the
  * session cache is bounded by ONE query's working set, never the
  * board's. Also pins the artifact-mode opt-in (entries survive
  * releaseScope, end with releaseAll) and the memo policy (per-corpus
  * memos survive every scope; only Artifact.clearMemos drops them).
  */
class CacheLifecycleSpec extends SparkSpec {

  test("full board with per-query release leaves zero cache entries") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      fn(spark, sf).count()
      Caches.releaseScope()
      // the bound is per-scope, not just end-of-board: nothing survives
      // any single query's release
      assert(Caches.liveCount == 0, s"live entries after $name")
    }
    // localCheckpoint blocks register with Caches too (Checkpoints), so
    // a released board leaves NO persisted RDDs of any kind behind
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"persistent RDDs leaked: ${spark.sparkContext.getPersistentRDDs.keys}")
  }

  test("a query's shared frames are registered while its scope is open") {
    SparkEntry.queries("ann_bruteforce")(spark, sf).count()
    assert(Caches.liveCount > 0) // the norm artifact is live mid-scope
    Caches.releaseScope()
    assert(Caches.liveCount == 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("per-corpus memos are artifacts: they survive releaseScope in " +
      "both modes and only clearMemos empties them") {
    import graft.operators.{Artifact, CentroidIndex}
    Artifact.clearMemos()
    assert(Artifact.memoEntries == 0)
    SparkEntry.queries("ann_pq")(spark, sf).count()
    val trained = Artifact.memoEntries
    assert(trained > 0, "the first rep trains the codebook")
    Caches.releaseScope()
    assert(Artifact.memoEntries == trained,
      "a scoped release must keep the memos")
    // a warm rep after the scope close reuses the trained quantizer
    SparkEntry.queries("ann_ivf")(spark, sf).count()
    Caches.releaseScope()
    val runs = CentroidIndex.trainRuns.get()
    SparkEntry.queries("ann_ivf")(spark, sf).count()
    Caches.releaseScope()
    assert(CentroidIndex.trainRuns.get() == runs,
      "the warm ann_ivf rep must not retrain across releaseScope")
    val all = Artifact.memoEntries
    Caches.artifactMode = true
    try {
      Caches.releaseScope()
      assert(Artifact.memoEntries == all, "artifact mode keeps them too")
    } finally {
      Caches.artifactMode = false
      Caches.releaseAll()
    }
    Artifact.clearMemos()
    assert(Artifact.memoEntries == 0, "clearMemos empties every memo")
  }

  test("artifact mode keeps entries across scopes until releaseAll") {
    Caches.artifactMode = true
    try {
      SparkEntry.queries("ann_bruteforce")(spark, sf).count()
      Caches.releaseScope()
      assert(Caches.liveCount > 0) // survived the scope: deployment model
      SparkEntry.queries("ann_lsh")(spark, sf).count()
      Caches.releaseScope()
    } finally {
      Caches.artifactMode = false
      Caches.releaseAll()
    }
    assert(Caches.liveCount == 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("artifact mode: cache occupancy is bounded by DISTINCT artifacts") {
    // the deployment-model bound: Spark's cache manager dedupes persists
    // by plan, so re-running the whole ANN/dedup family re-USES the norm
    // artifact instead of accumulating per-query copies — occupancy is
    // O(distinct artifacts), not O(queries run)
    val family = Seq("ann_bruteforce", "ann_lsh", "ann_ivf",
      "dedup_embedding", "emb_centroids")
    Caches.artifactMode = true
    try {
      family.foreach { q =>
        SparkEntry.queries(q)(spark, sf).count(); Caches.releaseScope()
      }
      val afterFirstPass = spark.sparkContext.getPersistentRDDs.size
      family.foreach { q =>
        SparkEntry.queries(q)(spark, sf).count(); Caches.releaseScope()
      }
      val afterSecondPass = spark.sparkContext.getPersistentRDDs.size
      assert(afterSecondPass == afterFirstPass,
        s"re-running the family must not grow the cache: " +
          s"$afterFirstPass -> $afterSecondPass")
      assert(afterFirstPass <= 4,
        s"the family shares a handful of artifacts, got $afterFirstPass")
    } finally {
      Caches.artifactMode = false
      Caches.releaseAll()
    }
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
