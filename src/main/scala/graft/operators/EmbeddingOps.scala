package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{Caches, Op, Tables}
import graft.functions.Kernels
import graft.functions.Portable._

/** Embedding-corpus statistics (SURVEY.md §2 part E extensions): the
  * vector aggregation passes an embedding pipeline runs beside ANN —
  * per-class centroids, norm distributions.
  */
object EmbeddingOps {

  /** E4 — per-label centroids: the mean embedding of every label class,
    * dimension-exact. Each vector explodes to (label, dim, q_micros)
    * rows and sums as INTEGERS per (label, dim) — order-insensitive,
    * bit-identical under any partitioning (the portable exact-sum idiom
    * applied per dimension), then divides once. One shuffle,
    * map-side-combined: 64·|labels| running sums per input partition,
    * NOT 64× row blowup through the exchange. At 100 TB this is the
    * cheapest possible plan shape — class centroids for k-means/IVF
    * training, class-balance monitoring, drift detection.
    */
  val embCentroids: Op = Op(
    "emb_centroids",
    (s, d) =>
      Tables.embeddings(s, d)
        .repartition(col("vec_id"))
        .select(col("label"),
          posexplode(transform(col("embedding"), x => qMicros(x).cast(LongType))))
        .groupBy(col("label"), (col("pos") + 1).cast(LongType).as("dim"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("col")).as("sum_micros"))
        .select(col("label").cast(LongType).as("label"), col("dim"),
          col("n_vecs"), col("sum_micros"),
          (col("sum_micros").cast("double") / col("n_vecs") / lit(1000000.0))
            .as("centroid"))
        .orderBy(col("label"), col("dim")),
    Some("""
      SELECT CAST(label AS BIGINT) AS label, CAST(ix AS BIGINT) AS dim,
             count(*) AS n_vecs,
             CAST(sum(CAST(floor(CAST(emb_v AS DOUBLE)*1000000 + 0.5) AS BIGINT))
               AS BIGINT) AS sum_micros,
             CAST(sum(CAST(floor(CAST(emb_v AS DOUBLE)*1000000 + 0.5) AS BIGINT))
               AS DOUBLE) / count(*) / 1000000.0 AS centroid
      FROM (
        SELECT label, unnest(embedding) AS emb_v,
               unnest(generate_series(1, len(embedding))) AS ix
        FROM embeddings) t
      GROUP BY label, ix
      ORDER BY label, dim"""))

  /** E5 — symmetric int8 quantization audit: per-vector scale
    * (max-abs / 127) and the exact reconstruction error of storing the
    * embedding as int8 — the storage-scale decision pass for an
    * embedding lake (4× smaller vectors, bounded recall loss). Pure
    * per-row map work, no shuffle except output ordering.
    *
    * Portability: the per-element |x - dequant(quant(x))| errors are
    * quantized to exact integer micros BEFORE summing (the engine's
    * exact-sum idiom), so the per-vector error is order-insensitive and
    * bit-identical in the oracle; rounding is floor(v + 0.5), never the
    * engine-dependent round(). The max-abs and the lambda's `scale`
    * reference are materialized in prior selects — an inlined max-abs
    * would re-scan the 64 dims per element (the HOF-inlining trap
    * documented at Portable.shinglesFromTokens).
    */
  val embQuantize: Op = Op(
    "emb_quantize",
    (s, d) =>
      Tables.embeddings(s, d)
        .repartition(col("vec_id"))
        .select(col("vec_id"), col("embedding"),
          greatest(array_max(transform(col("embedding"),
            x => abs(x.cast("double")))), lit(1e-12)).as("maxabs"))
        .select(col("vec_id"), col("embedding"),
          (col("maxabs") / lit(127.0)).as("scale"))
        .select(col("vec_id"), col("scale"),
          size(col("embedding")).cast(LongType).as("n_dims"),
          aggregate(col("embedding"), lit(0L), (acc, x) =>
            acc + floor(abs(x.cast("double") -
              (floor((x.cast("double") / col("scale")) + 0.5) * col("scale")))
              * 1000000.0 + 0.5).cast(LongType)).as("err_sum_us"))
        .select(col("vec_id"), col("scale"), col("n_dims"),
          col("err_sum_us"),
          (col("err_sum_us").cast("double") / col("n_dims") / lit(1000000.0))
            .as("mean_abs_err"))
        .orderBy(col("vec_id")),
    Some("""
      SELECT vec_id, scale, n_dims, err_sum_us,
             CAST(err_sum_us AS DOUBLE) / n_dims / 1000000.0 AS mean_abs_err
      FROM (
        SELECT vec_id, scale, CAST(len(embedding) AS BIGINT) AS n_dims,
               CAST(list_sum(list_transform(embedding, x ->
                 CAST(floor(abs(CAST(x AS DOUBLE) -
                   (floor((CAST(x AS DOUBLE) / scale) + 0.5) * scale))
                   * 1000000.0 + 0.5) AS BIGINT))) AS BIGINT) AS err_sum_us
        FROM (
          SELECT vec_id, embedding,
                 (greatest(list_max(list_transform(embedding, x ->
                   abs(CAST(x AS DOUBLE)))), 1e-12) / 127.0) AS scale
          FROM embeddings) t1) t2
      ORDER BY vec_id"""))

  /** E7 — embedding-space outlier flags: per-label squared distance to
    * the label centroid, 3-sigma-flagged against the label's own
    * distance distribution — the embedding-side quality gate (mislabeled
    * rows, garbage vectors, drifted classes) that complements the
    * text-side C-series filters.
    *
    * Portability/exactness: per-element (x-c)² terms are quantized to
    * integer micros BEFORE summing (emb_quantize's idiom — the fold
    * order can never change d²), distances are coarsened to millis for
    * the moment sums (q = Σd⁴ stays in BIGINT up to ~1e8 vectors per
    * label; beyond that a deployment coarsens one more decade), and the
    * 3-sigma test is the cross-multiplied integer form of
    * events_anomaly evaluated in doubles ONLY at the final comparison —
    * deterministic scalar math on exactly-aggregated integers, no
    * engine stddev anywhere.
    *
    * Scale shape: one exploded centroid aggregate (map-side combined,
    * 64·|labels| sums), then the corpus is scored map-only against the
    * BROADCAST centroid arrays, and flags come from a broadcast of the
    * |labels|-row moment frame. The corpus never shuffles after the
    * centroid pass.
    */
  val embOutliers: Op = Op(
    "emb_outliers",
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .repartition(col("vec_id"))
        .select(col("vec_id"), col("label").cast(LongType).as("label"),
          col("embedding"))
      val cent = e
        .select(col("label"),
          posexplode(transform(col("embedding"), x => qMicros(x).cast(LongType))))
        .groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("col")).as("sum_us"))
        .groupBy(col("label"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"),
            (col("sum_us").cast("double") / col("n_vecs") / lit(1000000.0))
              .as("c")))),
          t => t.getField("c")).as("cent"))
      val dist = Caches.persist(e.join(broadcast(cent), "label")
        .select(col("label"), col("vec_id"),
          (aggregate(
            zip_with(col("embedding"), col("cent"), (x, c) =>
              floor((x.cast("double") - c) * (x.cast("double") - c)
                * lit(1000000.0) + lit(0.5)).cast(LongType)),
            lit(0L), (acc, t) => acc + t) / lit(1000L)).cast(LongType)
            .as("d2_mi")))
        // ^ Caches.persist: feeds the moment aggregate AND the flag join
        // — without it the centroid pass runs twice
      val st = dist.groupBy(col("label"))
        .agg(count(lit(1)).as("n"), sum(col("d2_mi")).as("s"),
          sum(col("d2_mi") * col("d2_mi")).as("q"))
      val dn = col("d2_mi") * col("n") - col("s")
      dist.join(broadcast(st), "label")
        .select(col("label"), col("vec_id"), col("d2_mi"),
          ((dn > 0) &&
            (dn.cast("double") * dn.cast("double") * (col("n") - 1) >
              lit(9.0) * col("n") * (col("n").cast("double") * col("q") -
                col("s").cast("double") * col("s").cast("double"))))
            .as("is_outlier"))
        .orderBy(col("label"), col("vec_id"))
    },
    Some("""
      WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label, embedding
                 FROM embeddings),
      cd AS (
        SELECT label, ix, count(*) AS n_vecs,
               CAST(sum(CAST(floor(CAST(emb_v AS DOUBLE)*1000000 + 0.5)
                 AS BIGINT)) AS BIGINT) AS sum_us
        FROM (SELECT label, unnest(embedding) AS emb_v,
                     unnest(generate_series(1, len(embedding))) AS ix
              FROM e) t
        GROUP BY label, ix),
      cent AS (SELECT label,
                      list(CAST(sum_us AS DOUBLE)/n_vecs/1000000.0
                        ORDER BY ix) AS cent
               FROM cd GROUP BY label),
      dist AS (
        SELECT e.label, e.vec_id,
               CAST(list_sum(list_transform(
                 generate_series(1, len(e.embedding)), ix ->
                   CAST(floor((CAST(e.embedding[ix] AS DOUBLE) - cent.cent[ix])
                     * (CAST(e.embedding[ix] AS DOUBLE) - cent.cent[ix])
                     * 1000000.0 + 0.5) AS BIGINT))) AS BIGINT) // 1000
                 AS d2_mi
        FROM e JOIN cent USING (label)),
      st AS (SELECT label, count(*) AS n,
                    CAST(sum(d2_mi) AS BIGINT) AS s,
                    CAST(sum(d2_mi*d2_mi) AS BIGINT) AS q
             FROM dist GROUP BY label)
      SELECT d.label, d.vec_id, d.d2_mi,
             d.d2_mi * st.n - st.s > 0 AND
               CAST(d.d2_mi * st.n - st.s AS DOUBLE)
                 * CAST(d.d2_mi * st.n - st.s AS DOUBLE) * (st.n - 1)
               > 9.0 * st.n * (CAST(st.n AS DOUBLE) * st.q
                 - CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE))
               AS is_outlier
      FROM dist d JOIN st USING (label)
      ORDER BY label, vec_id"""))

  /** E8 power-iteration rounds: fixed, so the result is a well-defined
    * deterministic statistic ("the 12-round power iterate from the
    * all-ones start") whether or not the spectrum has converged — the
    * same contract as C14's fixed K merges.
    */
  private val PcaRounds = 12

  /** E8's driver-side model loop — EXACTLY the arithmetic the oracle's
    * unrolled CTE rounds replay (JVM `/` ≡ DuckDB integer `//`: BOTH
    * truncate toward zero on negatives — measured, not assumed; IEEE
    * double ops in the spelled order), factored out so the spec can pin
    * it against an independent formulation. `S` is the raw second-moment
    * matrix (row-major 64×64 exact micro² sums), `s` the per-dim micro
    * sums, `n` the row count. Returns the Q20 loading vector.
    *
    * Overflow audit (all inside signed 64-bit): centered C entries are
    * ≤ n·(2.1e6)²; cS = C floor-div n·2^16 is ≤ ~2^26 at ANY corpus
    * size (covariance is bounded by the data range, not the corpus);
    * w = Σ_j cS·v over 64 Q20 terms ≤ 2^52; wq = w floor-div 2^24
    * ≤ 2^28, so Σ wq² ≤ 2^62.
    */
  /** The n-scaled centered covariance in cS units (C floor-div n·2^16,
    * where "floor-div" is the JVM's truncating `/` ≡ DuckDB `//`). */
  private def pcaMatrix(
      S: Array[Long], s: Array[Long], n: Long): Array[Long] = {
    val m = s.map(si => math.floor(si.toDouble / n + 0.5).toLong)
    val cS = new Array[Long](64 * 64)
    var i = 0
    while (i < 64) {
      var j = 0
      while (j < 64) {
        val c = S(i * 64 + j) - m(i) * s(j) - m(j) * s(i) + n * m(i) * m(j)
        cS(i * 64 + j) = c / (n * 65536L)
        j += 1
      }
      i += 1
    }
    cS
  }

  /** [[PcaRounds]] square-and-shift power rounds over an explicit matrix
    * (the deflation path feeds deflated matrices through the SAME loop).
    */
  private[graft] def powerRounds(cS: Array[Long]): Array[Long] = {
    var v = Array.fill(64)(1048576L) // Q20 all-ones start
    for (_ <- 0 until PcaRounds) {
      val wq = new Array[Long](64)
      var i = 0
      while (i < 64) {
        var w = 0L
        var j = 0
        while (j < 64) { w += cS(i * 64 + j) * v(j); j += 1 }
        wq(i) = w / 16777216L // 2^24, truncating like DuckDB //
        i += 1
      }
      var n2 = 0L
      i = 0
      while (i < 64) { n2 += wq(i) * wq(i); i += 1 }
      val norm = math.sqrt(math.max(n2, 1L).toDouble)
      v = wq.map(x => math.floor(x.toDouble * 1048576.0 / norm + 0.5).toLong)
    }
    v
  }

  private[graft] def pcaPowerLoop(
      S: Array[Long], s: Array[Long], n: Long): Array[Long] =
    powerRounds(pcaMatrix(S, s, n))

  /** Rayleigh eigenvalue (in cS units) of `v` under `cS`, plus the
    * deflated matrix cS - λ·(v vᵀ)/(vᵀv) — exactly the arithmetic the
    * oracle's deflation CTEs replay. The quadratic form vᵀcSv would
    * overflow a long (≤2^72), so each term w_i·v_i is taken in DOUBLE
    * (IEEE multiply is correctly rounded — deterministic in any
    * engine), scaled down by 2^30 and floored to a long BEFORE the
    * exact integer sum, keeping the aggregate order-insensitive.
    */
  private[graft] def pcaDeflate(
      cS: Array[Long], v: Array[Long]): (Double, Array[Long]) = {
    val w = new Array[Long](64)
    var i = 0
    while (i < 64) {
      var acc = 0L
      var j = 0
      while (j < 64) { acc += cS(i * 64 + j) * v(j); j += 1 }
      w(i) = acc
      i += 1
    }
    var num2 = 0L
    var den2 = 0L
    i = 0
    while (i < 64) {
      num2 += math.floor(w(i).toDouble * v(i).toDouble / 1073741824.0 + 0.5)
        .toLong
      den2 += v(i) * v(i)
      i += 1
    }
    val lam = num2.toDouble * 1073741824.0 / den2.toDouble
    val out = new Array[Long](64 * 64)
    i = 0
    while (i < 64) {
      var j = 0
      while (j < 64) {
        out(i * 64 + j) = cS(i * 64 + j) - math.floor(
          (num2.toDouble * 1073741824.0 / den2.toDouble) *
            (v(i).toDouble * v(j).toDouble) / den2.toDouble + 0.5).toLong
        j += 1
      }
      i += 1
    }
    (lam, out)
  }

  /** E8 — top principal component by distributed PCA: every embedding's
    * projection onto the corpus's leading variance direction — the
    * spectral statistic an embedding pipeline runs before whitening,
    * semantic dedup (SemDeDup whitens before cosine), drift monitoring,
    * or low-rank compression. Returns per-vector (pc1_q exact integer,
    * pc1 double) scores.
    *
    * Spark-first shape (the [[QualityClassifier]] precedent for model
    * loops): the corpus is scanned ONCE by a treeAggregate that folds
    * each row's quantized outer product into a 64×64+65-long partial
    * (raw second moments S, per-dim sums, count — centering is derived
    * EXACTLY as C = S - m·sᵀ - s·mᵀ + n·m·mᵀ with integer m, so the
    * one-pass fold loses nothing vs a center-then-multiply two-pass);
    * the 12 power-iteration rounds then run DRIVER-SIDE on the
    * model-sized 64×64 matrix in pure integer/IEEE arithmetic (re-
    * planning a 64-dim iteration through Catalyst would cost more in
    * planning than the math, the measured C18 lesson), and scoring is
    * one map-only codegen'd [[graft.functions.Portable.projMicros]]
    * pass against the literal Q20 loadings (the centering term is a
    * scalar constant folded driver-side). Every step is exact-integer
    * or order-fixed IEEE, so the DuckDB oracle replays the WHOLE
    * pipeline — moments, centering, 12 unrolled CTE rounds, scoring —
    * to the bit.
    */
  /** ONE corpus pass folding S (4096 raw second moments), per-dim sums
    * (64) and the count into a single treeAggregate partial. */
  private def pcaMoments(
      e: org.apache.spark.sql.DataFrame): (Array[Long], Array[Long], Long) = {
    val agg = e.select(col("embedding")).rdd
      .treeAggregate(new Array[Long](4096 + 64 + 1))(
        (acc, row) => {
          val emb = row.getSeq[Float](0)
          val q = new Array[Long](64)
          var i = 0
          while (i < 64) { q(i) = Kernels.q(emb(i)); i += 1 }
          i = 0
          while (i < 64) {
            val qi = q(i)
            val base = i * 64
            var j = 0
            while (j < 64) { acc(base + j) += qi * q(j); j += 1 }
            acc(4096 + i) += qi
            i += 1
          }
          acc(4160) += 1L
          acc
        },
        (a, b) => {
          var k = 0
          while (k < 4161) { a(k) += b(k); k += 1 }
          a
        })
    (java.util.Arrays.copyOf(agg, 4096),
      java.util.Arrays.copyOfRange(agg, 4096, 4160), agg(4160))
  }

  val embPca: Op = Op(
    "emb_pca",
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .repartition(col("vec_id"))
        .select(col("vec_id"), col("embedding"))
      val (mS, sums, n) = pcaMoments(e)
      val v = pcaPowerLoop(mS, sums, n)
      val m = sums.map(si => math.floor(si.toDouble / n + 0.5).toLong)
      val c0 = (0 until 64).map(i => m(i) * v(i)).sum
      // map-only scoring: pc1_q = Σ (q_i - m_i)·v_i = proj_micros - c0
      val pc1q = projMicros(col("embedding"),
        typedlit(v.toIndexedSeq)) - lit(c0)
      e.select(col("vec_id"), pc1q.as("pc1_q"),
          (pc1q.cast("double") / lit(1048576.0) / lit(1000000.0)).as("pc1"))
        .orderBy(col("vec_id"))
    },
    Some(sqlPca))

  /** E8's DuckDB twin: the full replay — moments, exact centering,
    * [[PcaRounds]] unrolled power-iteration rounds, scoring. Every CTE
    * is MATERIALIZED (the C18/C14 oracle discipline): each round
    * references its predecessor more than once, so inlining would
    * expand the chain 2^rounds-fold — the planner blowup (and parquet
    * handle explosion) the hint exists to prevent.
    */
  private def sqlPca: String = {
    val rounds = (1 to PcaRounds).map { r =>
      val prev = if (r == 1) "v0" else s"v${r - 1}"
      s"""w$r AS MATERIALIZED (
             SELECT cs.i, CAST(sum(cs.c * $prev.v) AS BIGINT) AS w
             FROM cs JOIN $prev ON cs.j = $prev.i GROUP BY cs.i),
      wq$r AS MATERIALIZED (SELECT i, w // 16777216 AS wq FROM w$r),
      n2$r AS MATERIALIZED (
             SELECT CAST(sum(wq*wq) AS BIGINT) AS n2 FROM wq$r),
      v$r AS MATERIALIZED (
              SELECT i, CAST(floor(CAST(wq AS DOUBLE) * 1048576.0 /
                sqrt(CAST(greatest(n2, 1) AS DOUBLE)) + 0.5) AS BIGINT) AS v
              FROM wq$r CROSS JOIN n2$r)"""
    }.mkString(",\n      ")
    s"""
      WITH xq AS MATERIALIZED (
        SELECT vec_id, ix,
               CAST(floor(CAST(embedding[ix] AS DOUBLE)*1000000 + 0.5)
                 AS BIGINT) AS q
        FROM (SELECT vec_id, embedding,
                     unnest(generate_series(1, len(embedding))) AS ix
              FROM embeddings) t),
      cnt AS MATERIALIZED (SELECT count(*) AS n FROM embeddings),
      sm AS MATERIALIZED (
             SELECT ix, CAST(sum(q) AS BIGINT) AS s FROM xq GROUP BY ix),
      mm AS MATERIALIZED (
             SELECT ix, CAST(floor(CAST(s AS DOUBLE)/n + 0.5) AS BIGINT) AS m
             FROM sm CROSS JOIN cnt),
      sp AS MATERIALIZED (
             SELECT a.ix AS i, b.ix AS j, CAST(sum(a.q*b.q) AS BIGINT) AS sp
             FROM xq a JOIN xq b USING (vec_id) GROUP BY a.ix, b.ix),
      cs AS MATERIALIZED (
             SELECT sp.i, sp.j,
                    (sp.sp - ma.m*sb.s - mb.m*sa.s + n*ma.m*mb.m)
                      // (n * 65536) AS c
             FROM sp
             JOIN mm ma ON ma.ix = sp.i JOIN mm mb ON mb.ix = sp.j
             JOIN sm sa ON sa.ix = sp.i JOIN sm sb ON sb.ix = sp.j
             CROSS JOIN cnt),
      v0 AS MATERIALIZED (SELECT ix AS i, CAST(1048576 AS BIGINT) AS v
             FROM (SELECT unnest(generate_series(1, 64)) AS ix)),
      $rounds,
      cx AS MATERIALIZED (
             SELECT xq.vec_id, xq.ix, xq.q - mm.m AS cx
             FROM xq JOIN mm USING (ix))
      SELECT vec_id, pc1_q,
             CAST(pc1_q AS DOUBLE) / 1048576.0 / 1000000.0 AS pc1
      FROM (SELECT cx.vec_id,
                   CAST(sum(cx.cx * v$PcaRounds.v) AS BIGINT) AS pc1_q
            FROM cx JOIN v$PcaRounds ON cx.ix = v$PcaRounds.i
            GROUP BY cx.vec_id) z
      ORDER BY vec_id"""
  }

  /** E9 component count: top-3 captures the whitening use case without
    * an oracle the size of a phone book (each component is 12
    * materialized CTE rounds + a deflation block).
    */
  private val WhitenK = 3

  /** E9 — PCA WHITENING coordinates: each embedding's projections onto
    * the top-[[WhitenK]] principal components (via eigenvalue deflation
    * of E8's integer power iteration) plus the variance-normalized
    * whitened coordinates z_c = pc_c/√λ_c — the standard preprocessing
    * before semantic dedup (SemDeDup whitens before cosine), diversity
    * scoring, or low-rank drift analysis. Same scale shape as E8: ONE
    * treeAggregate corpus pass, all K model loops driver-side
    * (deflation is 64×64 arithmetic), scoring K map-only codegen'd
    * projections in a single select. The oracle replays everything —
    * K×12 unrolled rounds, the exact deflation algebra, the λ-derived
    * scale factors — bit-for-bit.
    */
  val embWhiten: Op = Op(
    "emb_whiten",
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .repartition(col("vec_id"))
        .select(col("vec_id"), col("embedding"))
      val (mS, sums, n) = pcaMoments(e)
      val m = sums.map(si => math.floor(si.toDouble / n + 0.5).toLong)
      var mat = pcaMatrix(mS, sums, n)
      val comps = (0 until WhitenK).map { _ =>
        val v = powerRounds(mat)
        val (lam, next) = pcaDeflate(mat, v)
        mat = next
        (v, lam)
      }
      val cols = comps.zipWithIndex.flatMap { case ((v, lam), ci) =>
        val c = ci + 1
        val c0 = (0 until 64).map(i => m(i) * v(i)).sum
        val q = projMicros(col("embedding"), typedlit(v.toIndexedSeq)) -
          lit(c0)
        val pc = q.cast("double") / lit(1048576.0) / lit(1000000.0)
        // λ is in cS units; variance per vector is λ·2^16 micros², so
        // the per-component standard deviation in ORIGINAL units is
        // √(λ·65536)/1e6 — guarded for a deflated-away spectrum
        val sd = math.sqrt(math.max(lam, 1e-12) * 65536.0) / 1000000.0
        Seq(pc.as(s"pc$c"), (pc / lit(sd)).as(s"z$c"))
      }
      e.select(col("vec_id") +: cols: _*).orderBy(col("vec_id"))
    },
    Some(sqlWhiten))

  /** E9's DuckDB twin (all CTEs MATERIALIZED — see [[sqlPca]]). */
  private def sqlWhiten: String = {
    def roundsFor(cs: String, p: String): String =
      (1 to PcaRounds).map { r =>
        val prev = s"$p${r - 1}"
        s"""${p}w$r AS MATERIALIZED (
             SELECT $cs.i, CAST(sum($cs.c * $prev.v) AS BIGINT) AS w
             FROM $cs JOIN $prev ON $cs.j = $prev.i GROUP BY $cs.i),
      ${p}wq$r AS MATERIALIZED (SELECT i, w // 16777216 AS wq FROM ${p}w$r),
      ${p}n2$r AS MATERIALIZED (
             SELECT CAST(sum(wq*wq) AS BIGINT) AS n2 FROM ${p}wq$r),
      $p$r AS MATERIALIZED (
              SELECT i, CAST(floor(CAST(wq AS DOUBLE) * 1048576.0 /
                sqrt(CAST(greatest(n2, 1) AS DOUBLE)) + 0.5) AS BIGINT) AS v
              FROM ${p}wq$r CROSS JOIN ${p}n2$r)"""
      }.mkString(",\n      ")
    val comps = (1 to WhitenK).map { c =>
      val cs = s"cs$c"
      val vf = s"u${c}_$PcaRounds"
      val deflate = if (c < WhitenK)
        s""",
      cs${c + 1} AS MATERIALIZED (
             SELECT a.i, a.j,
                    a.c - CAST(floor(
                      (CAST(num2 AS DOUBLE) * 1073741824.0 /
                        CAST(den2 AS DOUBLE)) *
                      (CAST(va.v AS DOUBLE) * CAST(vb.v AS DOUBLE)) /
                      CAST(den2 AS DOUBLE) + 0.5) AS BIGINT) AS c
             FROM $cs a
             JOIN $vf va ON va.i = a.i JOIN $vf vb ON vb.i = a.j
             CROSS JOIN num$c CROSS JOIN den$c)"""
      else ""
      s"""u${c}_0 AS MATERIALIZED (
             SELECT ix AS i, CAST(1048576 AS BIGINT) AS v
             FROM (SELECT unnest(generate_series(1, 64)) AS ix)),
      ${roundsFor(cs, s"u${c}_")},
      wl$c AS MATERIALIZED (
             SELECT $cs.i, CAST(sum($cs.c * v.v) AS BIGINT) AS w
             FROM $cs JOIN $vf v ON $cs.j = v.i GROUP BY $cs.i),
      num$c AS MATERIALIZED (
             SELECT CAST(sum(CAST(floor(CAST(w.w AS DOUBLE) *
               CAST(v.v AS DOUBLE) / 1073741824.0 + 0.5) AS BIGINT))
               AS BIGINT) AS num2
             FROM wl$c w JOIN $vf v ON w.i = v.i),
      den$c AS MATERIALIZED (
             SELECT CAST(sum(v*v) AS BIGINT) AS den2 FROM $vf),
      p$c AS MATERIALIZED (
             SELECT cx.vec_id, CAST(sum(cx.cx * v.v) AS BIGINT) AS q
             FROM cx JOIN $vf v ON cx.ix = v.i GROUP BY cx.vec_id)$deflate"""
    }.mkString(",\n      ")
    val outCols = (1 to WhitenK).map { c =>
      val pc = s"CAST(p$c.q AS DOUBLE)/1048576.0/1000000.0"
      val lam = s"CAST(num$c.num2 AS DOUBLE) * 1073741824.0 / " +
        s"CAST(den$c.den2 AS DOUBLE)"
      s"""$pc AS pc$c,
             ($pc) / (sqrt(greatest($lam, 1e-12) * 65536.0) / 1000000.0)
               AS z$c"""
    }.mkString(",\n             ")
    val joins = (2 to WhitenK).map(c => s"JOIN p$c USING (vec_id)")
      .mkString(" ")
    val crosses = (1 to WhitenK)
      .map(c => s"CROSS JOIN num$c CROSS JOIN den$c").mkString(" ")
    s"""
      WITH xq AS MATERIALIZED (
        SELECT vec_id, ix,
               CAST(floor(CAST(embedding[ix] AS DOUBLE)*1000000 + 0.5)
                 AS BIGINT) AS q
        FROM (SELECT vec_id, embedding,
                     unnest(generate_series(1, len(embedding))) AS ix
              FROM embeddings) t),
      cnt AS MATERIALIZED (SELECT count(*) AS n FROM embeddings),
      sm AS MATERIALIZED (
             SELECT ix, CAST(sum(q) AS BIGINT) AS s FROM xq GROUP BY ix),
      mm AS MATERIALIZED (
             SELECT ix, CAST(floor(CAST(s AS DOUBLE)/n + 0.5) AS BIGINT) AS m
             FROM sm CROSS JOIN cnt),
      sp AS MATERIALIZED (
             SELECT a.ix AS i, b.ix AS j, CAST(sum(a.q*b.q) AS BIGINT) AS sp
             FROM xq a JOIN xq b USING (vec_id) GROUP BY a.ix, b.ix),
      cs1 AS MATERIALIZED (
             SELECT sp.i, sp.j,
                    (sp.sp - ma.m*sb.s - mb.m*sa.s + n*ma.m*mb.m)
                      // (n * 65536) AS c
             FROM sp
             JOIN mm ma ON ma.ix = sp.i JOIN mm mb ON mb.ix = sp.j
             JOIN sm sa ON sa.ix = sp.i JOIN sm sb ON sb.ix = sp.j
             CROSS JOIN cnt),
      cx AS MATERIALIZED (
             SELECT xq.vec_id, xq.ix, xq.q - mm.m AS cx
             FROM xq JOIN mm USING (ix)),
      $comps
      SELECT p1.vec_id,
             $outCols
      FROM p1 $joins $crosses
      ORDER BY p1.vec_id"""
  }

  /** E14's neighbor count. */
  private[operators] val KNN_K = 3

  /** E14's in-cell sub-bucketing dial — D11's shape
    * ([[DedupOps.semSubGeometry]]: 4 LSH tables once mean cell
    * occupancy passes ~512) with a TIGHTER occupancy target (~16 vs
    * D11's 64). The k-NN pair stream is denser than dedup's — EVERY
    * vector emits edges, not just the rare dup candidates — so the
    * in-cell pair quadratic is this workload's entire cost (the r13
    * verdict's watch item, confirmed: at 2M vectors the 64-target dial
    * ran 13× sf10's time for 10× data). Quartering bucket occupancy
    * quarters the pair work, while the 4-table OR keeps
    * nearest-neighbor recall where it matters: top-k neighbors are the
    * HIGHEST-cosine pairs, exactly the collisions extra hyperplanes
    * retain best (the D3/D5 band argument).
    */
  private[graft] def knnSubGeometry(
      n: Long, cells: Int): Option[AnnOps.LshGeometry] = {
    val occ = n.toDouble / cells
    if (occ <= 512) None
    else Some(AnnOps.LshGeometry(4, math.max(1, math.min(24,
      math.ceil(math.log(occ / 16.0) / math.log(2.0)).toInt))))
  }

  /** E14's body at an explicit geometry (cells + optional in-cell LSH) —
    * the [[graft.GeometryCheck]] seam, sharing D11's candidate
    * semantics through [[AnnOps.cellBucketedPairs]].
    */
  private[graft] def knnAt(
      s: SparkSession,
      d: String,
      cells: Int,
      sub: Option[AnnOps.LshGeometry]): DataFrame = {
    // trained per-corpus coarse cells (r16) — see DedupOps.semanticAt
    val (_, pairs) = AnnOps.cellBucketedPairs(
      AnnOps.withNorm(s, d), CentroidIndex.forCorpus(s, d, cells), sub)
    knnEdges(pairs, KNN_K).orderBy(col("vec_id"), col("rank"))
  }

  /** The edge ranking over an undirected pair stream — both directions
    * of every pair, then a bounded-heap top-k per source: the (−cos,
    * nbr) struct makes "highest cosine first, lowest id on ties" a
    * MIN-heap order, and posexplode of the sorted retained array IS
    * the rank. Factored (r17) so [[KnnIndex.buildFrom]] and the E14
    * board path rank edges through literally one definition.
    */
  private[graft] def knnEdges(pairs: DataFrame, k: Int): DataFrame = {
    val directed = pairs
      .select(col("i").as("src"), col("j").as("nbr"), col("cos"))
      .unionAll(pairs
        .select(col("j").as("src"), col("i").as("nbr"), col("cos")))
    directed
      .groupBy(col("src"))
      .agg(topkMin(struct((-col("cos")).as("negcos"), col("nbr")), k)
        .as("ks"))
      .select(col("src").as("vec_id"), posexplode(col("ks")).as(Seq("p", "k")))
      .select(col("vec_id"), (col("p") + 1).cast(LongType).as("rank"),
        col("k.nbr").as("nbr_id"), (-col("k.negcos")).as("cos"))
  }

  /** Candidate-pool multiplier for [[divKnnEdges]]: each vector's
    * shortlist is m = 2k nearest in-cell candidates (HNSW's
    * efConstruction idea at the smallest pool that still offers the
    * heuristic genuine alternatives — the candidate-pair cosine table
    * the oracle replays is m²-per-vector, so the pool is a sized dial,
    * not "the whole cell").
    */
  private[graft] val DIV_CAND_MULT = 2

  /** Diversified edge ranking (r18, E18b — the r17 verdict's ask #5):
    * Malkov & Yashunin 2018's SELECT-NEIGHBORS-HEURISTIC at build
    * time. Per vector v, walk the 2k-candidate shortlist in (cos desc,
    * id) order and KEEP a candidate c only if it is closer to v than
    * to every already-kept neighbor — cos(v,c) > cos(c,s) ∀ s kept —
    * then backfill remaining slots from the pruned candidates in
    * shortlist order (keepPrunedConnections), so the degree budget is
    * EXACTLY [[knnEdges]]' k. This diversifies edges at equal degree:
    * inside a cell holding several tight clusters the plain k-NN graph
    * connects cluster-mates almost exclusively (the measured 0.775
    * recall plateau, records/GRAPH_TUNE_r17.txt — beam=16 bought
    * +0.025 for 1.6× scan), while the heuristic trades redundant
    * cluster-mate edges for long-range links the beam walk can cross.
    *
    * Spark shape: one bounded-heap shortlist aggregate, ONE
    * candidate-sized join to re-attach neighbor vectors (n×2k rows),
    * then the greedy selection is a row-local HOF fold over the sorted
    * candidate array — O(k·2k) exact-micros dots per vector, no
    * shuffle beyond the shortlist's own. Deterministic end to end
    * (exact-micros cosines, id tie-breaks, strict > so ties prune), so
    * the oracle replays it as [[sqlDivEdgeCtes]]' unrolled
    * rank-and-filter steps.
    */
  private[graft] def divKnnEdges(
      pairs: DataFrame, members: DataFrame, k: Int): DataFrame = {
    val m = DIV_CAND_MULT * k
    val directed = pairs
      .select(col("i").as("src"), col("j").as("nbr"), col("cos"))
      .unionAll(pairs
        .select(col("j").as("src"), col("i").as("nbr"), col("cos")))
    // 2k-shortlist per src (bounded heap), then ONE id-width join
    // re-attaches each candidate's vector for the in-row dot products
    val shortlist = directed
      .groupBy(col("src"))
      .agg(topkMin(struct((-col("cos")).as("negcos"), col("nbr")), m)
        .as("ks"))
      .select(col("src"), explode(col("ks")).as("c"))
      .select(col("src"), col("c.negcos").as("negcos"),
        col("c.nbr").as("nbr"))
      .join(members.select(col("vec_id").as("nbr"),
        col("embedding").as("n_emb"), col("nm").as("n_nm")), "nbr")
    val carr = shortlist
      .groupBy(col("src"))
      .agg(sort_array(collect_list(struct(col("negcos"), col("nbr"),
        col("n_emb"), col("n_nm")))).as("carr"))
    def candCos(c: Column, s: Column): Column =
      cosineFromMicros(dotMicros(c("n_emb"), s("n_emb")),
        c("n_nm"), s("n_nm"))
    // greedy fold: slice(carr,1,0) is the empty accumulator OF THE
    // ELEMENT TYPE (no hand-written struct cast to drift out of sync)
    val kept = aggregate(col("carr"), slice(col("carr"), 1, 0),
      (acc, c) => when(size(acc) >= k, acc)
        .otherwise(when(forall(acc, s => candCos(c, s) < -c("negcos")),
          concat(acc, array(c))).otherwise(acc)))
    val selected = carr
      .withColumn("kept", kept)
      .withColumn("fill",
        slice(filter(col("carr"), c =>
          !array_contains(transform(col("kept"), s => s("nbr")),
            c("nbr"))),
          lit(1), greatest(lit(k) - size(col("kept")), lit(0))))
      .select(col("src"),
        explode(concat(col("kept"), col("fill"))).as("c"))
      .select(col("src"), col("c.negcos").as("negcos"),
        col("c.nbr").as("nbr"))
    // final ranks re-sort the SELECTED SET by (cos desc, id) — the
    // kedge contract consumers already speak
    selected
      .groupBy(col("src"))
      .agg(topkMin(struct(col("negcos"), col("nbr")), k).as("ks"))
      .select(col("src").as("vec_id"), posexplode(col("ks")).as(Seq("p", "k")))
      .select(col("vec_id"), (col("p") + 1).cast(LongType).as("rank"),
        col("k.nbr").as("nbr_id"), (-col("k.negcos")).as("cos"))
  }

  /** The pair-enumeration + edge-ranking CTE chain over an assigned
    * member frame `m(vec_id, embedding, nm, cell)` (norm CTE `e` must
    * also be in scope) — the D11 sqlSemanticAt pattern: pairs share
    * the cell AND, under sub-bucketing, ≥1 (tbl, bucket); DISTINCT
    * replays the engine's pair dedup. Ends with
    * `kedge(src, nbr, cos, rank)`, rank ≤ [[KNN_K]]. Factored (r17) so
    * the E14 oracle and the `ann_graph` oracle replay the identical
    * graph.
    */
  private[graft] def sqlKnnEdgeCtes(
      sub: Option[AnnOps.LshGeometry],
      k: Int = KNN_K): String = {
    // pair enumeration is ID-WIDTH (prid), vectors re-attach once for
    // the cosine — carrying the embedding lists through the candidate
    // join made DuckDB spill ~75 GB at sf10's 22M-pair geometry; this
    // formulation is result-identical and fits
    // every multi-consumer CTE is MATERIALIZED: DuckDB inlines CTEs by
    // default, so the 2M×cells assignment would otherwise re-execute
    // once per consumer (m feeds bk, mb, and both prid sides) — at
    // sf100 that stacked pipelines until the OOM killer fired
    val pairCte = sub match {
      case None =>
        """prid AS MATERIALIZED (SELECT a.vec_id AS i, b.vec_id AS j
             FROM m a JOIN m b
               ON a.cell = b.cell AND a.vec_id < b.vec_id)"""
      case Some(g) =>
        // planes as a VALUES table the dot-product lambda reads as a
        // COLUMN: inlining each 64-weight literal inside the lambda
        // ((`[w..]`)[ix]) makes DuckDB rebuild the list per ELEMENT —
        // measured 183× slower than the column form on identical sums;
        // at sf100's 8M bucket rows the literal form priced ~10 h
        // single-threaded. The (tbl, k, w) unpivot + sum-of-shifted-
        // sign-bits packs the identical bucket id from the identical
        // exact integer sign tests.
        val pwRows = (for { t <- 0 until g.tables; k <- 0 until g.planes }
          yield s"($t, $k, ${AnnOps.planeWeights(t * g.planes + k)
            .mkString("[", ",", "]")}::BIGINT[])")
          .mkString(",\n          ")
        s"""pw AS (SELECT * FROM (VALUES
          $pwRows) AS pw(tbl, k, w)),
      bk AS MATERIALIZED (
             SELECT m.vec_id, pw.tbl,
               CAST(sum(CASE WHEN CAST(list_sum(list_transform(generate_series(1,64), ix ->
                 CAST(floor(CAST(m.embedding[ix] AS DOUBLE)*1000000+0.5) AS BIGINT) *
                 pw.w[ix])) AS BIGINT) > 0
                 THEN (CAST(1 AS BIGINT) << pw.k) ELSE 0 END) AS BIGINT) AS bucket
             FROM m, pw GROUP BY m.vec_id, pw.tbl),
      mb AS MATERIALIZED (SELECT m.vec_id, m.cell, bk.tbl, bk.bucket
             FROM m JOIN bk USING (vec_id)),
      prid AS MATERIALIZED (SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
             FROM mb a JOIN mb b
               ON a.cell = b.cell AND a.tbl = b.tbl AND a.bucket = b.bucket
                 AND a.vec_id < b.vec_id)"""
    }
    s"""$pairCte,
      pr AS MATERIALIZED (
             SELECT prid.i, prid.j, ${AnnOps.sqlCos("x", "y")} AS cos
             FROM prid
             JOIN e x ON prid.i = x.vec_id
             JOIN e y ON prid.j = y.vec_id),
      dg AS (SELECT i AS src, j AS nbr, cos FROM pr
             UNION ALL SELECT j, i, cos FROM pr),
      kedge AS (
        SELECT src, nbr, cos, rank FROM (
          SELECT src, nbr, cos,
                 CAST(row_number() OVER (PARTITION BY src
                   ORDER BY cos DESC, nbr) AS BIGINT) AS rank
          FROM dg) t
        WHERE rank <= $k)"""
  }

  /** [[divKnnEdges]]' oracle twin (r18, E18b): the same pair chain as
    * [[sqlKnnEdgeCtes]] through `dg`, then the select-neighbors
    * heuristic UNROLLED — one rank-and-filter CTE per of the k greedy
    * steps. `cand` is the 2k shortlist per src; `ccos` materializes
    * every co-candidate pair's cosine ONCE (m² per src, id-width +
    * one vector re-attach) so the k steps are pure joins; step t keeps
    * the lowest-ranked candidate not yet kept that beats every kept
    * neighbor (NOT EXISTS s: ccos(c,s) >= cos(v,c) — ties prune, the
    * engine's strict >); `bf` backfills pruned candidates in shortlist
    * order up to degree k; final `kedge` re-ranks the selected set by
    * (cos DESC, nbr) — all identical to the engine fold, step for
    * step.
    */
  private[graft] def sqlDivEdgeCtes(
      sub: Option[AnnOps.LshGeometry],
      k: Int): String = {
    require(k >= 2,
      s"sqlDivEdgeCtes needs k >= 2 (got $k): with one greedy step the" +
        " select-neighbors unroll degenerates (kept1 == kedge)")
    val m = DIV_CAND_MULT * k
    val base = sqlKnnEdgeCtes(sub, k)
    // reuse the shared chain verbatim, minus its plain-kNN kedge tail
    val tailIdx = base.lastIndexOf(",\n      kedge AS (")
    require(tailIdx >= 0,
      "sqlKnnEdgeCtes' kedge tail not found — the shared chain's " +
        "indentation drifted; re-align sqlDivEdgeCtes' splice marker")
    val chain = base.substring(0, tailIdx)
    val steps = (2 to k).map { t =>
      s"""sel$t AS MATERIALIZED (
        SELECT src, nbr, cos, crn FROM (
          SELECT c.src, c.nbr, c.cos, c.crn,
                 row_number() OVER (PARTITION BY c.src ORDER BY c.crn)
                   AS srn
          FROM cand c
          WHERE NOT EXISTS (SELECT 1 FROM kept${t - 1} s
                  WHERE s.src = c.src AND s.nbr = c.nbr)
            AND NOT EXISTS (SELECT 1 FROM kept${t - 1} s
                  JOIN ccos p ON p.src = s.src AND p.x = c.nbr
                    AND p.y = s.nbr
                  WHERE s.src = c.src AND p.cos >= c.cos)) u
        WHERE srn = 1),
      kept$t AS MATERIALIZED (
        SELECT src, nbr, cos, crn FROM kept${t - 1}
        UNION ALL SELECT src, nbr, cos, crn FROM sel$t)"""
    }.mkString(",\n      ")
    s"""$chain,
      cand AS MATERIALIZED (
        SELECT src, nbr, cos, crn FROM (
          SELECT src, nbr, cos,
                 row_number() OVER (PARTITION BY src
                   ORDER BY cos DESC, nbr) AS crn
          FROM dg) t
        WHERE crn <= $m),
      ccos AS MATERIALIZED (
        SELECT a.src, a.nbr AS x, b.nbr AS y,
               ${AnnOps.sqlCos("ex", "ey")} AS cos
        FROM cand a
        JOIN cand b ON a.src = b.src AND a.nbr != b.nbr
        JOIN e ex ON ex.vec_id = a.nbr
        JOIN e ey ON ey.vec_id = b.nbr),
      kept1 AS MATERIALIZED (
        SELECT src, nbr, cos, crn FROM cand WHERE crn = 1),
      $steps,
      bf AS (SELECT c.src, c.nbr, c.cos,
               row_number() OVER (PARTITION BY c.src ORDER BY c.crn)
                 AS brn
             FROM cand c
             WHERE NOT EXISTS (SELECT 1 FROM kept$k s
                     WHERE s.src = c.src AND s.nbr = c.nbr)),
      nsel AS (SELECT src, count(*) AS nk FROM kept$k GROUP BY src),
      kedge AS (
        SELECT src, nbr, cos, rank FROM (
          SELECT src, nbr, cos,
                 CAST(row_number() OVER (PARTITION BY src
                   ORDER BY cos DESC, nbr) AS BIGINT) AS rank
          FROM (SELECT src, nbr, cos FROM kept$k
                UNION ALL
                SELECT b.src, b.nbr, b.cos FROM bf b
                JOIN nsel USING (src) WHERE b.brn <= $k - nsel.nk) f) t
        WHERE rank <= $k)"""
  }

  /** E14's oracle at an explicit geometry — the full statement over
    * [[sqlKnnEdgeCtes]].
    */
  private[graft] def sqlKnnAt(
      cells: Int, sub: Option[AnnOps.LshGeometry]): String =
    s"""
      WITH ${AnnOps.sqlNormCte},
      -- r16: the TRAINED coarse centroids (unrolled Lloyd-round CTEs),
      -- then nearest-cell assignment as a STREAMING max-of-struct
      -- aggregate (≡ the engine's cell_argmax (ccos, −c_id) winner):
      -- the window formulation materialized n·cells rows WITH their
      -- embedding lists for the sort — the oracle-side spill that
      -- killed the sf10 record; the aggregate keeps one struct/vector
      ${AnnOps.sqlIvfTrainCtes(cells, AnnOps.IVF_ROUNDS)},
      ${AnnOps.sqlIvfAssignAggCte(AnnOps.IVF_ROUNDS)},
      m AS MATERIALIZED (SELECT e.vec_id, e.embedding, e.nm, assign.cell
            FROM e JOIN assign USING (vec_id)),
      ${sqlKnnEdgeCtes(sub)}
      SELECT src AS vec_id, rank, nbr AS nbr_id, cos FROM kedge
      ORDER BY vec_id, rank"""

  /** E14 — the k-NN GRAPH over the embedding corpus: every vector's
    * top-[[KNN_K]] in-cell neighbors by exact-micros cosine — the
    * all-corpus neighbor structure (not E1–E12's 8-query lookups) that
    * SemDeDup clustering, kNN-LM datastores, dataset cartography and
    * duplicate-aware mixing all start from. Candidates are CELL-BLOCKED
    * (D11's exact semantics, via the shared
    * [[AnnOps.cellBucketedPairs]] generator): the graph is the k-NN
    * graph of the coarse-quantized neighborhoods, which is the
    * practical object at scale — a vector in a singleton cell has no
    * edges, and the oracle states the same blocking, so the result is
    * deterministic and engine-exact rather than a recall-bearing
    * approximation of the metric graph.
    *
    * Scale shape: one corpus-sized shuffle (the bucket groupBy, vectors
    * riding in the rows), in-task pair scoring bounded by cell/bucket
    * occupancy (the D11 dial splits cells above ~512), and the top-k is
    * a bounded-heap aggregate over the directed pair stream — ≤ k rows
    * per (vector, partition) shuffle, never a window over all pairs.
    * Geometry follows the corpus like D11 (√n cells + the same sub-LSH
    * dial), GeometryCheck-replayable at the active geometry.
    */
  val embKnnGraph: Op = Op(
    "emb_knn_graph",
    (s, d) => {
      val n = Tables.embeddings(s, d).count()
      val cells = AnnOps.ivfCellsFor(n)
      AnnOps.logGeometryDivergence("emb_knn_graph", s"$cells cells",
        s"${AnnOps.CENTROIDS} cells")
      // r17: the graph is a PERSISTED per-corpus artifact (the r16
      // verdict's warm-rebuild gap) — the first invocation builds and
      // saves (identical arithmetic to the inline knnAt path:
      // KnnIndexSpec pins loaded ≡ built ≡ knnAt), every later one
      // reads the edge parquet
      KnnIndex.neighbors(
        KnnIndex.forCorpus(s, d, cells, knnSubGeometry(n, cells)))
    },
    Some(sqlKnnAt(AnnOps.CENTROIDS, None)))

  val all: Seq[Op] =
    Seq(embCentroids, embQuantize, embOutliers, embPca, embWhiten,
      embKnnGraph)
}
