package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** The exact-micros arithmetic of every codegen'd vector kernel,
  * written once. Each [[VectorExpressions]] kernel's `nullSafeEval`
  * calls the function here, and its `doGenCode` emits one static call
  * to it (the `DateTimeUtils` pattern), so interpreted and generated
  * evaluation cannot drift. The driver-local engines
  * ([[graft.operators.LocalWalk]], the local Lloyd loop in
  * [[graft.operators.AnnOps]]) call the same functions on the same
  * operand forms, so local ≡ distributed parity holds by construction.
  *
  * The arithmetic: a float quantizes to integer micros as
  * floor(f·1e6+0.5) (floor, not round — engines disagree on halfway
  * modes); dots and distances are exact long sums; the only doubles
  * are the unit-sphere normalize and the one cosine division, in a
  * fixed IEEE op order the DuckDB oracle replays.
  *
  * Functions that take a `scratch` buffer quantize into it when it is
  * large enough and allocate one sized from the input otherwise: the
  * generated code passes a per-partition `long[64]` (the engine's
  * embedding width), so it allocates nothing per row at that width,
  * and `eval` passes null.
  */
object Kernels {

  /** The stride of [[cellArgmax]]'s packed centroid layout — the
    * engine's embedding width.
    */
  val CellStride = 64

  /** A float in exact integer micros. */
  def q(f: Float): Long = math.floor(f.toDouble * 1e6 + 0.5).toLong

  /** Cosine from an integer dot and the two integer self-dots: one
    * double division, dot/(√na·√nb).
    */
  def cos(dot: Long, na: Long, nb: Long): Double =
    cosRooted(dot, math.sqrt(na.toDouble), math.sqrt(nb.toDouble))

  /** [[cos]] with the square roots already taken (IEEE sqrt is exact
    * to the bit, so hoisting it to pack time changes nothing).
    */
  private def cosRooted(dot: Long, ra: Double, rb: Double): Double =
    dot.toDouble / (ra * rb)

  /** A shape argument the kernel divides by: a non-positive one is a
    * caller error, reported by SQL function and argument name.
    */
  private def positive(fn: String, arg: String, v: Int): Unit =
    if (v <= 0) throw new IllegalArgumentException(s"$fn: $arg must be positive, got $v")

  private def buffer(scratch: Array[Long], n: Int): Array[Long] =
    if (scratch != null && scratch.length >= n) scratch else new Array[Long](n)

  /** q(v_i) for i < dims, into `scratch` when it fits. */
  private def quantize(v: ArrayData, dims: Int, scratch: Array[Long]): Array[Long] = {
    val out = buffer(scratch, dims)
    var i = 0
    while (i < dims) { out(i) = q(v.getFloat(i)); i += 1 }
    out
  }

  /** The unit-sphere quantization floor(q(v_i)/√nm·1e6+0.5), 0 when
    * nm = 0, into `scratch` when it fits.
    */
  private def qnorm(v: ArrayData, nm: Long, scratch: Array[Long]): Array[Long] = {
    val dims = v.numElements()
    val out = buffer(scratch, dims)
    val rt = math.sqrt(nm.toDouble)
    var i = 0
    while (i < dims) {
      out(i) = if (nm == 0L) 0L
        else math.floor(q(v.getFloat(i)).toDouble / rt * 1e6 + 0.5).toLong
      i += 1
    }
    out
  }

  /** `dot_micros`: Σ q(a_i)·q(b_i) over the common prefix. */
  def dotMicros(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += q(a.getFloat(i)) * q(b.getFloat(i)); i += 1 }
    acc
  }

  /** `proj_micros`: Σ q(v_i)·w_i over the common prefix. */
  def projMicros(v: ArrayData, w: ArrayData): Long = {
    val n = math.min(v.numElements(), w.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += q(v.getFloat(i)) * w.getLong(i); i += 1 }
    acc
  }

  /** `lsh_buckets`: per table t, bit k set iff Σ_i q(v_i)·w[(t·planes+k)·64+i]
    * > 0, over the first min(dims, 64) components.
    */
  def lshBuckets(v: ArrayData, w: ArrayData, planes: Int,
      scratch: Array[Long]): ArrayData = {
    positive("lsh_buckets", "planes", planes)
    val dims = math.min(v.numElements(), 64)
    val tables = w.numElements() / (planes * 64)
    val qv = quantize(v, dims, scratch)
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var k = 0
      while (k < planes) {
        val base = (t * planes + k) * 64
        var acc = 0L
        var i = 0
        while (i < dims) { acc += qv(i) * w.getLong(base + i); i += 1 }
        if (acc > 0) bucket |= (1L << k)
        k += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  /** `qnorm_micros`: the unit-sphere quantization as a fresh array. */
  def qnormMicros(v: ArrayData, nm: Long): ArrayData =
    new GenericArrayData(qnorm(v, nm, null))

  /** Squared L2 distance of q[qOff, qOff+n) to cent[cOff, cOff+n). */
  private def l2(qv: Array[Long], qOff: Int, cent: ArrayData, cOff: Int, n: Int): Long = {
    var acc = 0L
    var j = 0
    while (j < n) {
      val d = qv(qOff + j) - cent.getLong(cOff + j)
      acc += d * d
      j += 1
    }
    acc
  }

  /** The m×k distance table of a dims-long vector against the
    * subspace-major codebook (cent[(s·k+c)·subDim + j]); empty for an
    * empty vector.
    */
  private def distTable(fn: String, qv: Array[Long], dims: Int, cent: ArrayData,
      subDim: Int): ArrayData = {
    positive(fn, "subDim", subDim)
    val m = dims / subDim
    val k = if (dims == 0) 0 else cent.numElements() / dims
    val out = new Array[Long](m * k)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < k) {
        out(s * k + c) = l2(qv, s * subDim, cent, (s * k + c) * subDim, subDim)
        c += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Per subspace, the first centroid of least distance (the oracle's
    * ORDER BY dist, c) — [[distTable]]'s argmin without the table.
    */
  private def nearest(fn: String, qv: Array[Long], dims: Int, cent: ArrayData,
      subDim: Int): ArrayData = {
    positive(fn, "subDim", subDim)
    val m = dims / subDim
    val k = if (dims == 0) 0 else cent.numElements() / dims
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = Long.MaxValue
      var bc = 0
      var c = 0
      while (c < k) {
        val acc = l2(qv, s * subDim, cent, (s * k + c) * subDim, subDim)
        if (acc < best) { best = acc; bc = c }
        c += 1
      }
      out(s) = bc
      s += 1
    }
    new GenericArrayData(out)
  }

  private def longs(v: ArrayData, scratch: Array[Long]): Array[Long] = {
    val dims = v.numElements()
    val out = buffer(scratch, dims)
    var i = 0
    while (i < dims) { out(i) = v.getLong(i); i += 1 }
    out
  }

  /** `pq_dists`: [[pqlDists]] of the unit-sphere quantized vector. */
  def pqDists(v: ArrayData, cent: ArrayData, subDim: Int, nm: Long,
      scratch: Array[Long]): ArrayData =
    distTable("pq_dists", qnorm(v, nm, scratch), v.numElements(), cent, subDim)

  /** `pql_dists`: the distance table of an already-normalized vector. */
  def pqlDists(v: ArrayData, cent: ArrayData, subDim: Int,
      scratch: Array[Long]): ArrayData =
    distTable("pql_dists", longs(v, scratch), v.numElements(), cent, subDim)

  /** `pq_encode`: [[pqlEncode]] of the unit-sphere quantized vector. */
  def pqEncode(v: ArrayData, cent: ArrayData, subDim: Int, nm: Long,
      scratch: Array[Long]): ArrayData =
    nearest("pq_encode", qnorm(v, nm, scratch), v.numElements(), cent, subDim)

  /** `pql_encode`: per-subspace nearest centroid of an
    * already-normalized vector.
    */
  def pqlEncode(v: ArrayData, cent: ArrayData, subDim: Int,
      scratch: Array[Long]): ArrayData =
    nearest("pql_encode", longs(v, scratch), v.numElements(), cent, subDim)

  /** `cell_argmax`: the id of the max-cosine centroid in the packed
    * struct (ids: array<long>, flat: array<long> raw centroid micros at
    * stride [[CellStride]], sn: array<double> the centroids' √c_nm).
    * Cosine is acc/(√nm·sn_c) over the first min(dims, 64) components;
    * the winner follows Spark's SQL double order (x == y ties even for
    * ±0.0, otherwise Double.compare, NaN above all), then the lowest id,
    * so the packed order does not matter. No cells gives Long.MinValue.
    */
  def cellArgmax(v: ArrayData, nm: Long, cents: InternalRow,
      scratch: Array[Long]): Long = {
    val ids = cents.getArray(0)
    val flat = cents.getArray(1)
    val sn = cents.getArray(2)
    val dims = math.min(v.numElements(), CellStride)
    val qv = quantize(v, dims, scratch)
    val rn = math.sqrt(nm.toDouble)
    var bestId = Long.MinValue
    var bestCos = 0.0
    var first = true
    var c = 0
    val nc = ids.numElements()
    while (c < nc) {
      val base = c * CellStride
      var acc = 0L
      var i = 0
      while (i < dims) { acc += qv(i) * flat.getLong(base + i); i += 1 }
      val ccos = cosRooted(acc, rn, sn.getDouble(c))
      val cmp =
        if (first) 1
        else if (ccos == bestCos) 0
        else java.lang.Double.compare(ccos, bestCos)
      val cid = ids.getLong(c)
      if (cmp > 0 || (cmp == 0 && cid < bestId)) {
        bestId = cid; bestCos = ccos; first = false
      }
      c += 1
    }
    bestId
  }

  /** `lsub_micros`: element-wise a_i − b_i over the common prefix. */
  def lsubMicros(a: ArrayData, b: ArrayData): ArrayData = {
    val n = math.min(a.numElements(), b.numElements())
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = a.getLong(i) - b.getLong(i); i += 1 }
    new GenericArrayData(out)
  }

  /** `log2_q16`: fixed-point log2(num/den) with 16 fractional bits by
    * the exact integer recipe [[VectorExpressions.Log2Q16Expr]]
    * documents. Contract num ≥ den ≥ 1.
    */
  def log2q16(num: Long, den: Long): Long = {
    val blenN = 64 - java.lang.Long.numberOfLeadingZeros(num)
    val blenD = 64 - java.lang.Long.numberOfLeadingZeros(den)
    val n2 = if (blenN <= 33) num << (33 - blenN) else num >> (blenN - 33)
    val d2 = if (blenD <= 33) den << (33 - blenD) else den >> (blenD - 33)
    val e0 = if (n2 >= d2) 0 else -1
    val e = (blenN - blenD) + e0
    var v = if (e0 == 0) (n2 << 30) / d2 else ((n2 << 30) / d2) << 1
    var acc = 0L
    var i = 0
    while (i < 16) {
      val u = v * v
      if (u >= (1L << 61)) { acc = acc * 2 + 1; v = u >> 31 }
      else { acc = acc * 2; v = u >> 30 }
      i += 1
    }
    (e.toLong << 16) + acc
  }
}
