package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, QuaternaryExpression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.SparkSessionExtensions

/** Native vector and text kernels, registered on every graft session
  * via [[registerAll]] (SparkSessionExtensions.injectFunction) and
  * callable from SQL as `dot_micros(a, b)`, `proj_micros(v, w)`, ….
  *
  * The exact-micros vector kernels sit on the hot path of every
  * similarity op (ANN top-k, embedding dedup, LSH bucketing, PQ).
  * Spelled with `zip_with`/`aggregate`/`transform` they would run as
  * INTERPRETED higher-order functions — per-element lambda dispatch and
  * an allocation per row pair. Each of them instead evaluates AND
  * generates code as one call into [[Kernels]], where its arithmetic is
  * written once: `eval`, the generated code and the driver-local
  * engines cannot disagree, and the DuckDB oracle twins replay the
  * same IEEE ops in the same order. The text kernels (minhash16,
  * phash63, …) run one call per DOCUMENT, so they stay
  * CodegenFallback.
  */
object VectorExpressions {

  private val K = Kernels.getClass.getName.stripSuffix("$")

  /** A per-partition `long[64]` the generated code lends to a kernel as
    * its quantize buffer (see [[Kernels]]).
    */
  private def scratch(ctx: CodegenContext): String =
    ctx.addMutableState("long[]", "kernelScratch",
      v => s"$v = new long[${Kernels.CellStride}];")

  /** `dot_micros(a: array<float>, b: array<float>): long` — exact integer
    * dot product in micro units (both sides quantized).
    */
  case class DotMicrosExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    // inputs are array<float> × array<float>; call sites are the graft
    // helpers, which guarantee the types (ExpectsInputTypes is private[sql])
    override def dataType: DataType = LongType
    override def prettyName: String = "dot_micros"

    override def nullSafeEval(a: Any, b: Any): Any =
      Kernels.dotMicros(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$K.dotMicros($a, $b)")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** `proj_micros(v: array<float>, w: array<long>): long` — exact integer
    * projection of a quantized float vector onto integer hyperplane
    * weights (the LSH bucketing kernel): Σ floor(v_i·1e6+0.5)·w_i.
    */
  case class ProjMicrosExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    // inputs are array<float> × array<long> (see note on DotMicrosExpr)
    override def dataType: DataType = LongType
    override def prettyName: String = "proj_micros"

    override def nullSafeEval(a: Any, b: Any): Any =
      Kernels.projMicros(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$K.projMicros($a, $b)")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** `lsh_buckets(emb: array<float>, w: array<long>, planes: int):
    * array<long>` — ALL per-table LSH bucket ids of one embedding in a
    * single fused pass. `w` is the flattened plane-weight matrix
    * (tables·planes rows × 64 weights, [[graft.operators.AnnOps.planeWeights]]
    * order); bucket t packs the sign bits of planes t·planes ..
    * t·planes+planes-1, bit k = (Σ_i q(v_i)·w_i > 0), exactly the
    * composed `shiftleft(when(proj_micros(...) > 0, ...))` chain it
    * replaces (AnnSpec pins the equivalence against an independent
    * re-derivation).
    *
    * Why fused: the composed form put tables×planes separate
    * [[ProjMicrosExpr]] loops into ONE generated projection method —
    * at the corpus-sized sf10 geometry (8×10) that method passes the
    * JVM's 8000-bytecode JIT ceiling (-XX:HugeMethodLimit), so the
    * hottest loop in the engine ran in the bytecode INTERPRETER:
    * measured 62 s for a 200k-row hash pass that the fused kernel (one
    * ~200-bytecode nested loop, quantizing the 64 floats ONCE instead
    * of once per plane) does in ~1 s. Geometry growth makes the
    * composed form worse exactly when scale makes it hot — planes
    * GROW as log2(n), so the 100 TB geometry is the one the JIT
    * refuses. The weight stride is fixed at 64 = the engine's embedding
    * dimensionality (the same 64 in every oracle's
    * `generate_series(1,64)` projection).
    */
  case class LshBucketsExpr(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "lsh_buckets"

    override def nullSafeEval(a: Any, w: Any, p: Any): Any =
      Kernels.lshBuckets(a.asInstanceOf[ArrayData], w.asInstanceOf[ArrayData],
        p.asInstanceOf[Int], null)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val buf = scratch(ctx)
      defineCodeGen(ctx, ev, (a, w, p) => s"$K.lshBuckets($a, $w, $p, $buf)")
    }

    override protected def withNewChildrenInternal(
        newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
      copy(first = newFirst, second = newSecond, third = newThird)
  }

  /** `pq_dists(emb: array<float>, cent: array<long>, subDim: int,
    * nm: long): array<long>` — the product-quantization distance table
    * of one UNIT-NORMALIZED embedding against a flattened per-subspace
    * codebook, in exact integer micros. Each component quantizes as
    * floor(q(v_i)/√nm·1e6+0.5), with q = [[Kernels.q]] and nm the
    * exact-micros self-dot — on the unit sphere squared-L2 is
    * monotone in cosine (‖u−w‖² = 2−2cos), so ADC ordering tracks the
    * engine's cosine ranking; the double divide/multiply chain is IEEE
    * correctly-rounded in both engines (the G10c sqrt argument), so the
    * quantization replays bit-identically in the oracle. `cent` is laid
    * out subspace-major: cent[(s·k + c)·subDim + j] = normalized micros
    * of centroid c of subspace s at local dim j; m = len(emb)/subDim
    * subspaces and k = len(cent)/len(emb) centroids are derived from the
    * operand shapes. Output index s·k + c holds the squared L2 distance
    * of the vector's s-th normalized sub-vector to centroid (s, c) —
    * the query-side ADC lookup table.
    *
    * Why native: this is PQ's only corpus-sized arithmetic (m·k·subDim =
    * 1024 multiply-adds per row at the board geometry); the HOF spelling
    * would run interpreted per-element like the pre-kernel minhash did.
    * Bounds: |qu| ≤ ~1e6+ε, diff² ≤ ~4.4e12, ×64 dims ≪ Long.MaxValue
    * even summed over all subspaces.
    */
  case class PqDistsExpr(first: Expression, second: Expression,
      third: Expression, fourth: Expression)
      extends QuaternaryExpression {
    // inputs are array<float> × array<long> × int × long (see
    // DotMicrosExpr note)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "pq_dists"

    override def nullSafeEval(a: Any, cent: Any, sd: Any, nm: Any): Any =
      Kernels.pqDists(a.asInstanceOf[ArrayData], cent.asInstanceOf[ArrayData],
        sd.asInstanceOf[Int], nm.asInstanceOf[Long], null)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val buf = scratch(ctx)
      defineCodeGen(ctx, ev,
        (a, cent, sd, nm) => s"$K.pqDists($a, $cent, $sd, $nm, $buf)")
    }

    override protected def withNewChildrenInternal(
        newFirst: Expression, newSecond: Expression, newThird: Expression,
        newFourth: Expression): Expression =
      copy(first = newFirst, second = newSecond, third = newThird,
        fourth = newFourth)
  }

  /** `pq_encode(emb: array<float>, cent: array<long>, subDim: int,
    * nm: long): array<int>` — the PQ code assignment directly: per
    * subspace, the index of the nearest centroid (squared-L2 over the
    * [[PqDistsExpr]]-normalized micros, first-lowest index on ties,
    * matching the oracle's ORDER BY dist, c). Same operand layout and
    * quantization as pq_dists.
    *
    * Why a second kernel: corpus-side assignment/encode only needs the
    * ARGMIN, but deriving it from pq_dists materializes the full m×k
    * table per row — 2048 longs = 16 KB/row at the 8-bit scale
    * geometry, i.e. ~32 GB of intermediate per corpus pass at 2M
    * vectors (the measured sf100 cost). This loop keeps the running
    * minimum in registers and emits m ints. pq_dists remains the
    * QUERY-side kernel, where the full table IS the ADC output and the
    * row count is the query set.
    */
  case class PqEncodeExpr(first: Expression, second: Expression,
      third: Expression, fourth: Expression)
      extends QuaternaryExpression {
    // inputs are array<float> × array<long> × int × long
    override def dataType: DataType =
      ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "pq_encode"

    override def nullSafeEval(a: Any, cent: Any, sd: Any, nm: Any): Any =
      Kernels.pqEncode(a.asInstanceOf[ArrayData], cent.asInstanceOf[ArrayData],
        sd.asInstanceOf[Int], nm.asInstanceOf[Long], null)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val buf = scratch(ctx)
      defineCodeGen(ctx, ev,
        (a, cent, sd, nm) => s"$K.pqEncode($a, $cent, $sd, $nm, $buf)")
    }

    override protected def withNewChildrenInternal(
        newFirst: Expression, newSecond: Expression, newThird: Expression,
        newFourth: Expression): Expression =
      copy(first = newFirst, second = newSecond, third = newThird,
        fourth = newFourth)
  }

  /** `qnorm_micros(emb: array<float>, nm: long): array<long>` — the
    * unit-sphere quantization [[PqDistsExpr]] applies internally,
    * exposed as a column: out[i] = floor(q(v_i)/√nm·1e6+0.5), 0 when
    * nm = 0, with q = [[Kernels.q]]. The HOF spelling (a
    * transform lambda per element with a floor/divide chain inside)
    * runs interpreted and dominated E10's Lloyd pass at sf100 (64
    * interpreted evals × corpus rows per round).
    */
  case class QnormMicrosExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    // inputs are array<float> × long (see DotMicrosExpr note)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "qnorm_micros"

    override def nullSafeEval(a: Any, nm: Any): Any =
      Kernels.qnormMicros(a.asInstanceOf[ArrayData], nm.asInstanceOf[Long])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, nm) => s"$K.qnormMicros($a, $nm)")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** `cell_argmax(emb: array<float>, nm: long,
    * cents: struct<ids: array<long>, flat: array<long>,
    * sn: array<double>>): long` — the id of the max-cosine coarse
    * centroid for one corpus row, computed entirely map-side. `flat`
    * holds every centroid's RAW quantized micros
    * (`qnorm_micros(c_emb, 1e12)`) zero-padded to a fixed stride of 64
    * (the engine's embedding width), and `sn` the PRE-COMPUTED
    * `sqrt(cast(c_nm as double))`, so the per-cell score is the
    * composed `cosineFromMicros(dotMicros(emb, c_emb), nm, c_nm)`
    * double. The winner is the cell `max_by(c_id, struct(ccos, -c_id))`
    * picks (see [[Kernels.cellArgmax]]); call sites guarantee ≥ 1 cell.
    *
    * Why native: this replaces the corpus×cells crossJoin +
    * `groupBy(vec_id).agg(max_by(...))` assignment shape — same
    * arithmetic, but the corpus-sized id-width SHUFFLE (and, at the
    * means/residual consumers, the corpus-sided join back) disappears:
    * assignment becomes a projection fused into the corpus scan, and
    * the embedding quantizes ONCE per row instead of once per cell.
    *
    * Why FLAT arrays and not array<struct<...>>: on UnsafeArrayData
    * the three parallel primitive arrays read with direct getLong/
    * getDouble — an array-of-structs layout allocates an UnsafeRow
    * wrapper per getStruct and an UnsafeArrayData wrapper per
    * getArray, i.e. 2·rows·cells garbage objects per pass (708M at
    * 2M vectors × 354 cells — measured 1.5× warm-rep cost at sf100).
    */
  case class CellArgmaxExpr(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression {
    // inputs are array<float> × long × struct<array<long>,
    // array<long>, array<double>> (see DotMicrosExpr note)
    override def dataType: DataType = LongType
    override def prettyName: String = "cell_argmax"

    override def checkInputDataTypes(): TypeCheckResult = {
      val ok = (first.dataType, second.dataType, third.dataType) match {
        case (ArrayType(FloatType, _), LongType, StructType(fs))
            if fs.length == 3 =>
          fs(0).dataType.isInstanceOf[ArrayType] &&
          fs(0).dataType.asInstanceOf[ArrayType].elementType == LongType &&
          fs(1).dataType.isInstanceOf[ArrayType] &&
          fs(1).dataType.asInstanceOf[ArrayType].elementType == LongType &&
          fs(2).dataType.isInstanceOf[ArrayType] &&
          fs(2).dataType.asInstanceOf[ArrayType].elementType == DoubleType
        case _ => false
      }
      if (ok) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<float>, bigint, struct<array<bigint>, " +
          s"array<bigint>, array<double>>), got (${first.dataType.sql}, " +
          s"${second.dataType.sql}, ${third.dataType.sql})")
    }

    override def nullSafeEval(a: Any, nm: Any, cents: Any): Any =
      Kernels.cellArgmax(a.asInstanceOf[ArrayData], nm.asInstanceOf[Long],
        cents.asInstanceOf[InternalRow], null)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val buf = scratch(ctx)
      defineCodeGen(ctx, ev,
        (a, nm, cents) => s"$K.cellArgmax($a, $nm, $cents, $buf)")
    }

    override protected def withNewChildrenInternal(
        newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
      copy(first = newFirst, second = newSecond, third = newThird)
  }

  /** `lsub_micros(a: array<long>, b: array<long>): array<long>` —
    * element-wise long subtraction, the RESIDUAL step of IVFPQ encoding
    * (r = qnorm(v) − qnorm(centroid), both already in normalized
    * micros). A `zip_with` lambda would run interpreted per element on
    * every corpus row of every Lloyd round.
    */
  case class LsubMicrosExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    // inputs are array<long> × array<long> (see DotMicrosExpr note)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "lsub_micros"

    override def nullSafeEval(a: Any, b: Any): Any =
      Kernels.lsubMicros(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$K.lsubMicros($a, $b)")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** `pql_dists(v: array<long>, cent: array<long>, subDim: int):
    * array<long>` — [[PqDistsExpr]] over an ALREADY-NORMALIZED long
    * vector (no quantization step): the IVFPQ residual-domain distance
    * table. Same operand layout and output contract as pq_dists; the
    * input is typically [[LsubMicrosExpr]]'s residual. Bounds: residual
    * components are differences of two ≤ ~1e6 normalized micros, so
    * |d| ≤ ~4e6, d² ≤ 1.6e13, ×64 dims ≪ Long.MaxValue.
    */
  case class PqlDistsExpr(first: Expression, second: Expression,
      third: Expression) extends TernaryExpression {
    // inputs are array<long> × array<long> × int (see DotMicrosExpr note)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "pql_dists"

    override def nullSafeEval(a: Any, cent: Any, sd: Any): Any =
      Kernels.pqlDists(a.asInstanceOf[ArrayData], cent.asInstanceOf[ArrayData],
        sd.asInstanceOf[Int], null)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val buf = scratch(ctx)
      defineCodeGen(ctx, ev, (a, cent, sd) => s"$K.pqlDists($a, $cent, $sd, $buf)")
    }

    override protected def withNewChildrenInternal(
        newFirst: Expression, newSecond: Expression,
        newThird: Expression): Expression =
      copy(first = newFirst, second = newSecond, third = newThird)
  }

  /** `pql_encode(v: array<long>, cent: array<long>, subDim: int):
    * array<int>` — [[PqEncodeExpr]] over an already-normalized long
    * vector: per-subspace argmin (first-lowest on ties, the oracle's
    * ORDER BY dist, c) without materializing the m×k table. The IVFPQ
    * corpus-encode kernel.
    */
  case class PqlEncodeExpr(first: Expression, second: Expression,
      third: Expression) extends TernaryExpression {
    // inputs are array<long> × array<long> × int
    override def dataType: DataType =
      ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "pql_encode"

    override def nullSafeEval(a: Any, cent: Any, sd: Any): Any =
      Kernels.pqlEncode(a.asInstanceOf[ArrayData], cent.asInstanceOf[ArrayData],
        sd.asInstanceOf[Int], null)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val buf = scratch(ctx)
      defineCodeGen(ctx, ev, (a, cent, sd) => s"$K.pqlEncode($a, $cent, $sd, $buf)")
    }

    override protected def withNewChildrenInternal(
        newFirst: Expression, newSecond: Expression,
        newThird: Expression): Expression =
      copy(first = newFirst, second = newSecond, third = newThird)
  }

  /** `minhash16(shs: array<string>): array<long>` — the 16-function MinHash
    * signature of a shingle set in one tight JVM loop.
    *
    * Semantics are EXACTLY the portable md5 family used by the
    * dedup_minhash_lsh oracle: hash i of shingle s is the i%4-th 32-bit
    * big-endian chunk of md5("g<i/4>|" ++ s), i.e. DuckDB
    * `CAST(('0x' || substr(md5(concat('g<i/4>|', s)), 8*(i%4)+1, 8)) AS
    * BIGINT)`; the signature is the element-wise minimum over the set
    * (Long.MaxValue for an empty set — unreachable: shingle arrays are
    * never empty by construction).
    *
    * Why native: the same fold expressed with `aggregate(transform(...))`
    * HOFs runs interpreted — one Catalyst struct allocation and ~20
    * sub-expression dispatches per (shingle, group) step, measured ~5 s
    * at sf0.1 where this loop takes ~0.2 s. Per-row fallback dispatch is
    * one call per DOCUMENT (not per shingle), so CodegenFallback costs
    * nothing here.
    */
  case class Minhash16Expr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash16"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val md = Minhash16Expr.digests.get()
      val mins = Array.fill(16)(Long.MaxValue)
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        val sBytes = arr.getUTF8String(i).getBytes
        var g = 0
        while (g < 4) {
          md.reset()
          md.update(Minhash16Expr.prefixes(g))
          md.update(sBytes)
          val dig = md.digest()
          var k = 0
          while (k < 4) {
            val v = ((dig(4 * k) & 0xffL) << 24) |
              ((dig(4 * k + 1) & 0xffL) << 16) |
              ((dig(4 * k + 2) & 0xffL) << 8) |
              (dig(4 * k + 3) & 0xffL)
            val idx = 4 * g + k
            if (v < mins(idx)) mins(idx) = v
            k += 1
          }
          g += 1
        }
        i += 1
      }
      new GenericArrayData(mins)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object Minhash16Expr {
    private val prefixes: Array[Array[Byte]] =
      (0 until 4).map(g => s"g$g|".getBytes(StandardCharsets.UTF_8)).toArray
    private val digests: ThreadLocal[MessageDigest] =
      ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))
  }

  /** `char_trigrams(s: string): array<long>` — every length-3 CHARACTER
    * window of `s`, packed as (cp0<<42)|(cp1<<21)|cp2 (21 bits hold any
    * Unicode code point; 63 bits stay positive). The whole corpus
    * frequency pass then aggregates LONGS — no per-window string
    * allocation, long hashing instead of string hashing on the shuffle
    * key (measured 2.0 s → ~0.8 s on the sf0.1 pass vs the
    * transform+substr HOF). Packed order EQUALS the string sort order
    * (UTF-8 byte comparison preserves code-point order), so rank
    * tie-breaks survive the encoding; [[TrigramStringExpr]] decodes the
    * handful of surviving top-k rows.
    */
  case class CharTrigramsExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "char_trigrams"

    override def nullSafeEval(input: Any): Any = {
      val str = input.toString
      val n = str.codePointCount(0, str.length)
      if (n < 3) new GenericArrayData(Array.empty[Long])
      else {
        val cps = new Array[Long](n)
        var off = 0
        var i = 0
        while (i < n) {
          val cp = str.codePointAt(off)
          cps(i) = cp.toLong
          off += Character.charCount(cp)
          i += 1
        }
        val out = new Array[Long](n - 2)
        i = 0
        while (i < n - 2) {
          out(i) = (cps(i) << 42) | (cps(i + 1) << 21) | cps(i + 2)
          i += 1
        }
        new GenericArrayData(out)
      }
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `phash63(text: string): long` — F6's 63-cell average perceptual
    * hash in one code-point walk: stripe width w = max(numChars/63, 1),
    * cell i = Σ code points at (1-based, code-point) positions
    * i·w+1 .. i·w+w (positions past the text contribute 0, positions
    * past stripe 62 are ignored), mean = Σ cells / 63 (truncating),
    * bit i set iff cell i > mean. Exactly the
    * transform/aggregate/substring/ascii HOF chain it replaces
    * (MultimodalSpec pins the equivalence) — which ran INTERPRETED at
    * ~63 sub-aggregate dispatches per row and was the dominant cost of
    * the sf10 hash materialization (26 s cold for 500k docs).
    * Per-row dispatch is one call per DOCUMENT, so CodegenFallback
    * costs nothing here (the minhash16 argument).
    */
  case class Phash63Expr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def prettyName: String = "phash63"

    override def nullSafeEval(input: Any): Any = {
      val str = input.toString
      val n = str.codePointCount(0, str.length)
      val w = math.max(n / 63, 1)
      val cells = new Array[Long](63)
      var off = 0
      var p = 0
      while (off < str.length) {
        val cp = str.codePointAt(off)
        off += Character.charCount(cp)
        val stripe = p / w
        if (stripe < 63) cells(stripe) += cp
        p += 1
      }
      var sum = 0L
      var i = 0
      while (i < 63) { sum += cells(i); i += 1 }
      val mean = sum / 63
      var h = 0L
      i = 0
      while (i < 63) {
        if (cells(i) > mean) h |= 1L << i
        i += 1
      }
      h
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `cp_entropy(text: string): struct<n_cp, n_distinct_cp, ent_q16>` —
    * C21's code-point unigram entropy in ONE pass per document:
    * count code points into a hash map, then
    * `ent_q16 = log2_q16(n, 1) − (Σ_c k_c · log2_q16(k_c, 1)) div n`
    * (the − Σ p log2 p identity rearranged so every term is an integer;
    * the divide truncates, both operands non-negative). All arithmetic
    * is the [[Kernels.log2q16]] recipe, so the DuckDB oracle reproduces the
    * BIGINT bit-for-bit from an unnest+group replay — no
    * transcendentals. Per-row dispatch is one call per document
    * (CodegenFallback costs nothing — the minhash16 argument); the op
    * built on this is shuffle-free.
    */
  case class CpEntropyExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = org.apache.spark.sql.types.StructType(
      Seq(
        org.apache.spark.sql.types.StructField("n_cp", LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_distinct_cp", LongType, nullable = false),
        org.apache.spark.sql.types.StructField("ent_q16", LongType, nullable = false)))
    override def prettyName: String = "cp_entropy"

    override def nullSafeEval(input: Any): Any = {
      val str = input.toString
      val counts = new java.util.HashMap[Integer, Array[Long]]()
      var off = 0
      var n = 0L
      while (off < str.length) {
        val cp = str.codePointAt(off)
        off += Character.charCount(cp)
        val slot = counts.get(cp)
        if (slot == null) counts.put(cp, Array(1L)) else slot(0) += 1L
        n += 1L
      }
      var sumBits = 0L
      val it = counts.values().iterator()
      while (it.hasNext) {
        val k = it.next()(0)
        if (k > 1L) sumBits += k * Kernels.log2q16(k, 1L)
      }
      val ent = if (n == 0L) 0L else Kernels.log2q16(n, 1L) - sumBits / n
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](n, counts.size().toLong, ent))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `trigram_bag(nt: string, num_buckets: int): array<struct<b,c>>`
    * — the per-document HASHED char-trigram bag in ONE code-point walk
    * (r15, closing the text_langid_learned 24× scale watch item):
    * for every length-3 character window of `nt`, md5 its string form
    * and bucket by `hash32 % num_buckets` (bit-identical to the
    * composed `pmod(hash32(trigram_string(char_trigrams(nt))), NB)`
    * relational path — same md5 over the same UTF-8 bytes, pinned in
    * KernelProps), counting into a num_buckets-sized local array and
    * emitting the nonzero (b, c) pairs sorted by b. What the composed
    * path computed with TWO corpus-sized shuffles (explode → (doc, b)
    * count → per-doc collect_list ≈ 150M feature rows at sf10) this
    * computes map-side per row — the feature-extraction plan for both
    * [[graft.operators.LangClassifier]] training and LangIndex scoring
    * becomes shuffle-free.
    */
  case class TrigramBagExpr(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("b", LongType,
          nullable = false),
        org.apache.spark.sql.types.StructField("c", LongType,
          nullable = false))), containsNull = false)
    override def prettyName: String = "trigram_bag"

    override def nullSafeEval(ntAny: Any, nbAny: Any): Any = {
      val str = ntAny.toString
      val nb = nbAny.asInstanceOf[Int]
      val n = str.codePointCount(0, str.length)
      if (n < 3) new GenericArrayData(Array.empty[AnyRef])
      else {
        val cps = new Array[Int](n)
        var off = 0
        var i = 0
        while (i < n) {
          val cp = str.codePointAt(off)
          cps(i) = cp
          off += Character.charCount(cp)
          i += 1
        }
        val counts = new Array[Long](nb)
        val md = MessageDigest.getInstance("MD5")
        val sb = new java.lang.StringBuilder(6)
        i = 0
        while (i < n - 2) {
          sb.setLength(0)
          sb.appendCodePoint(cps(i))
          sb.appendCodePoint(cps(i + 1))
          sb.appendCodePoint(cps(i + 2))
          md.reset()
          val d = md.digest(sb.toString.getBytes(StandardCharsets.UTF_8))
          // first 8 md5 hex chars as an unsigned int ≡ Portable.hash32
          val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
            ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
          counts((h % nb).toInt) += 1L
          i += 1
        }
        var nz = 0
        var b = 0
        while (b < nb) { if (counts(b) != 0L) nz += 1; b += 1 }
        val rows = new Array[AnyRef](nz)
        var o = 0
        b = 0
        while (b < nb) {
          if (counts(b) != 0L) {
            rows(o) = org.apache.spark.sql.catalyst.InternalRow(
              b.toLong, counts(b))
            o += 1
          }
          b += 1
        }
        new GenericArrayData(rows)
      }
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** `trigram_string(packed: long): string` — decodes a
    * [[CharTrigramsExpr]] key back to its three characters (code-point
    * correct; applied to the ≤k rows that survive the top-k, never the
    * corpus).
    */
  case class TrigramStringExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = org.apache.spark.sql.types.StringType
    override def prettyName: String = "trigram_string"

    override def nullSafeEval(input: Any): Any = {
      val p = input.asInstanceOf[Long]
      val sb = new java.lang.StringBuilder(6)
      sb.appendCodePoint(((p >> 42) & 0x1FFFFF).toInt)
      sb.appendCodePoint(((p >> 21) & 0x1FFFFF).toInt)
      sb.appendCodePoint((p & 0x1FFFFF).toInt)
      org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `word_ngrams(tok: array<string>, n): array<string>` — the distinct
    * word n-gram windows of a token array, EXACTLY the semantics of the
    * `transform(sequence(...), i => concat_ws(...try_element_at...))`
    * + `array_distinct` HOF chain in [[Portable.ngramsFromTokens]]
    * (windows start at every position 1..max(len-n+1, 1); out-of-range
    * tokens drop out of the join like concat_ws drops NULLs; first-
    * occurrence dedup order): one JVM loop per DOCUMENT instead of ~n+2
    * interpreted dispatches per window. This sits under every D-series
    * shingle pipeline (D2/D3/D5 candidates, the index, the stream).
    */
  case class WordNgramsExpr(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType =
      ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
    override def prettyName: String = "word_ngrams"

    override def nullSafeEval(tokAny: Any, nAny: Any): Any = {
      val arr = tokAny.asInstanceOf[ArrayData]
      val n = nAny.asInstanceOf[Int]
      val len = arr.numElements()
      val windows = math.max(len - (n - 1), 1)
      val sep = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
      val seen = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
      var i = 0
      while (i < windows) {
        val parts = new Array[org.apache.spark.unsafe.types.UTF8String](n)
        var k = 0
        while (k < n) {
          // out-of-range → null, which concatWs skips (the
          // try_element_at + concat_ws contract)
          parts(k) = if (i + k < len) arr.getUTF8String(i + k) else null
          k += 1
        }
        // concatWs allocates a fresh buffer, so the stored key never
        // aliases the (reused) input row memory
        seen.add(org.apache.spark.unsafe.types.UTF8String.concatWs(sep, parts: _*))
        i += 1
      }
      new GenericArrayData(seen.toArray[AnyRef](new Array[AnyRef](seen.size())))
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** `drop_positions(tok: array<string>, rem: array<int>): string` —
    * the D15 rewrite kernel: space-join the tokens whose 1-based
    * position is NOT in `rem`, where `rem` is SORTED ascending with
    * distinct in-range entries (the shape D15's `sort_array ∘
    * collect_set` aggregate guarantees). One two-pointer merge pass —
    * O(tokens + removals) per doc with no per-token membership scan,
    * closing the r13 watch item: `array_contains(rem, i)` per token was
    * O(L·|rem|), quadratic for a long fully-duplicated document.
    * Equivalent by construction to
    * `array_join(filter(tok, (x, i) -> NOT array_contains(rem, i+1)),
    * ' ')` (pinned as a property in KernelProps).
    */
  case class DropPositionsExpr(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = org.apache.spark.sql.types.StringType
    override def prettyName: String = "drop_positions"

    // Registered as a public SQL function, so the types must be
    // enforced at analysis: rem.getInt over an array<bigint> would
    // silently misread 8-byte elements and return wrong text, not fail
    // (ExpectsInputTypes is private[sql]; checkInputDataTypes is the
    // public seam).
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(org.apache.spark.sql.types.StringType, _),
              ArrayType(IntegerType, _)) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult
            .TypeCheckSuccess
        case (l, r) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult
            .TypeCheckFailure(
              s"drop_positions requires (array<string>, array<int>), " +
                s"got (${l.catalogString}, ${r.catalogString})")
      }

    override def nullSafeEval(tokAny: Any, remAny: Any): Any =
      dropPositionsEval(tokAny.asInstanceOf[ArrayData],
        remAny.asInstanceOf[ArrayData],
        org.apache.spark.unsafe.types.UTF8String.fromString(" "))

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** The shared two-pointer merge pass behind `drop_positions` and
    * `drop_positions_sep`: keep the tokens whose 1-based position is
    * not in the sorted-distinct `rem`, joined with `sep` —
    * O(tokens + removals), no per-token membership scan.
    */
  private def dropPositionsEval(
      tok: ArrayData, rem: ArrayData,
      sep: org.apache.spark.unsafe.types.UTF8String): Any = {
    val len = tok.numElements()
    val nRem = rem.numElements()
    val parts =
      new Array[org.apache.spark.unsafe.types.UTF8String](len)
    var i = 0
    var r = 0
    var o = 0
    while (i < len) {
      // advance past any (contract-violating) stale/duplicate entries
      while (r < nRem && rem.getInt(r) < i + 1) r += 1
      if (r < nRem && rem.getInt(r) == i + 1) r += 1
      else { parts(o) = tok.getUTF8String(i); o += 1 }
      i += 1
    }
    org.apache.spark.unsafe.types.UTF8String.concatWs(
      sep, java.util.Arrays.copyOf(parts, o): _*)
  }

  /** `drop_positions_sep(tok: array<string>, rem: array<int>,
    * sep: string): string` — [[DropPositionsExpr]] with an explicit
    * join separator: the D17 line-rewrite kernel (lines re-join with
    * '\n' where D15's tokens re-join with ' '). Same sorted-distinct
    * `rem` contract, same one-pass merge.
    */
  case class DropPositionsSepExpr(
      first: Expression, second: Expression, third: Expression)
      extends TernaryExpression with CodegenFallback {
    override def dataType: DataType = org.apache.spark.sql.types.StringType
    override def prettyName: String = "drop_positions_sep"

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      (first.dataType, second.dataType, third.dataType) match {
        case (ArrayType(org.apache.spark.sql.types.StringType, _),
              ArrayType(IntegerType, _),
              org.apache.spark.sql.types.StringType) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult
            .TypeCheckSuccess
        case (a, b, c) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult
            .TypeCheckFailure(
              s"drop_positions_sep requires (array<string>, array<int>, " +
                s"string), got (${a.catalogString}, ${b.catalogString}, " +
                s"${c.catalogString})")
      }

    override def nullSafeEval(tokAny: Any, remAny: Any, sepAny: Any): Any =
      dropPositionsEval(tokAny.asInstanceOf[ArrayData],
        remAny.asInstanceOf[ArrayData],
        sepAny.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def withNewChildrenInternal(
        newFirst: Expression, newSecond: Expression,
        newThird: Expression): Expression =
      copy(first = newFirst, second = newSecond, third = newThird)
  }

  /** `log2_q16(num: long, den: long): long` — fixed-point log2(num/den)
    * with 16 fractional bits, computed by an EXACT integer recipe so any
    * engine that replays the same shifts/divides produces the identical
    * BIGINT (the DuckDB twin is the chained CTE emitted by
    * [[FixedLog.sqlRounds]]). This is the log-domain primitive the
    * text ops deliberately lacked: `ln()` differs across engines by
    * ULPs, so scores built on it can hash-mismatch at a micro-rounding
    * boundary — this kernel has NO transcendentals, only 64-bit integer
    * ops with defined truncation, and its ≈2^-16-bit approximation
    * error is identical everywhere by construction.
    *
    * Contract: num ≥ den ≥ 1 (callers score ratios ≥ 1, e.g. a count
    * over a sub-count). Recipe: normalize BOTH operands to exactly 33
    * bits (shift up or down — two-sided, so a tiny den under a huge num
    * never clamps away exponent bits), exponent = bit-length difference
    * corrected by the normalized compare, 30-bit mantissa in
    * [2^30, 2^31), then 16 square-and-shift rounds each yielding one
    * fractional bit; every intermediate stays inside a signed 64-bit
    * long (mantissa < 2^31, square < 2^62, n2 << 30 < 2^63).
    */
  case class Log2Q16Expr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "log2_q16"

    override def nullSafeEval(a: Any, b: Any): Any =
      Kernels.log2q16(a.asInstanceOf[Long], b.asInstanceOf[Long])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$K.log2q16($a, $b)")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** `gram_rep(tok: array<string>, n: int): struct<top_chars: bigint,
    * dup_chars: bigint>` — the C36 per-document n-gram repetition
    * statistics in ONE hand-written pass: `top_chars` is the
    * pre-multiplied count × char-length product of the most frequent
    * n-gram (the (cnt, gl) LEXICOGRAPHIC max — the oracle's
    * longer-gram tie-break — then cnt·gl, which is what the Gopher
    * fraction consumes), and `dup_chars` is the character total of
    * token positions covered by any n-gram occurring ≥ 2 times
    * (interval union — overlaps never double-count).
    *
    * Why fused (r18, the C36 sf100 decade): the row-local HOF
    * formulation this replaces evaluated per-gram string concat +
    * hash + struct allocation through the INTERPRETED lambda
    * machinery — measured ~130 docs/s/core at 5M docs, i.e. the
    * forced pass ran tens of minutes per rep. This kernel is the
    * same per-document algorithm as primitive loops: per-token
    * xxhash64 once, gram hashes chained via hashLong over the token
    * window, counts in an open-addressed primitive table, coverage as
    * a single sweep — O(nw·n) per document, zero boxing, zero
    * allocation beyond four flat arrays. Grams compare by 64-bit hash
    * (P[in-doc collision] ≈ grams²·2⁻⁶⁴; the DuckDB oracle compares
    * the strings themselves, so the correctness gate would surface a
    * collision as a mismatch — none has).
    */
  case class GramRepExpr(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("top_chars", LongType, nullable = false),
      StructField("dup_chars", LongType, nullable = false)))
    override def prettyName: String = "gram_rep"
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)

    override def nullSafeEval(tokAny: Any, nAny: Any): Any = {
      val tok = tokAny.asInstanceOf[ArrayData]
      val n = nAny.asInstanceOf[Int]
      val nw = tok.numElements()
      val m = nw - n + 1
      if (m <= 0)
        return new GenericInternalRow(Array[Any](0L, 0L))
      val wl = new Array[Int](nw)
      val th = new Array[Long](nw)
      var i = 0
      while (i < nw) {
        val u = tok.getUTF8String(i)
        wl(i) = u.numChars()
        th(i) = XXH64.hashUnsafeBytes(
          u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
        i += 1
      }
      val gh = new Array[Long](m)
      val gl = new Array[Int](m)
      var p = 0
      while (p < m) {
        var h = 42L
        var c = 0
        var j = p
        while (j < p + n) {
          h = XXH64.hashLong(th(j), h); c += wl(j); j += 1
        }
        gh(p) = h; gl(p) = c; p += 1
      }
      // open-addressed primitive count table (power-of-2, linear probe)
      var cap = 4
      while (cap < m * 2) cap <<= 1
      val keys = new Array[Long](cap)
      val used = new Array[Boolean](cap)
      val cnts = new Array[Int](cap)
      val gls = new Array[Int](cap)
      val mask = cap - 1
      def slot(h: Long): Int = {
        var sl = (h ^ (h >>> 32)).toInt & mask
        while (used(sl) && keys(sl) != h) sl = (sl + 1) & mask
        sl
      }
      p = 0
      while (p < m) {
        val sl = slot(gh(p))
        if (!used(sl)) {
          used(sl) = true; keys(sl) = gh(p); cnts(sl) = 1; gls(sl) = gl(p)
        } else {
          cnts(sl) += 1
          if (gl(p) > gls(sl)) gls(sl) = gl(p)
        }
        p += 1
      }
      var bc = 0L
      var bgl = 0L
      var sl = 0
      while (sl < cap) {
        if (used(sl)) {
          val c = cnts(sl).toLong; val g = gls(sl).toLong
          if (c > bc || (c == bc && g > bgl)) { bc = c; bgl = g }
        }
        sl += 1
      }
      var dup = 0L
      var lastEnd = -1
      p = 0
      while (p < m) {
        if (cnts(slot(gh(p))) >= 2) {
          var t = math.max(p, lastEnd + 1)
          val e = p + n - 1
          while (t <= e) { dup += wl(t); t += 1 }
          if (e > lastEnd) lastEnd = e
        }
        p += 1
      }
      new GenericInternalRow(Array[Any](bc * bgl, dup))
    }
  }

  /** Injects every kernel into a session's function registry. */
  def registerAll(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("log2_q16"),
      new ExpressionInfo(classOf[Log2Q16Expr].getName, "log2_q16"),
      (args: Seq[Expression]) => Log2Q16Expr(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("dot_micros"),
      new ExpressionInfo(classOf[DotMicrosExpr].getName, "dot_micros"),
      (args: Seq[Expression]) => DotMicrosExpr(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("proj_micros"),
      new ExpressionInfo(classOf[ProjMicrosExpr].getName, "proj_micros"),
      (args: Seq[Expression]) => ProjMicrosExpr(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("lsh_buckets"),
      new ExpressionInfo(classOf[LshBucketsExpr].getName, "lsh_buckets"),
      (args: Seq[Expression]) => LshBucketsExpr(args(0), args(1), args(2))))
    ext.injectFunction((
      new FunctionIdentifier("pq_encode"),
      new ExpressionInfo(classOf[PqEncodeExpr].getName, "pq_encode"),
      (args: Seq[Expression]) =>
        PqEncodeExpr(args(0), args(1), args(2), args(3))))
    ext.injectFunction((
      new FunctionIdentifier("qnorm_micros"),
      new ExpressionInfo(classOf[QnormMicrosExpr].getName, "qnorm_micros"),
      (args: Seq[Expression]) => QnormMicrosExpr(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("pq_dists"),
      new ExpressionInfo(classOf[PqDistsExpr].getName, "pq_dists"),
      (args: Seq[Expression]) =>
        PqDistsExpr(args(0), args(1), args(2), args(3))))
    ext.injectFunction((
      new FunctionIdentifier("cell_argmax"),
      new ExpressionInfo(classOf[CellArgmaxExpr].getName, "cell_argmax"),
      (args: Seq[Expression]) => CellArgmaxExpr(args(0), args(1), args(2))))
    ext.injectFunction((
      new FunctionIdentifier("lsub_micros"),
      new ExpressionInfo(classOf[LsubMicrosExpr].getName, "lsub_micros"),
      (args: Seq[Expression]) => LsubMicrosExpr(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("gram_rep"),
      new ExpressionInfo(classOf[GramRepExpr].getName, "gram_rep"),
      (args: Seq[Expression]) => GramRepExpr(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("pql_dists"),
      new ExpressionInfo(classOf[PqlDistsExpr].getName, "pql_dists"),
      (args: Seq[Expression]) => PqlDistsExpr(args(0), args(1), args(2))))
    ext.injectFunction((
      new FunctionIdentifier("pql_encode"),
      new ExpressionInfo(classOf[PqlEncodeExpr].getName, "pql_encode"),
      (args: Seq[Expression]) => PqlEncodeExpr(args(0), args(1), args(2))))
    ext.injectFunction((
      new FunctionIdentifier("minhash16"),
      new ExpressionInfo(classOf[Minhash16Expr].getName, "minhash16"),
      (args: Seq[Expression]) => Minhash16Expr(args(0))))
    ext.injectFunction((
      new FunctionIdentifier("topk_min"),
      new ExpressionInfo(classOf[TopKMinAgg].getName, "topk_min"),
      (args: Seq[Expression]) =>
        TopKMinAgg(args(0), args(1)).toAggregateExpression()))
    ext.injectFunction((
      new FunctionIdentifier("phash63"),
      new ExpressionInfo(classOf[Phash63Expr].getName, "phash63"),
      (args: Seq[Expression]) => Phash63Expr(args(0))))
    ext.injectFunction((
      new FunctionIdentifier("cp_entropy"),
      new ExpressionInfo(classOf[CpEntropyExpr].getName, "cp_entropy"),
      (args: Seq[Expression]) => CpEntropyExpr(args(0))))
    ext.injectFunction((
      new FunctionIdentifier("mg_sketch"),
      new ExpressionInfo(classOf[MgSketchAgg].getName, "mg_sketch"),
      (args: Seq[Expression]) =>
        MgSketchAgg(args(0), args(1)).toAggregateExpression()))
    ext.injectFunction((
      new FunctionIdentifier("mg_entries"),
      new ExpressionInfo(classOf[MgEntriesAgg].getName, "mg_entries"),
      (args: Seq[Expression]) =>
        MgEntriesAgg(args(0), args(1)).toAggregateExpression()))
    ext.injectFunction((
      new FunctionIdentifier("char_trigrams"),
      new ExpressionInfo(classOf[CharTrigramsExpr].getName, "char_trigrams"),
      (args: Seq[Expression]) => CharTrigramsExpr(args(0))))
    ext.injectFunction((
      new FunctionIdentifier("trigram_bag"),
      new ExpressionInfo(classOf[TrigramBagExpr].getName, "trigram_bag"),
      (args: Seq[Expression]) => TrigramBagExpr(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("trigram_string"),
      new ExpressionInfo(classOf[TrigramStringExpr].getName, "trigram_string"),
      (args: Seq[Expression]) => TrigramStringExpr(args(0))))
    ext.injectFunction((
      new FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNgramsExpr].getName, "word_ngrams"),
      (args: Seq[Expression]) => WordNgramsExpr(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("drop_positions"),
      new ExpressionInfo(classOf[DropPositionsExpr].getName, "drop_positions"),
      (args: Seq[Expression]) => DropPositionsExpr(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("drop_positions_sep"),
      new ExpressionInfo(
        classOf[DropPositionsSepExpr].getName, "drop_positions_sep"),
      (args: Seq[Expression]) =>
        DropPositionsSepExpr(args(0), args(1), args(2))))
  }
}
