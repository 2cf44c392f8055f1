package graft

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

import graft.functions.VectorExpressions._

/** Property-based checks for the engine's custom kernels: the native
  * expressions must agree with their spec (or their portable-SQL
  * formulation) on arbitrary inputs, not just the corpus. Case counts
  * are kept small — every case runs a Spark job on the shared session.
  */
object KernelProps extends Properties("kernels") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = SparkSpec.session
  import org.apache.spark.sql.Row

  private val token: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString).map(_.take(12))

  property("topk_min == sort-then-take(k) for any input and k") =
    Prop.forAll(
      Gen.listOfN(40, Gen.zip(Gen.chooseNum(-50L, 50L), Gen.chooseNum(0L, 5L))),
      Gen.chooseNum(1, 12)) { (rows, k) =>
      rows.nonEmpty ==> {
        import spark.implicits._
        val df = rows.toDF("a", "b")
        df.createOrReplaceTempView("kp_topk")
        val got = spark.sql(s"SELECT topk_min(struct(a, b), $k) AS t FROM kp_topk")
          .collect().head.getSeq[Row](0)
          .map(r => (r.getLong(0), r.getLong(1)))
        val want = rows.sorted.take(k)
        got == want
      }
    }

  property("minhash16 kernel == the portable md5 SQL formulation") =
    Prop.forAll(Gen.nonEmptyListOf(token).map(_.distinct.take(30))) { shs =>
      import spark.implicits._
      val df = Seq(Tuple1(shs)).toDF("shs")
      df.createOrReplaceTempView("kp_mh")
      val kernel = spark.sql("SELECT minhash16(shs) AS m FROM kp_mh")
        .collect().head.getSeq[Long](0)
      val sqlCols = (0 until 16).map(i =>
        s"(SELECT min(CAST(conv(substring(md5(concat('g${i / 4}|', s)), ${8 * (i % 4) + 1}, 8), 16, 10) AS BIGINT)) FROM (SELECT explode(shs) AS s FROM kp_mh)) AS m$i")
      val viaSql = spark.sql(s"SELECT ${sqlCols.mkString(", ")}")
        .collect().head.toSeq.map(_.asInstanceOf[Long])
      kernel.toSeq == viaSql
    }

  property("drop_positions == the filter/array_contains membership " +
      "formulation on arbitrary token arrays and removal sets") =
    Prop.forAll(
      Gen.listOfN(30, token),
      Gen.listOf(Gen.chooseNum(1, 30))) { (toks, remRaw) =>
      toks.nonEmpty ==> {
        import spark.implicits._
        // the D15 contract: sorted, distinct, in-range positions
        val rem = remRaw.distinct.sorted.filter(_ <= toks.length)
        val df = Seq((toks, rem)).toDF("tok", "rem")
        df.createOrReplaceTempView("kp_dp")
        val got = spark.sql(
          "SELECT drop_positions(tok, rem) AS t FROM kp_dp")
          .collect().head.getString(0)
        val want = spark.sql(
          "SELECT array_join(filter(tok, (x, i) -> " +
            "NOT array_contains(rem, i + 1)), ' ') AS t FROM kp_dp")
          .collect().head.getString(0)
        got == want
      }
    }

  property("pairCombinations enumerates exactly the i<j pairs") =
    Prop.forAll(Gen.listOfN(12, Gen.chooseNum(0L, 100L)).map(_.distinct.sorted)) { ds =>
      ds.sizeIs >= 2 ==> {
        import spark.implicits._
        val df = Seq(Tuple1(ds)).toDF("ds")
        val got = df.select(explode(
            graft.functions.Portable.pairCombinations(col("ds"))).as("p"))
          .select(col("p.i"), col("p.j")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val want = (for { i <- ds; j <- ds if i < j } yield (i, j)).toSet
        got == want
      }
    }

  property("ngramsFromTokens == sliding-window reference for any n") =
    Prop.forAll(
      Gen.listOfN(20, token),
      Gen.chooseNum(2, 9)) { (toks, n) =>
      toks.sizeIs >= n ==> {
        import spark.implicits._
        val got = Seq(Tuple1(toks)).toDF("tok")
          .select(graft.functions.Portable
            .ngramsFromTokens(col("tok"), n).as("g"))
          .collect().head.getSeq[String](0).toSet
        val want = toks.sliding(n).map(_.mkString(" ")).toSet
        got == want
      }
    }

  property("word_ngrams kernel == the HOF chain incl. short docs") =
    Prop.forAll(
      Gen.chooseNum(0, 7).flatMap(len => Gen.listOfN(len, token)),
      Gen.chooseNum(2, 5)) { (toks, n) =>
      import spark.implicits._
      val df = Seq(Tuple1(toks)).toDF("tok")
      val kernel = df
        .select(graft.functions.Portable.ngramsFromTokens(col("tok"), n).as("g"))
        .collect().head.getSeq[String](0)
      // the original interpreted formulation the kernel replaced —
      // including the sub-n-token windows whose NULL tails concat_ws
      // drops, and first-occurrence dedup order
      val hof = df.select(array_distinct(transform(
          sequence(lit(1), greatest(size(col("tok")) - (n - 1), lit(1))),
          i => concat_ws(" ",
            (0 until n).map(k => try_element_at(col("tok"), i + k)): _*)))
          .as("g"))
        .collect().head.getSeq[String](0)
      kernel == hof
    }

  // arbitrary unicode text, including supplementary-plane code points
  // and the occasional lone surrogate scalacheck's String gen produces —
  // the fold must stay total and self-consistent on ALL of it
  private val uniText: Gen[String] = Gen.listOfN(40, Gen.frequency(
    6 -> Gen.alphaNumChar,
    2 -> Gen.oneOf(' ', '\t', '\n', '.', ',', '!'),
    2 -> Gen.oneOf('é', 'ß', 'İ', 'Σ', '日', '語',
      '\ud83d', '\ude42'))).map(_.mkString) // 🙂 halves → surrogates too

  property("bpe fold: pieces/tokenCount/words/residual are one consistent story") =
    Prop.forAll(uniText) { s =>
      import graft.functions.Bpe
      val p = Bpe.pieces(s)
      val byParts = Bpe.words(s).map(Bpe.encodeLen(_).toLong).sum +
        Bpe.residualCount(s)
      // count == piece-sequence length == word-share + residual-share
      Bpe.tokenCount(s) == p.length.toLong && Bpe.tokenCount(s) == byParts
    }

  property("bpe fold: whitespace concatenation is additive") =
    Prop.forAll(uniText, uniText) { (a, b) =>
      graft.functions.Bpe.tokenCount(a + " " + b) ==
        graft.functions.Bpe.tokenCount(a) + graft.functions.Bpe.tokenCount(b)
    }

  /** JVM-independent reference of the log2_q16 recipe (BigInt-free: the
    * recipe is designed to stay inside a signed 64-bit long; this mirror
    * is the spec the kernel AND the unrolled oracle CTE both implement).
    */
  private def refLog2Q16(num: Long, den: Long): Long = {
    val blenN = 64 - java.lang.Long.numberOfLeadingZeros(num)
    val blenD = 64 - java.lang.Long.numberOfLeadingZeros(den)
    val n2 = if (blenN <= 33) num << (33 - blenN) else num >> (blenN - 33)
    val d2 = if (blenD <= 33) den << (33 - blenD) else den >> (blenD - 33)
    val e0 = if (n2 >= d2) 0 else -1
    val e = (blenN - blenD) + e0
    var v = if (e0 == 0) (n2 << 30) / d2 else ((n2 << 30) / d2) << 1
    var acc = 0L
    for (_ <- 0 until 16) {
      val u = v * v
      if (u >= (1L << 61)) { acc = acc * 2 + 1; v = u >> 31 }
      else { acc = acc * 2; v = u >> 30 }
    }
    (e.toLong << 16) + acc
  }

  property("log2_q16 kernel == reference recipe, within 1e-4 bits of log2") =
    Prop.forAll(
      Gen.listOfN(30, Gen.zip(
        Gen.chooseNum(1L, 1000000000000L),
        Gen.chooseNum(0L, 1000000L)))) { pairs =>
      pairs.nonEmpty ==> {
        import spark.implicits._
        val rows = pairs.map { case (d, extra) => (d + extra, d) } ++
          Seq((1L, 1L), (2L, 1L), (1L << 62, 1L), (3L, 2L))
        val df = rows.toDF("num", "den")
        df.createOrReplaceTempView("kp_log2")
        val got = spark.sql(
          "SELECT num, den, log2_q16(num, den) AS b FROM kp_log2")
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
          .toMap
        rows.forall { case (num, den) =>
          val b = got((num, den))
          b == refLog2Q16(num, den) &&
            math.abs(b / 65536.0 -
              math.log(num.toDouble / den) / math.log(2.0)) < 1e-4
        }
      }
    }

  property("mg_sketch: heavy keys survive ANY partitioning and merge shape") =
    Prop.forAll(
      // quadratic skew so some keys are genuinely heavy at small n
      Gen.listOfN(120, Gen.chooseNum(0, 99).map(x => math.sqrt(x).toInt.toLong)),
      Gen.chooseNum(2, 12),
      Gen.chooseNum(1, 6)) { (keys, cap, nparts) =>
      import graft.functions.MgSketchAgg
      import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      import org.apache.spark.sql.types.{IntegerType, LongType}
      val agg = MgSketchAgg(BoundReference(0, LongType, nullable = true),
        Literal(cap, IntegerType))
      // partition round-robin, update each partial independently (the
      // map side), then fold the partials through BOTH a left-deep and
      // a right-deep merge tree (the reduce side under different task
      // completion orders)
      def partial(part: Int) = {
        val b = agg.createAggregationBuffer()
        keys.zipWithIndex.collect { case (k, i) if i % nparts == part => k }
          .foreach(k => agg.update(b, new GenericInternalRow(Array[Any](k))))
        b
      }
      val parts = (0 until nparts).map(partial)
      val leftDeep = parts.map(p => agg.deserialize(agg.serialize(p)))
        .reduceLeft(agg.merge)
      val rightDeep = parts.map(p => agg.deserialize(agg.serialize(p)))
        .reduceRight((a, b) => agg.merge(a, b))
      val n = keys.size
      val heavy = keys.groupBy(identity).collect {
        case (k, ks) if ks.size.toLong * (cap + 1) > n => k
      }.toSet
      // the PODS'12 guarantee: > n/(cap+1)-frequent keys are retained
      // whatever the partitioning or merge-tree shape
      heavy.subsetOf(leftDeep.keySet.toSet) &&
        heavy.subsetOf(rightDeep.keySet.toSet)
    }

  property("mg_sketch rejects non-integral keys at analysis time") =
    Prop.secure {
      import spark.implicits._
      Seq(("a", 1L)).toDF("s", "v").createOrReplaceTempView("kp_mgtype")
      val bad = scala.util.Try(
        spark.sql("SELECT mg_sketch(s, 4) FROM kp_mgtype").collect())
      val widened = spark.sql(
        "SELECT mg_sketch(CAST(3 AS INT), 4) FROM kp_mgtype")
        .collect().head.getSeq[Long](0)
      bad.isFailure && widened == Seq(3L)
    }

  property("exactSum is invariant under repartitioning") =
    Prop.forAll(Gen.listOfN(60, Gen.chooseNum(-1000.0, 1000.0))) { vs =>
      vs.nonEmpty ==> {
        import spark.implicits._
        def total(parts: Int) = vs.toDF("v").repartition(parts)
          .agg(graft.functions.Portable.exactSum(col("v")).as("s"))
          .collect().head.getDouble(0)
        total(1) == total(7)
      }
    }

  // well-formed unicode (no lone surrogates — their UTF-8 coding is
  // engine-defined and the corpus contract excludes them)
  private val bagText: Gen[String] = Gen.listOfN(30, Gen.frequency(
    6 -> Gen.alphaNumChar,
    2 -> Gen.oneOf(' ', '.', ','),
    2 -> Gen.oneOf('é', 'ß', 'Σ', '日', '語'))).map(_.mkString)

  property("trigram_bag kernel == the composed " +
      "explode/hash/count relational path") =
    Prop.forAll(bagText) { s =>
      import spark.implicits._
      val df = Seq((1L, s)).toDF("doc_id", "nt")
      val viaKernel = df
        .selectExpr("explode(trigram_bag(nt, 256)) AS f")
        .select(col("f.b"), col("f.c")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val viaComposed = df
        .select(explode(call_function("char_trigrams", col("nt"))).as("g"))
        .select(pmod(graft.functions.Portable.hash32(
          call_function("trigram_string", col("g"))), lit(256L)).as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("c")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      viaKernel == viaComposed
    }

  // coarse floats drawn from a small grid so duplicate centroids (and
  // therefore exact ccos TIES) occur regularly — the tie-break is the
  // part of the contract a random-float generator would never exercise
  private val gridVec: Gen[List[Float]] =
    Gen.listOfN(8, Gen.oneOf(-1.0f, -0.5f, 0.0f, 0.25f, 0.5f, 1.0f))

  property("cell_argmax kernel == the composed crossJoin + " +
      "max_by(struct(ccos, -c_id)) assignment, ties included") =
    Prop.forAll(gridVec, Gen.listOfN(6, gridVec)) { (embL, centsL) =>
      // a zero query or zero centroid divides 0/0 → NaN ccos for that
      // cell; keep those cases IN (the kernel must replay Spark's
      // NaN-above-all double ordering too), but require ≥1 cell
      centsL.nonEmpty ==> {
        import spark.implicits._
        val q = embL.map(f => math.floor(f.toDouble * 1e6 + 0.5).toLong)
        val nm = q.map(x => x * x).sum
        val cents = centsL.zipWithIndex.map { case (v, c) =>
          val cq = v.map(f => math.floor(f.toDouble * 1e6 + 0.5).toLong)
          (c.toLong + 100L, cq, cq.map(x => x * x).sum)
        }
        // the kernel reads the FLAT packed layout (stride-64 zero-pad +
        // pack-time sqrt — the 8-dim vectors here exercise the padding);
        // the composed reference scores the raw (c_id, cq, c_nm) rows
        val ids = cents.map(_._1)
        val flat = cents.flatMap(_._2.padTo(64, 0L))
        val sn = cents.map(c => math.sqrt(c._3.toDouble))
        val df = Seq((embL, nm, cents, (ids, flat, sn)))
          .toDF("embedding", "nm", "cents", "packed")
        df.createOrReplaceTempView("kp_ca")
        val got = spark.sql(
          "SELECT cell_argmax(embedding, nm, packed) AS c FROM kp_ca")
          .collect().head.getLong(0)
        val want = spark.sql(
          """SELECT max_by(c._1, struct(
               CAST(proj_micros(embedding, c._2) AS DOUBLE) /
                 (sqrt(CAST(nm AS DOUBLE)) * sqrt(CAST(c._3 AS DOUBLE))),
               -c._1)) AS cell
             FROM (SELECT embedding, nm, explode(cents) AS c FROM kp_ca)""")
          .collect().head.getLong(0)
        got == want
      }
    }

  // ---- eval ≡ generated code for every codegen'd kernel ----

  private val AF = ArrayType(FloatType, containsNull = false)
  private val AL = ArrayType(LongType, containsNull = false)
  private val Cents = StructType(Seq(StructField("ids", AL), StructField("flat", AL),
    StructField("sn", ArrayType(DoubleType, containsNull = false))))

  /** A kernel applied to bound references of `types`. */
  private final case class Kernel(types: Seq[DataType], mk: Seq[Expression] => Expression) {
    val expr: Expression =
      mk(types.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) })
  }

  private val dotK = Kernel(Seq(AF, AF), a => DotMicrosExpr(a(0), a(1)))
  private val projK = Kernel(Seq(AF, AL), a => ProjMicrosExpr(a(0), a(1)))
  private val lshK = Kernel(Seq(AF, AL, IntegerType), a => LshBucketsExpr(a(0), a(1), a(2)))
  private val qnormK = Kernel(Seq(AF, LongType), a => QnormMicrosExpr(a(0), a(1)))
  private val pqDistsK = Kernel(Seq(AF, AL, IntegerType, LongType),
    a => PqDistsExpr(a(0), a(1), a(2), a(3)))
  private val pqEncodeK = Kernel(Seq(AF, AL, IntegerType, LongType),
    a => PqEncodeExpr(a(0), a(1), a(2), a(3)))
  private val cellK = Kernel(Seq(AF, LongType, Cents), a => CellArgmaxExpr(a(0), a(1), a(2)))
  private val lsubK = Kernel(Seq(AL, AL), a => LsubMicrosExpr(a(0), a(1)))
  private val pqlDistsK = Kernel(Seq(AL, AL, IntegerType), a => PqlDistsExpr(a(0), a(1), a(2)))
  private val pqlEncodeK = Kernel(Seq(AL, AL, IntegerType), a => PqlEncodeExpr(a(0), a(1), a(2)))
  private val log2K = Kernel(Seq(LongType, LongType), a => Log2Q16Expr(a(0), a(1)))

  private def fa(v: Seq[Float]): ArrayData = UnsafeArrayData.fromPrimitiveArray(v.toArray)
  private def la(v: Seq[Long]): ArrayData = UnsafeArrayData.fromPrimitiveArray(v.toArray)
  private def selfDot(v: Seq[Float]): Long = v.map { f =>
    val q = math.floor(f.toDouble * 1e6 + 0.5).toLong; q * q }.sum
  /** The packed cell_argmax operand over raw centroid micros (stride 64). */
  private def cents(ids: Seq[Long], cs: Seq[Seq[Long]]): InternalRow =
    InternalRow(la(ids), la(cs.flatMap(_.padTo(64, 0L))),
      UnsafeArrayData.fromPrimitiveArray(
        cs.map(c => math.sqrt(c.map(m => m * m).sum.toDouble)).toArray))

  private val anyFloat: Gen[Float] = Gen.frequency(
    8 -> Gen.choose(-1.5f, 1.5f),
    2 -> Gen.oneOf(0.0f, -0.0f, Float.NaN, 0.5f, -0.5f, 1.0f))
  private def floats(maxLen: Int): Gen[List[Float]] =
    Gen.choose(0, maxLen).flatMap(Gen.listOfN(_, anyFloat))
  private val micros: Gen[Long] = Gen.choose(-2000000L, 2000000L)
  private def nmFor(v: Seq[Float]): Gen[Long] =
    Gen.oneOf(Gen.const(0L), Gen.const(selfDot(v)), Gen.choose(1L, 10000000000000L))
  // (dims, subDim, k) of a PQ codebook; 128 dims is twice the engine width
  private val pqShape: Gen[(Int, Int, Int)] = for {
    dims <- Gen.oneOf(8, 16, 64, 128); sd <- Gen.oneOf(4, 8); k <- Gen.choose(1, 4)
  } yield (dims, sd, k)
  // centroids from a two-vector pool, so exact cosine ties are common
  private val gridMicros: Gen[List[Long]] = Gen.listOfN(64,
    Gen.oneOf(-1000000L, -500000L, 0L, 250000L, 500000L, 1000000L))

  private val kernelCases: Gen[List[(Kernel, Seq[Any])]] = Gen.sequence[List[(Kernel, Seq[Any])], (Kernel, Seq[Any])](Seq(
    for { a <- floats(70); b <- floats(70) } yield dotK -> Seq(fa(a), fa(b)),
    for { v <- floats(70); w <- Gen.listOf(micros) } yield projK -> Seq(fa(v), la(w)),
    for {
      v <- floats(80); planes <- Gen.choose(1, 4); tables <- Gen.choose(1, 3)
      w <- Gen.listOfN(tables * planes * 64, Gen.choose(-1000L, 1000L))
    } yield lshK -> Seq(fa(v), la(w), planes),
    for { v <- floats(130); nm <- nmFor(v) } yield qnormK -> Seq(fa(v), nm),
    for {
      (dims, sd, k) <- pqShape; v <- Gen.listOfN(dims, anyFloat); nm <- nmFor(v)
      cent <- Gen.listOfN(k * dims, micros); kern <- Gen.oneOf(pqDistsK, pqEncodeK)
    } yield kern -> Seq(fa(v), la(cent), sd, nm),
    for {
      v <- floats(70); nm <- nmFor(v); pool <- Gen.listOfN(2, gridMicros)
      nc <- Gen.choose(1, 6); cs <- Gen.listOfN(nc, Gen.oneOf(pool))
      ids <- Gen.pick(nc, 100L to 120L)
    } yield cellK -> Seq(fa(v), nm, cents(ids.toSeq, cs)),
    for { a <- Gen.listOf(micros); b <- Gen.listOf(micros) } yield lsubK -> Seq(la(a), la(b)),
    for {
      (dims, sd, k) <- pqShape; v <- Gen.listOfN(dims, micros)
      cent <- Gen.listOfN(k * dims, micros); kern <- Gen.oneOf(pqlDistsK, pqlEncodeK)
    } yield kern -> Seq(la(v), la(cent), sd),
    for {
      den <- Gen.choose(1L, 1000000000000L); extra <- Gen.choose(0L, 1000000L)
    } yield log2K -> Seq(den + extra, den)))

  private val edgeCases: Seq[(Kernel, Seq[Any])] = {
    val v128 = Seq.tabulate(128)(i => ((i % 7) - 3) / 4.0f)
    val cent128 = Seq.tabulate(2 * 128)(i => (i % 11 - 5) * 100000L)
    val signed = Seq(0.0f, -0.0f, Float.NaN, 0.5f)
    val tie = Seq.fill(64)(500000L)
    Seq(
      dotK -> Seq(fa(Nil), fa(Nil)),
      projK -> Seq(fa(Nil), la(Nil)),
      lshK -> Seq(fa(Nil), la(Seq.fill(64)(1L)), 1),
      qnormK -> Seq(fa(Nil), 0L),
      qnormK -> Seq(fa(signed), 0L),
      pqDistsK -> Seq(fa(v128), la(cent128), 8, selfDot(v128)),
      pqEncodeK -> Seq(fa(v128), la(cent128), 8, selfDot(v128)),
      pqDistsK -> Seq(fa(v128), la(cent128), 8, 0L),
      pqDistsK -> Seq(fa(Nil), la(Nil), 8, 0L),
      cellK -> Seq(fa(signed), selfDot(signed), cents(Seq(7L, 3L, 5L), Seq(tie, tie, tie))),
      cellK -> Seq(fa(Nil), 0L, cents(Seq(4L, 2L), Seq(tie, tie))),
      lsubK -> Seq(la(Nil), la(Seq(1L))),
      pqlDistsK -> Seq(la(cent128.take(128)), la(cent128), 8),
      pqlEncodeK -> Seq(la(cent128.take(128)), la(cent128), 8),
      log2K -> Seq(1L, 1L))
  }

  private def scalaValue(v: Any, dt: DataType): Any = (v, dt) match {
    case (a: ArrayData, ArrayType(LongType, _)) => a.toLongArray().toSeq
    case (a: ArrayData, ArrayType(IntegerType, _)) => a.toIntArray().toSeq
    case _ => v
  }

  /** `k` on `vals` through eval and through the generated projection. */
  private def bothSides(k: Kernel, vals: Seq[Any]): (Try[Any], Try[Any]) = {
    val row = InternalRow(vals: _*)
    val dt = k.expr.dataType
    (Try(scalaValue(k.expr.eval(row), dt)),
      Try(scalaValue(
        GenerateUnsafeProjection.generate(Seq(k.expr)).apply(row).get(0, dt), dt)))
  }

  /** eval and the generated projection return the same value, or both
    * fail with the same exception class.
    */
  private def evalMatchesCodegen(k: Kernel, vals: Seq[Any]): Boolean =
    bothSides(k, vals) match {
      case (Success(a), Success(b)) => a == b
      case (Failure(a), Failure(b)) => a.getClass == b.getClass
      case _ => false
    }

  property("every codegen'd kernel: eval == generated code, edge cases included") =
    Prop.forAll(kernelCases) { cases =>
      val bad = (cases ++ edgeCases).filterNot { case (k, v) => evalMatchesCodegen(k, v) }
      bad.isEmpty :| s"eval != codegen: ${bad.map(_._1.expr.prettyName)}"
    }

  property("kernel shapes: an empty embedding gives an empty array; subDim or " +
      "planes <= 0 fails naming the function and the argument, eval and codegen alike") =
    Prop.secure {
      val v16 = Seq.tabulate(16)(i => ((i % 5) - 2) / 4.0f)
      val c16 = Seq.tabulate(2 * 16)(i => (i % 7 - 3) * 100000L)
      val empty = Seq(
        pqDistsK -> Seq(fa(Nil), la(c16), 8, 0L),
        pqEncodeK -> Seq(fa(Nil), la(c16), 8, 0L),
        pqlDistsK -> Seq(la(Nil), la(c16), 8),
        pqlEncodeK -> Seq(la(Nil), la(c16), 8))
      val guarded = Seq(
        (pqDistsK -> Seq(fa(v16), la(c16), 0, selfDot(v16)), "pq_dists: subDim"),
        (pqEncodeK -> Seq(fa(v16), la(c16), -4, selfDot(v16)), "pq_encode: subDim"),
        (pqlDistsK -> Seq(la(c16.take(16)), la(c16), 0), "pql_dists: subDim"),
        (pqlEncodeK -> Seq(la(c16.take(16)), la(c16), 0), "pql_encode: subDim"),
        (pqDistsK -> Seq(fa(Nil), la(Nil), 0, 0L), "pq_dists: subDim"),
        (lshK -> Seq(fa(v16), la(Seq.fill(64)(1L)), 0), "lsh_buckets: planes"),
        (lshK -> Seq(fa(Nil), la(Nil), -1), "lsh_buckets: planes"))
      val notEmpty = empty.filterNot { case (k, v) =>
        bothSides(k, v) match {
          case (Success(a: Seq[_]), Success(b: Seq[_])) => a.isEmpty && b.isEmpty
          case _ => false
        }
      }
      val unguarded = guarded.filterNot { case ((k, v), msg) =>
        bothSides(k, v) match {
          case (Failure(a: IllegalArgumentException), Failure(b: IllegalArgumentException)) =>
            a.getMessage.startsWith(msg) && b.getMessage.startsWith(msg)
          case _ => false
        }
      }
      (notEmpty.isEmpty :| s"not an empty array: ${notEmpty.map(_._1.expr.prettyName)}") &&
        (unguarded.isEmpty :| s"no IllegalArgumentException: ${unguarded.map(_._2)}")
    }
}
