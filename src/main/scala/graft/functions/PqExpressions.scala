package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** Product-quantization kernels for [[graft.ext.Similarity.pqTopK]]
  * and the pq IVF storage, whose one codec serves the in-memory
  * [[graft.ext.Similarity.ivfPqTopK]] and every persisted pq index.
  *
  * The codebook rides the expressions as a FOLDABLE flattened
  * `array<double>` literal laid out `[sub][centroid][dim]` — at the
  * production shape (8 subspaces × 256 centroids × 8 dims ≈ 128 KB)
  * that is task-overhead noise here; at much larger codebooks, switch
  * the literal for a broadcast join side. All three kernels are tight
  * JVM loops, CODE-GENERATED (the TextKernels discipline: doGenCode
  * evaluates the per-row children in generated code and calls the same
  * static kernel `nullSafeEval` uses); the foldable codebook is
  * unpacked ONCE per expression instance into a `double[]` instead of
  * being re-walked as Literal ArrayData per row.
  *
  * Packing: with `numCents ≤ 2^bits` and `numSub·bits ≤ 64`, a
  * vector's PQ code is a SINGLE long (subspace `m` in bits
  * `[m·bits, (m+1)·bits)`) — the whole searchable index is
  * `(id, code, norm)` = 24 bytes/vector against 256 bytes of raw
  * floats, which is the entire point at 100 TB.
  */
object PqExpressions {

  /** Register `graft_pq_encode`, `graft_pq_lut`, `graft_pq_adc`.
    * Idempotent. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_pq_encode",
      exprs => PqEncode(exprs(0), exprs(1), exprs(2), exprs(3)), "built-in")
    reg.createOrReplaceTempFunction("graft_pq_lut",
      exprs => PqLut(exprs(0), exprs(1), exprs(2), exprs(3)), "built-in")
    reg.createOrReplaceTempFunction("graft_pq_adc",
      exprs => AdcDot(exprs(0), exprs(1), exprs(2), exprs(3)), "built-in")
  }

  /** struct(code, norm) packed PQ code + L2 norm (requires
    * [[register]]). */
  def pqEncode(vec: Column, codebook: Column, numSub: Int, numCents: Int): Column =
    call_function("graft_pq_encode", vec, codebook, lit(numSub), lit(numCents))

  /** struct(lut, qnorm) ADC lookup table + query norm (requires
    * [[register]]). */
  def pqLut(qv: Column, codebook: Column, numSub: Int, numCents: Int): Column =
    call_function("graft_pq_lut", qv, codebook, lit(numSub), lit(numCents))

  /** ADC inner product of a packed code against a query LUT (requires
    * [[register]]). */
  def adcDot(code: Column, lut: Column, numSub: Int, numCents: Int): Column =
    call_function("graft_pq_adc", code, lut, lit(numSub), lit(numCents))

  private[functions] def bitsFor(numCents: Int): Int =
    32 - java.lang.Integer.numberOfLeadingZeros(numCents - 1) match {
      case 0 => 1
      case b => b
    }

  /** [[PqEncode]] kernel (static: callable from generated code). */
  def encode(arr: ArrayData, cba: Array[Double], m: Int, k: Int): GenericInternalRow = {
    val n = arr.numElements()
    val dsub = n / m
    val bits = bitsFor(k)
    var code = 0L
    var norm = 0.0
    var s = 0
    while (s < m) {
      var best = Double.MaxValue
      var bestC = 0
      var c = 0
      while (c < k) {
        val base = (s * k + c) * dsub
        var dist = 0.0
        var d = 0
        while (d < dsub) {
          val x = arr.getFloat(s * dsub + d).toDouble
          val diff = x - cba(base + d)
          dist += diff * diff
          d += 1
        }
        if (dist < best) { best = dist; bestC = c }
        c += 1
      }
      code |= bestC.toLong << (s * bits)
      s += 1
    }
    var i = 0
    while (i < n) {
      val x = arr.getFloat(i).toDouble
      norm += x * x
      i += 1
    }
    new GenericInternalRow(Array[Any](code, math.sqrt(norm)))
  }

  /** [[PqLut]] kernel. */
  def lut(arr: ArrayData, cba: Array[Double], m: Int, k: Int): GenericInternalRow = {
    val n = arr.numElements()
    val dsub = n / m
    val lut = new Array[Double](m * k)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < k) {
        val base = (s * k + c) * dsub
        var dot = 0.0
        var d = 0
        while (d < dsub) {
          dot += arr.getFloat(s * dsub + d).toDouble * cba(base + d)
          d += 1
        }
        lut(s * k + c) = dot
        c += 1
      }
      s += 1
    }
    var norm = 0.0
    var i = 0
    while (i < n) {
      val x = arr.getFloat(i).toDouble
      norm += x * x
      i += 1
    }
    new GenericInternalRow(Array[Any](ArrayData.toArrayData(lut),
      math.sqrt(norm)))
  }

  /** [[AdcDot]] kernel — the per-candidate-pair hot loop of the PQ
    * scans (v8/v14): m masked shifts + array reads. */
  def adc(code: Long, lut: ArrayData, m: Int, k: Int, bits: Int): Double = {
    val mask = (1L << bits) - 1L
    var acc = 0.0
    var s = 0
    while (s < m) {
      val c = ((code >>> (s * bits)) & mask).toInt
      acc += lut.getDouble(s * k + c)
      s += 1
    }
    acc
  }

  private[functions] def checkShape(prettyName: String, vecType: DataType,
      cb: Expression, numSub: Expression, numCents: Expression): TypeCheckResult =
    (vecType, cb.dataType, numSub.dataType, numCents.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(DoubleType, _), IntegerType, IntegerType)
          if cb.foldable && numSub.foldable && numCents.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float>, foldable array<double>, " +
        s"foldable int, foldable int), got $other")
    }
}

/** `(vec, codebook, numSub, numCents)` → `struct(code: bigint,
  * norm: double)`: per subspace, the index of the L2-nearest codebook
  * centroid (ties to the lowest index), packed little-end-first into
  * one long; plus the full-vector L2 norm computed in the same pass
  * (left-to-right double accumulation, the [[CosineSim]] convention).
  */
case class PqEncode(vec: Expression, cb: Expression, numSub: Expression,
    numCents: Expression) extends QuaternaryExpression {

  override def first: Expression = vec
  override def second: Expression = cb
  override def third: Expression = numSub
  override def fourth: Expression = numCents

  override def checkInputDataTypes(): TypeCheckResult =
    PqExpressions.checkShape(prettyName, vec.dataType, cb, numSub, numCents)

  override def dataType: DataType = StructType(Seq(
    StructField("code", LongType, nullable = false),
    StructField("norm", DoubleType, nullable = false)))

  override def prettyName: String = "graft_pq_encode"

  @transient private lazy val cbArr: Array[Double] =
    cb.eval().asInstanceOf[ArrayData].toDoubleArray()
  @transient private lazy val mConst: Int = numSub.eval().asInstanceOf[Int]
  @transient private lazy val kConst: Int = numCents.eval().asInstanceOf[Int]

  override def nullSafeEval(v: Any, cbv: Any, mAny: Any, kAny: Any): Any =
    PqExpressions.encode(v.asInstanceOf[ArrayData], cbArr,
      mAny.asInstanceOf[Int], kAny.asInstanceOf[Int])

  override def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val vGen = vec.genCode(ctx)
    val ref = ctx.addReferenceObj("graftPqCb", cbArr, "double[]")
    ev.copy(code = vGen.code + code"""
      boolean ${ev.isNull} = ${vGen.isNull};
      org.apache.spark.sql.catalyst.InternalRow ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.PqExpressions.encode(
          ${vGen.value}, $ref, $mConst, $kConst);
      }""")
  }

  override protected def withNewChildrenInternal(f: Expression, sE: Expression,
      t: Expression, fo: Expression): Expression =
    copy(vec = f, cb = sE, numSub = t, numCents = fo)
}

/** `(qv, codebook, numSub, numCents)` → `struct(lut: array<double>,
  * qnorm: double)`: `lut(s·numCents + c)` is the exact double dot
  * product of query subvector `s` against centroid `(s, c)` — the ADC
  * table — plus the query's L2 norm. */
case class PqLut(qv: Expression, cb: Expression, numSub: Expression,
    numCents: Expression) extends QuaternaryExpression {

  override def first: Expression = qv
  override def second: Expression = cb
  override def third: Expression = numSub
  override def fourth: Expression = numCents

  override def checkInputDataTypes(): TypeCheckResult =
    PqExpressions.checkShape(prettyName, qv.dataType, cb, numSub, numCents)

  override def dataType: DataType = StructType(Seq(
    StructField("lut", ArrayType(DoubleType, containsNull = false),
      nullable = false),
    StructField("qnorm", DoubleType, nullable = false)))

  override def prettyName: String = "graft_pq_lut"

  @transient private lazy val cbArr: Array[Double] =
    cb.eval().asInstanceOf[ArrayData].toDoubleArray()
  @transient private lazy val mConst: Int = numSub.eval().asInstanceOf[Int]
  @transient private lazy val kConst: Int = numCents.eval().asInstanceOf[Int]

  override def nullSafeEval(v: Any, cbv: Any, mAny: Any, kAny: Any): Any =
    PqExpressions.lut(v.asInstanceOf[ArrayData], cbArr,
      mAny.asInstanceOf[Int], kAny.asInstanceOf[Int])

  override def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val vGen = qv.genCode(ctx)
    val ref = ctx.addReferenceObj("graftPqCb", cbArr, "double[]")
    ev.copy(code = vGen.code + code"""
      boolean ${ev.isNull} = ${vGen.isNull};
      org.apache.spark.sql.catalyst.InternalRow ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.PqExpressions.lut(
          ${vGen.value}, $ref, $mConst, $kConst);
      }""")
  }

  override protected def withNewChildrenInternal(f: Expression, sE: Expression,
      t: Expression, fo: Expression): Expression =
    copy(qv = f, cb = sE, numSub = t, numCents = fo)
}

/** `(code, lut, numSub, numCents)` → the ADC approximate inner
  * product: `Σ_s lut(s·numCents + nibble_s(code))` — 8 array reads and
  * adds per (query, vector) pair, no floats of the vector touched. */
case class AdcDot(code: Expression, lut: Expression, numSub: Expression,
    numCents: Expression) extends QuaternaryExpression {

  override def first: Expression = code
  override def second: Expression = lut
  override def third: Expression = numSub
  override def fourth: Expression = numCents

  override def checkInputDataTypes(): TypeCheckResult =
    (code.dataType, lut.dataType, numSub.dataType, numCents.dataType) match {
      case (LongType, ArrayType(DoubleType, _), IntegerType, IntegerType)
          if numSub.foldable && numCents.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (bigint, array<double>, foldable int, " +
        s"foldable int), got $other")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_pq_adc"

  @transient private lazy val mConst: Int = numSub.eval().asInstanceOf[Int]
  @transient private lazy val kConst: Int = numCents.eval().asInstanceOf[Int]
  @transient private lazy val bitsConst: Int = PqExpressions.bitsFor(kConst)

  override def nullSafeEval(cAny: Any, lAny: Any, mAny: Any, kAny: Any): Any = {
    val k = kAny.asInstanceOf[Int]
    PqExpressions.adc(cAny.asInstanceOf[Long], lAny.asInstanceOf[ArrayData],
      mAny.asInstanceOf[Int], k, PqExpressions.bitsFor(k))
  }

  override def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val cGen = code.genCode(ctx)
    val lGen = lut.genCode(ctx)
    ev.copy(code = cGen.code + lGen.code + code"""
      boolean ${ev.isNull} = ${cGen.isNull} || ${lGen.isNull};
      double ${ev.value} = 0.0;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.PqExpressions.adc(
          ${cGen.value}, ${lGen.value}, $mConst, $kConst, $bitsConst);
      }""")
  }

  override protected def withNewChildrenInternal(f: Expression, sE: Expression,
      t: Expression, fo: Expression): Expression =
    copy(code = f, lut = sE, numSub = t, numCents = fo)
}
