package graft.functions.expressions

import graft.functions.TextFunctions
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType}

/** `srp_expand(vec, outDim, prefix)` — signed-random-projection
  * DIMENSION REMAP: each output coordinate is `Σ_k ±v[k]` with the
  * sign drawn deterministically from the repo-wide md5-60 hash of
  * `"prefix:j:k"` (the [[SrpBandBucketsExpr]] plane convention, here
  * materializing the PROJECTED VECTOR instead of its sign sketch).
  * The BQ tier's geometry fix: coordinate-sign quantization
  * ([[BinaryQuantExprs]]) keys on whatever basis the embedding
  * happened to ship in, and at low dimension its Hamming ranking is
  * noise- and tie-dominated (BASELINE.md round-19 BQ recall tables); projecting to
  * `outDim` dense ±1 hyperplane sums first yields `outDim`
  * angle-preserving sign bits — BQ recall then tracks the projection
  * dimension, not the storage dimension. Chain:
  * `srp_expand → bq_codes / bq_hamming` (candidate tier) with the
  * exact re-rank on the ORIGINAL floats.
  * (Reference analogue: none; training-data-pipeline extension.)
  *
  * Determinism & cross-engine parity: signs are
  * `md5_60("prefix:j:k") % 2 == 0 → +1 else -1` and the per-output
  * fold runs k-ascending in DOUBLE, rounded once to FLOAT — the
  * DuckDB oracle replays the identical fold
  * (`list_reduce(list_transform(range(inDim), ...))`) and IEEE 754
  * makes the per-element sums bit-identical. The sign matrix is
  * computed once per `(prefix, outDim, inDim)` and cached
  * process-wide; per row the kernel is `outDim × inDim` fused
  * multiply-adds — no md5 on the row path.
  *
  * Null vector → null (the vector-kernel family contract).
  */
object SrpExpandExpr {

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Int), Array[Byte]]()

  /** The ±1 matrix, row-major `[j * inDim + k]`, cached per shape. */
  def signs(prefix: String, outDim: Int, inDim: Int): Array[Byte] =
    cache.computeIfAbsent((prefix, outDim, inDim), { _ =>
      val a = new Array[Byte](outDim * inDim)
      var j = 0
      while (j < outDim) {
        var k = 0
        while (k < inDim) {
          a(j * inDim + k) =
            if (TextFunctions.md5Hash60Local(s"$prefix:$j:$k") % 2 == 0) 1
            else -1
          k += 1
        }
        j += 1
      }
      a
    })

  /** Called from generated code. `pin` is the per-expression-instance
    * input-dimension pin (ADVICE r20 latents #3/#4): the sign matrix is
    * a pure function of `(prefix, outDim, inDim)`, so MIXED-length
    * vectors in one column would silently project through different
    * matrices and rank incomparably — the first row pins `inDim` and
    * any later mismatch fails loud. Null ELEMENTS would read as 0.0
    * through `getFloat` (outside the "null vector → null" contract),
    * so they fail loud too.
    */
  def run(a: ArrayData, outDim: Int, prefix: String,
      pin: java.util.concurrent.atomic.AtomicInteger): ArrayData = {
    val inDim = a.numElements()
    if (!pin.compareAndSet(-1, inDim)) {
      val p = pin.get()
      if (p != inDim)
        throw new IllegalArgumentException(
          s"srp_expand: mixed input dimensions in one column ($p then $inDim) — " +
            "each srp_expand column requires one fixed vector dimension")
    }
    var k0 = 0
    while (k0 < inDim) {
      if (a.isNullAt(k0))
        throw new IllegalArgumentException(
          s"srp_expand: null vector element at index $k0 — " +
            "null elements have no sign-projection semantics (null VECTOR -> null)")
      k0 += 1
    }
    val s = signs(prefix, outDim, inDim)
    val out = new Array[Float](outDim)
    var j = 0
    while (j < outDim) {
      var acc = 0.0
      val base = j * inDim
      var k = 0
      while (k < inDim) {
        val v = a.getFloat(k).toDouble
        acc += (if (s(base + k) == 1) v else -v)
        k += 1
      }
      out(j) = acc.toFloat
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Driver-side twin (query vectors and the spec's local reference). */
  def expandLocal(v: Array[Float], outDim: Int, prefix: String): Array[Float] = {
    val s = signs(prefix, outDim, v.length)
    Array.tabulate(outDim) { j =>
      var acc = 0.0
      val base = j * v.length
      var k = 0
      while (k < v.length) {
        acc += (if (s(base + k) == 1) v(k).toDouble else -v(k).toDouble)
        k += 1
      }
      acc.toFloat
    }
  }

  def srpExpand(c: Column, outDim: Int, prefix: String): Column =
    Bridge.column(SrpExpandExpr(Bridge.expression(c), outDim, prefix))
}

case class SrpExpandExpr(child: Expression, outDim: Int, prefix: String)
    extends UnaryExpression {
  require(outDim >= 1, s"srp_expand outDim must be >= 1, got $outDim")

  // per-instance (hence at worst per-task after serialization) input-
  // dimension pin — see [[SrpExpandExpr.run]]; -1 = not yet pinned
  private val inDimPin = new java.util.concurrent.atomic.AtomicInteger(-1)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"srp_expand requires ARRAY<FLOAT>, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "srp_expand"

  override protected def nullSafeEval(a: Any): Any =
    SrpExpandExpr.run(a.asInstanceOf[ArrayData], outDim, prefix, inDimPin)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("srpPrefix", prefix, "java.lang.String")
    val pinRef = ctx.addReferenceObj("srpPin", inDimPin,
      "java.util.concurrent.atomic.AtomicInteger")
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.expressions.SrpExpandExpr.run($a, $outDim, $pRef, $pinRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): SrpExpandExpr =
    copy(child = newChild)
}
