package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Fused product-quantization encoder — the PQ sibling of [[IvfCell]]:
  * all m per-subspace argmins in ONE loop per row, replacing the
  * `array(array_min(array(struct(-2·qdot(slice(qv,…), c) + ‖c‖², j),
  * …)), …)` composition whose m×k struct entries each re-inlined the
  * quantization `transform` — 64 interpreted lambda evaluations per
  * corpus row in e_pq_topk's encode Project (round-18 plan sweep;
  * lambda-bearing expressions are exempt from subexpression
  * elimination, so the round-17 audit's "CSE applies in a Project"
  * classification did not hold for these). Encoding is the
  * corpus-scale map stage of every PQ path, so the multiplier was on
  * the 100 TB scan.
  *
  * Value parity (IvfCellSpec pins the declarative form verbatim):
  * per subspace j the distance is the exact long
  * −2·(q[j·subDim ..]·c) + ‖c‖² over min(subDim, len−j·subDim)
  * elements (slice+qdot semantics for short vectors), null elements
  * skipped, ties to the LOWEST code (array_min over (d, code)
  * structs). Float input quantizes inline with
  * [[graft.ops.Embeddings.quantize]] semantics. Null contract: null
  * vector → null codes (the declarative form coded a null vector to
  * per-subspace code 0 — defensive only; no caller feeds null
  * vectors, and the oracle replays the non-null domain). */
object PqCodesKernel {

  def codesQ(a: ArrayData, subDim: Int, books: Array[Array[Array[Long]]],
             norms: Array[Array[Long]]): ArrayData = {
    val len = a.numElements()
    val out = new Array[Int](books.length)
    var j = 0
    while (j < books.length) {
      val start = j * subDim
      val book = books(j)
      var bestD = Long.MaxValue
      var bestK = 0
      var k = 0
      while (k < book.length) {
        val c = book(k)
        val n = math.min(math.max(len - start, 0), c.length)
        var dot = 0L
        var i = 0
        while (i < n) {
          if (!a.isNullAt(start + i)) dot += a.getLong(start + i) * c(i)
          i += 1
        }
        val d = -2L * dot + norms(j)(k)
        if (d < bestD) { bestD = d; bestK = k }
        k += 1
      }
      out(j) = bestK
      j += 1
    }
    new GenericArrayData(out)
  }

  def codesF(a: ArrayData, subDim: Int, books: Array[Array[Array[Long]]],
             norms: Array[Array[Long]]): ArrayData = {
    val len = a.numElements()
    // quantize once; the subspace loops then read exact longs
    val q = new Array[Long](len)
    val isNull = new Array[Boolean](len)
    var i = 0
    while (i < len) {
      if (a.isNullAt(i)) isNull(i) = true
      else q(i) = math.floor(a.getFloat(i).toDouble * 10000.0).toLong
      i += 1
    }
    val out = new Array[Int](books.length)
    var j = 0
    while (j < books.length) {
      val start = j * subDim
      val book = books(j)
      var bestD = Long.MaxValue
      var bestK = 0
      var k = 0
      while (k < book.length) {
        val c = book(k)
        val n = math.min(math.max(len - start, 0), c.length)
        var dot = 0L
        var x = 0
        while (x < n) {
          if (!isNull(start + x)) dot += q(start + x) * c(x)
          x += 1
        }
        val d = -2L * dot + norms(j)(k)
        if (d < bestD) { bestD = d; bestK = k }
        k += 1
      }
      out(j) = bestK
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** PQ code array (length m, one int code per subspace) of a vector
  * column (array<long> quantized, or array<float> raw — quantized
  * inline). See [[PqCodesKernel]]. */
case class PqCodes(child: Expression, subDim: Int,
                   codebooks: Seq[Seq[Seq[Long]]])
    extends UnaryExpression {
  require(subDim >= 1, s"pq_codes: subDim must be >= 1, got $subDim")
  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
    "pq_codes: empty codebooks")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_codes"

  // null-in -> null-out (nullSafeEval); declaring it lets the
  // optimizer rules gated on nullIntolerant apply (null-literal
  // folding, not-null constraint scans through the kernel)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(LongType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"pq_codes requires array<float> or array<bigint>, got $other")
    }

  @transient private lazy val books: Array[Array[Array[Long]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val norms: Array[Array[Long]] =
    books.map(_.map { c =>
      var s = 0L; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      s
    })

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    if (isFloat) PqCodesKernel.codesF(a, subDim, books, norms)
    else PqCodesKernel.codesQ(a, subDim, books, norms)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bRef = ctx.addReferenceObj("books", books, "long[][][]")
    val nRef = ctx.addReferenceObj("norms", norms, "long[][]")
    val fn = if (isFloat) "codesF" else "codesQ"
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.PqCodesKernel.$fn($a, $subDim, $bRef, $nRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)
}

object PqCodes {
  /** Column API: PQ codes of `v` against per-subspace codebooks. */
  def codesCol(v: Column, subDim: Int,
               codebooks: Array[Array[Array[Long]]]): Column =
    GraftColumnBridge.column(
      PqCodes(GraftColumnBridge.expression(v), subDim,
        codebooks.map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq))
}
