package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Static kernel for the vector hot path (same shape as [[GeoKernel]]):
  * whole-stage codegen emits one static call per ROW, vs the built-in
  * `aggregate(zip_with(...))` composition whose higher-order functions are
  * CodegenFallback — interpreted `ArrayAggregate.eval` with a lambda-variable
  * box per ELEMENT, observed as the dominant cost of the brute-force cosine
  * scorer (one core pinned in eval while scoring pairs). */
object VecKernel {
  /** argmax-cosine centroid index — bit-exact match of the historical
    * `Similarity.nearestCellUdf` loop: dot accumulated left-to-right over
    * `min(len)` dims, cos = d/(norm_c·vn) with −2.0 for zero norms, strict
    * `>` keeps the LOWEST index on ties. The codegen'd form exists because
    * the boxed-Seq UDF ran at ~270 Mflop/s and was the dominant stage of
    * the semDedup/IVF profile (BASELINE.md §3f). */
  def nearestCell(v: ArrayData, cents: Array[Array[Double]],
                  norms: Array[Double], vn: Double): Int = {
    var best = 0; var bestCos = Double.MinValue
    var c = 0
    while (c < cents.length) {
      val ctr = cents(c)
      var d = 0.0; var i = 0
      val n = math.min(ctr.length, v.numElements())
      while (i < n) { d += ctr(i) * v.getDouble(i); i += 1 }
      val cos = if (norms(c) == 0 || vn == 0) -2.0 else d / (norms(c) * vn)
      if (cos > bestCos) { bestCos = cos; best = c }
      c += 1
    }
    best
  }

  /** Dot product of two ARRAY<DOUBLE> values. Bit-exact match of
    * `aggregate(zip_with(a, b, (x, y) => x*y), 0.0, (acc, v) => acc+v)`:
    * left-to-right accumulation; null when lengths differ (zip_with pads the
    * short side with null, poisoning the sum) or any element is null. */
  def dot(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

/** Native dot product over two ARRAY<DOUBLE> columns (DOUBLE out).
  * checkInputDataTypes REJECTS other element types at analysis time —
  * without it an ARRAY<FLOAT> (the raw embedding type before
  * Similarity.toDouble) would pass analysis and getDouble() would
  * reinterpret 4-byte slots as doubles: silently wrong scores, no error
  * (r3 review finding). */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vecdot expects ARRAY<DOUBLE> inputs, got ${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true // length mismatch / null element

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecKernel.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("dotResult")
      s"""
         |java.lang.Double $r = graft.plans.VecKernel.dot($a, $b);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native coarse-quantizer assignment: argmax-cosine centroid index for an
  * ARRAY<DOUBLE> vector + its precomputed norm, against a centroid matrix
  * shipped once per plan via addReferenceObj (never per row). INT out;
  * ties keep the lowest centroid index (strict `>`), matching the UDF it
  * replaces bit for bit — SimilaritySpec pins the parity. */
case class NearestCell(vec: Expression, vnorm: Expression,
                       centroids: Array[Array[Double]]) extends BinaryExpression {
  override def left: Expression = vec
  override def right: Expression = vnorm
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (vec.dataType, vnorm.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"nearestcell expects (ARRAY<DOUBLE>, DOUBLE), got ${a.sql} and ${b.sql}")
    }
  }
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = vec.nullable || vnorm.nullable

  @transient private lazy val norms: Array[Double] =
    centroids.map(c => math.sqrt(c.map(x => x * x).sum))

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecKernel.nearestCell(a.asInstanceOf[ArrayData], centroids, norms,
      b.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cents = ctx.addReferenceObj("cents", centroids, "double[][]")
    val ns = ctx.addReferenceObj("cellNorms", norms, "double[]")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.VecKernel.nearestCell($a, $cents, $ns, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(vec = newLeft, vnorm = newRight)
}
