package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Vector expressions over array<float>/array<double> columns, codegen'd
  * into graft.core.vector.VectorOps tight loops (Spark's zip_with/aggregate
  * higher-order functions are CodegenFallback and allocate per element —
  * measured 20x slower on the candidate-pair cosine path). The expressions
  * here take either element type or carry a matrix; the sorted-array
  * kernels of the set-similarity joins are [[KernelCall]] rows over
  * [[VectorKernels]]. */

/** The static kernels of the sorted-array functions of
  * [[GraftFunctions.builders]]: one linear merge per row over Spark's
  * internal arrays, no per-element boxing, no hash set. */
object VectorKernels {
  /** |a ∩ b| for two SORTED array<long> — the exact overlap of two
    * shingle-hash sets in the set-similarity verifiers. */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    val x = a.toLongArray()
    val y = b.toLongArray()
    var i = 0; var j = 0; var n = 0L
    while (i < x.length && j < y.length) {
      if (x(i) < y(j)) i += 1
      else if (x(i) > y(j)) j += 1
      else { n += 1; i += 1; j += 1 }
    }
    n
  }

  /** The L2AP prefix (Anastasiu & Karypis 2014) of a unit-normalized
    * sparse vector given as parallel (keys, weights) arrays in global
    * rarest-first order, as array<struct<h, w, nx>>: features are kept
    * while the running SUFFIX norm stays >= t, each with its own weight
    * `w` and the suffix norm AFTER it, `nx = ||x[i+1..]||`. At the
    * globally smallest SHARED feature of a pair (position i of a, j of b)
    * every other shared feature ranks after both, so
    * cos(a,b) <= w_a[i]*w_b[j] + nx_a[i]*nx_b[j] (Cauchy-Schwarz on the
    * suffixes) — the positional bound, strictly tighter than the plain
    * suffix-norm product sqrt(w_a^2+nx_a^2)*sqrt(w_b^2+nx_b^2), and exact:
    * the first-shared-feature row of a qualifying pair always passes, so
    * completeness is preserved while non-first rows that fail only shed
    * duplicate candidates. */
  def l2apPrefix(keys: ArrayData, weights: ArrayData, t: Double): ArrayData = {
    val k = keys.toLongArray()
    val w = weights.toDoubleArray()
    val n = math.min(k.length, w.length)
    val out = new scala.collection.mutable.ArrayBuffer[Any](8)
    var s = 0.0 // sum of squares BEFORE position i
    var i = 0
    while (i < n && !(1.0 - s < t * t)) {
      val nx = math.sqrt(math.max(0.0, (1.0 - s) - w(i) * w(i)))
      out += new GenericInternalRow(Array[Any](k(i), w(i), nx))
      s += w(i) * w(i)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Dot product of two sparse vectors given as key-sorted parallel
    * arrays — the verification kernel of the exact sparse cosine join. */
  def sortedWeightedDot(ka: ArrayData, wa: ArrayData, kb: ArrayData, wb: ArrayData): Double = {
    val xa = ka.toLongArray(); val va = wa.toDoubleArray()
    val xb = kb.toLongArray(); val vb = wb.toDoubleArray()
    var i = 0; var j = 0; var s = 0.0
    val na = math.min(xa.length, va.length)
    val nb = math.min(xb.length, vb.length)
    while (i < na && j < nb) {
      if (xa(i) < xb(j)) i += 1
      else if (xa(i) > xb(j)) j += 1
      else { s += va(i) * vb(j); i += 1; j += 1 }
    }
    s
  }
}

private object VecType {
  def elem(dt: DataType): Option[DataType] = dt match {
    case ArrayType(FloatType, _) => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }
}

/** cosine_sim(a, b) -> double. */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (VecType.elem(left.dataType), VecType.elem(right.dataType)) match {
      case (Some(a), Some(b)) if a == b => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"cosine_sim requires two array<float> or two array<double>, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  private def isFloat = VecType.elem(left.dataType).contains(FloatType)
  override def nullSafeEval(a: Any, b: Any): Any = {
    if (isFloat)
      graft.core.vector.VectorOps.cosineF(
        a.asInstanceOf[ArrayData].toFloatArray(), b.asInstanceOf[ArrayData].toFloatArray())
    else
      graft.core.vector.VectorOps.cosineD(
        a.asInstanceOf[ArrayData].toDoubleArray(), b.asInstanceOf[ArrayData].toDoubleArray())
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (conv, fn) = if (isFloat) ("toFloatArray", "cosineF") else ("toDoubleArray", "cosineD")
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.core.vector.VectorOps.$fn($a.$conv(), $b.$conv())")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

/** lsh_sig(vec) -> long sign-sketch under deterministic hyperplane table. */
case class LshSig(child: Expression, planes: Int, table: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    VecType.elem(child.dataType) match {
      case Some(_) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"lsh_sig requires array<float|double>, got ${child.dataType.catalogString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "lsh_sig"
  private def isFloat = VecType.elem(child.dataType).contains(FloatType)
  override def nullSafeEval(v: Any): Any = {
    if (isFloat)
      graft.core.vector.VectorOps.lshSigF(v.asInstanceOf[ArrayData].toFloatArray(), planes, table)
    else
      graft.core.vector.VectorOps.lshSigD(v.asInstanceOf[ArrayData].toDoubleArray(), planes, table)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (conv, fn) = if (isFloat) ("toFloatArray", "lshSigF") else ("toDoubleArray", "lshSigD")
    defineCodeGen(ctx, ev, v =>
      s"graft.core.vector.VectorOps.$fn($v.$conv(), $planes, $table)")
  }
  override protected def withNewChildInternal(c: Expression): LshSig = copy(child = c)
}

/** centroid_cos(vec, cluster) -> cosine(vec, centroids[cluster]). The
  * centroid matrix is plan-embedded (addReferenceObj), same pattern as
  * NearestCentroids — used by the exact cluster-pruned similarity join to
  * compute per-block angular radii in the assignment pass. */
case class CentroidCos(left: Expression, right: Expression,
                       centroids: Array[Array[Double]]) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (VecType.elem(left.dataType), right.dataType) match {
      case (Some(_), IntegerType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"centroid_cos requires (array<float|double>, int), got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "centroid_cos"
  private def isFloat = VecType.elem(left.dataType).contains(FloatType)
  override def nullSafeEval(v: Any, c: Any): Any = {
    val cent = centroids(c.asInstanceOf[Int])
    if (isFloat)
      graft.core.vector.VectorOps.cosineFD(v.asInstanceOf[ArrayData].toFloatArray(), cent)
    else
      graft.core.vector.VectorOps.cosineD(v.asInstanceOf[ArrayData].toDoubleArray(), cent)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", centroids, "double[][]")
    val (conv, fn) = if (isFloat) ("toFloatArray", "cosineFD") else ("toDoubleArray", "cosineD")
    defineCodeGen(ctx, ev, (v, c) =>
      s"graft.core.vector.VectorOps.$fn($v.$conv(), $cRef[$c])")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CentroidCos =
    copy(left = l, right = r)
}

/** bloom_contains against a plan-embedded, pre-parsed filter — for
  * broadcast-style prefilters. Putting sketch BYTES in a column makes the
  * estimator re-parse the filter per row (measured: a 128 KiB Bloom parsed
  * 600k times cost more than the join it was accelerating); here the filter
  * deserializes once per executor via addReferenceObj. */
case class BloomContainsLit(child: Expression, filterBytes: Array[Byte])
    extends UnaryExpression {
  @transient private lazy val filter = graft.core.sketch.BloomFilter.fromBytes(filterBytes)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bloom_contains_lit requires LONG hash input, got ${other.catalogString}")
  }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_contains_lit"
  override def nullSafeEval(h: Any): Any = filter.mightContain(h.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomFilter", filter,
      "graft.core.sketch.BloomFilter")
    defineCodeGen(ctx, ev, h => s"$ref.mightContain($h)")
  }
  override protected def withNewChildInternal(c: Expression): BloomContainsLit = copy(child = c)
}

/** rotate_vec(vec) -> R^T * vec as array<double> — the OPQ rotation applied
  * per row (Ge et al. 2013). The d x d orthonormal matrix is plan-embedded
  * (addReferenceObj, row-major), the product a codegen'd tight loop; rows
  * shorter than d are zero-padded, longer ones truncated. */
case class RotateVec(child: Expression, rt: Array[Array[Double]])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"rotate_vec requires array<float|double>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "rotate_vec"
  private def isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val d =
      if (isFloat) { val f = arr.toFloatArray(); Array.tabulate(f.length)(i => f(i).toDouble) }
      else arr.toDoubleArray()
    new org.apache.spark.sql.catalyst.util.GenericArrayData(RotateVec.apply(d, rt))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val rRef = ctx.addReferenceObj("opqRt", rt, "double[][]")
    val (conv, fn) = if (isFloat) ("toFloatArray", "applyF") else ("toDoubleArray", "apply")
    defineCodeGen(ctx, ev, v =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
      s"graft.functions.RotateVec.$fn($v.$conv(), $rRef))")
  }
  override protected def withNewChildInternal(c: Expression): RotateVec = copy(child = c)
}

object RotateVec {
  def applyF(v: Array[Float], rt: Array[Array[Double]]): Array[Double] = {
    val d = new Array[Double](v.length)
    var i = 0
    while (i < v.length) { d(i) = v(i); i += 1 }
    apply(d, rt)
  }
  /** out[j] = sum_i rt[j][i] * v[i] (rt = R^T, row-major). */
  def apply(v: Array[Double], rt: Array[Array[Double]]): Array[Double] = {
    val dims = rt.length
    val out = new Array[Double](dims)
    var j = 0
    while (j < dims) {
      val row = rt(j)
      var s = 0.0
      var i = 0
      val lim = math.min(row.length, v.length)
      while (i < lim) { s += row(i) * v(i); i += 1 }
      out(j) = s
      j += 1
    }
    out
  }
}
