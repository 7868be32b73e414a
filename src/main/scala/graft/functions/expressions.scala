package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Scalar Catalyst expressions for the graft engine. A function whose whole
 * logic is one call into a static kernel (graft.core.*, or the adapters in
 * [[SketchKernels]], [[TextKernels]] and [[VectorKernels]] that take and
 * return Spark's internal values) is a [[KernelCall]]: it is declared once,
 * as its row in [[GraftFunctions.builders]], and the optimizer replaces it
 * with Spark's own `StaticInvoke`, so eval and codegen are written nowhere
 * here. The hand-written expressions (here, and in the other
 * `*Expressions.scala` files) are the ones that take two input types,
 * check their own input types or carry model or array state; all of them
 * codegen into static calls too, so they stay inside whole-stage codegen —
 * no Scala UDF wrapping, no encoder round-trips.
 */

/** One static kernel call as a SQL function: `name(children)` analyses
  * with implicit casts to `inputTypes`, and the optimizer replaces it with
  * `StaticInvoke(target.method(children ++ literals))`. `literals` are the
  * build-time arguments (a shingle size, a crawler agent): the kernel gets
  * them after the columns and `toString` shows them, but they are not
  * children, so the output column is named `name(children)`. The result is
  * NULL when any child is NULL, and, with `returnsNull`, when the kernel
  * returns null. */
case class KernelCall(
    name: String,
    target: Class[_],
    method: String,
    resultType: DataType,
    inputTypes: Seq[DataType],
    children: Seq[Expression],
    literals: Seq[Literal] = Nil,
    returnsNull: Boolean = false)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override lazy val replacement: Expression = StaticInvoke(target, resultType, method,
    children ++ literals, inputTypes ++ literals.map(_.dataType), returnNullable = returnsNull)
  override def prettyName: String = name
  override def flatArguments: Iterator[Any] = (children ++ literals).iterator
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): KernelCall =
    copy(children = c)
}

/** XXH3-64 over binary or UTF-8 string bytes. Reference hashes the 16-byte
  * truncated address (/root/reference/internal/ip_address.go:44-45); the
  * generalized pipeline also hashes hostnames/urls. NOT Spark's `xxhash64`
  * (that is XXH64, a different algorithm). */
case class Xxh3(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType | StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"xxh3_64 requires BINARY or STRING input, got ${other.catalogString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "xxh3_64"
  override def nullSafeEval(v: Any): Any = v match {
    case b: Array[Byte] => graft.core.hash.XXH3.hash(b)
    case s: UTF8String  => graft.core.hash.XXH3.hashUTF8(s) // zero-copy
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    child.dataType match {
      case BinaryType =>
        defineCodeGen(ctx, ev, c => s"graft.core.hash.XXH3.hash($c)")
      case StringType => // hash the UTF8String payload in place, no copy
        defineCodeGen(ctx, ev, c => s"graft.core.hash.XXH3.hashUTF8($c)")
      case other => throw new IllegalStateException(s"unexpected input type $other")
    }
  }
  override protected def withNewChildInternal(c: Expression): Xxh3 = copy(child = c)
}

/** The sketch kernels whose result is not a plain `graft.core.sketch.SketchOps`
  * value: arrays and structs in Spark's internal form, and the KMV union. */
object SketchKernels {
  /** The held bottom-k hashes, unsigned ascending. */
  def kmvHashes(sketch: Array[Byte]): ArrayData =
    new GenericArrayData(graft.core.sketch.SketchOps.kmvHashes(sketch))

  /** Lattice join of two KMV sketches. */
  def kmvUnion(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val ka = graft.core.sketch.Kmv.fromBytes(a)
    ka.merge(graft.core.sketch.Kmv.fromBytes(b))
    ka.toBytes
  }

  /** `buckets - 1` equi-height split points of a KLL sketch. */
  def kllSplits(sketch: Array[Byte], buckets: Int): ArrayData =
    new GenericArrayData(graft.core.sketch.SketchOps.kllSplits(sketch, buckets))

  /** Misra-Gries items as (hash, lo, hi), hash unsigned-ascending. */
  def freqItems(sketch: Array[Byte]): ArrayData = {
    val s = graft.core.sketch.FreqItems.fromBytes(sketch)
    itemRows(s.items, s.errBound)
  }

  /** The `k` heaviest Misra-Gries items as (hash, lo, hi), by stored count
    * descending, ties by hash unsigned-ascending. */
  def freqTop(sketch: Array[Byte], k: Int): ArrayData = {
    require(k >= 0, s"freq_top: k must be >= 0, got $k")
    val s = graft.core.sketch.FreqItems.fromBytes(sketch)
    itemRows(s.items.sortBy { case (h, c) => (-c, h ^ Long.MinValue) }.take(k), s.errBound)
  }

  private def itemRows(items: Array[(Long, Long)], err: Long): ArrayData =
    new GenericArrayData(items.map { case (h, c) =>
      new GenericInternalRow(Array[Any](h, c, c + err)): Any
    })
}
