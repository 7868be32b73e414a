package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.core.text.BpeModel

/** BPE tokenizer expressions. The trained [[BpeModel]] is EMBEDDED in the
  * expression via ctx.addReferenceObj (the [[BloomContainsLit]] /
  * [[LinearScoreLit]] pattern): its rank table and vocab byte arrays
  * materialize lazily ONCE per executor, so tokenizing a 100-TB corpus is
  * a single codegen'd map — no joins, no broadcast-variable plumbing, no
  * per-row model parsing. BpeModel's structural equality keeps two
  * expressions over the same trained model canonically equal. */
case class BpeEncodeLit(child: Expression, model: BpeModel)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override val dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "bpe_encode_lit"
  override def nullSafeEval(v: Any): Any =
    BpeEncodeLit.encode(v.asInstanceOf[UTF8String], model)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("bpeModel", model, classOf[BpeModel].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.BpeEncodeLit.encode($c, $m)")
  }
  override protected def withNewChildInternal(c: Expression): BpeEncodeLit =
    copy(child = c)
}

object BpeEncodeLit {
  def encode(text: UTF8String, model: BpeModel): GenericArrayData =
    new GenericArrayData(model.encode(text.toString))
}

case class BpeDecodeLit(child: Expression, model: BpeModel)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(IntegerType))
  override def dataType: DataType = StringType
  override def prettyName: String = "bpe_decode_lit"
  override def nullSafeEval(v: Any): Any =
    BpeDecodeLit.decode(v.asInstanceOf[ArrayData], model)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("bpeModel", model, classOf[BpeModel].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.BpeDecodeLit.decode($c, $m)")
  }
  override protected def withNewChildInternal(c: Expression): BpeDecodeLit =
    copy(child = c)
}

object BpeDecodeLit {
  def decode(ids: ArrayData, model: BpeModel): UTF8String = {
    val n = ids.numElements()
    var i = 0
    while (i < n) {
      if (ids.isNullAt(i))
        throw new IllegalArgumentException(
          "bpe_decode_lit: token array must not contain NULL ids")
      i += 1
    }
    UTF8String.fromString(model.decode(ids.toIntArray()))
  }
}
