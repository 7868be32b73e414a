package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Language-model / classifier scoring. The feature kernels
  * (`word_ngram_counts`, `hashed_ngram_features`, `domain_suffixes`) are
  * [[KernelCall]] rows over [[TextKernels]], deliberately SQL-replicable so
  * the DuckDB oracle can recompute them exactly: space-split tokens
  * (`split(text, " ", -1)`, trailing empties kept — the behavior of
  * Spark's `split(text, ' ')` and DuckDB's `string_split(text, ' ')`),
  * grams joined with a single space, and a 31-base polynomial codepoint
  * hash. The scorer below embeds its weights, which a literal cannot. */

/** Dense linear scorer over sparse hashed features with the weight vector
  * EMBEDDED in the expression (ctx.addReferenceObj — the
  * [[BloomContainsLit]] pattern): parsed/allocated once per executor, not
  * per row, so scoring a 100-TB corpus against a trained classifier is a
  * single codegen'd map with zero joins and zero per-row deserialization.
  * score = bias + sum(v * w(idx)); summation runs in the feature array's
  * idx-sorted order, so results are bit-deterministic per row. */
case class LinearScoreLit(child: Expression, weights: Array[Double], bias: Double)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StructType(Seq(
    StructField("idx", IntegerType, nullable = false),
    StructField("v", LongType, nullable = false)))))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "linear_score_lit"
  override def nullSafeEval(v: Any): Any = LinearScoreLit.score(
    v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], weights, bias)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("lmWeights", weights, "double[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.LinearScoreLit.score($c, $w, $bias)")
  }
  override protected def withNewChildInternal(c: Expression): LinearScoreLit =
    copy(child = c)
  // Array fields default to reference equality; structural semantics keep
  // two scorers built from the same trained weights canonically equal
  // (same lesson as GopherParams — subexpression elimination works).
  override def equals(o: Any): Boolean = o match {
    case LinearScoreLit(c, w, b) =>
      c == child && b == bias && java.util.Arrays.equals(w, weights)
    case _ => false
  }
  override def hashCode(): Int =
    31 * (31 * child.hashCode() + java.util.Arrays.hashCode(weights)) +
      java.lang.Double.hashCode(bias)
}

object LinearScoreLit {
  def score(feats: org.apache.spark.sql.catalyst.util.ArrayData,
            w: Array[Double], bias: Double): Double = {
    var s = bias
    var i = 0
    val n = feats.numElements()
    while (i < n) {
      val r = feats.getStruct(i, 2)
      val idx = r.getInt(0)
      if (idx >= 0 && idx < w.length) s += r.getLong(1) * w(idx)
      i += 1
    }
    s
  }
}
