package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Row-level kernel shared by interpreted eval and generated code. */
object SetJaccardUtil {

  /** |A∩B| / max(|A∪B|, 1) of two string arrays taken as SETS: one
    * merge of the two sorted element runs, |A∪B| = |A| + |B| − |A∩B|.
    * A NULL element is one more set member, as in `array_intersect` /
    * `array_union`; so the quotient divides the same two integers as
    * `size(array_intersect(a, b)) / greatest(size(array_union(a, b)), 1)`
    * and the double is bit-identical to it. An array that is not
    * already strictly ascending and null-free (the per-document sets
    * `array_sort(array_distinct(...))` builds are) is copied, sorted and
    * deduplicated first. */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val x = asSet(a)
    val y = asSet(b)
    var i = 0
    var j = 0
    var common = 0
    while (i < x.length && j < y.length) {
      val c = x(i).binaryCompare(y(j))
      if (c == 0) { common += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val nullA = hasNull(a)
    val nullB = hasNull(b)
    if (nullA && nullB) common += 1
    val union = x.length + (if (nullA) 1 else 0) +
      y.length + (if (nullB) 1 else 0) - common
    common.toDouble / math.max(union, 1).toDouble
  }

  private def hasNull(a: ArrayData): Boolean = {
    var k = 0
    while (k < a.numElements()) { if (a.isNullAt(k)) return true; k += 1 }
    false
  }

  /** The non-null elements of `a`, strictly ascending and distinct:
    * read as they stand when they already are, else sorted and
    * deduplicated in a copy. */
  private def asSet(a: ArrayData): Array[UTF8String] = {
    val n = a.numElements()
    val out = new Array[UTF8String](n)
    var m = 0
    var ordered = true
    var k = 0
    while (k < n) {
      if (a.isNullAt(k)) ordered = false
      else {
        val s = a.getUTF8String(k)
        if (m > 0 && out(m - 1).binaryCompare(s) >= 0) ordered = false
        out(m) = s
        m += 1
      }
      k += 1
    }
    if (ordered) return out
    val sorted = java.util.Arrays.copyOf(out, m)
    java.util.Arrays.sort(sorted, (p: UTF8String, q: UTF8String) => p.binaryCompare(q))
    var d = 0
    k = 0
    while (k < m) {
      if (d == 0 || sorted(d - 1).binaryCompare(sorted(k)) != 0) {
        sorted(d) = sorted(k)
        d += 1
      }
      k += 1
    }
    java.util.Arrays.copyOf(sorted, d)
  }
}

/**
 * graft_set_jaccard(a, b) → double: the exact Jaccard similarity of two
 * string arrays taken as sets ([[SetJaccardUtil.jaccard]]), one native
 * merge per pair. It replaces `size(array_intersect)` over
 * `size(array_union)`, which builds two hash sets of strings per pair in
 * interpreted code. NULL array → NULL.
 */
case class SetJaccard(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    children.find(c => !(c.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })) match {
      case Some(bad) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<string>, got ${bad.dataType.sql}")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_set_jaccard"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SetJaccardUtil.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SetJaccardUtil.jaccard($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SetJaccard =
    copy(left = newLeft, right = newRight)
}
