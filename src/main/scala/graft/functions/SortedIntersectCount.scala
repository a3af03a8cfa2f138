package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Native Catalyst expression: |A ∩ B| of two string-token SETS encoded
  * as arrays SORTED ascending in UTF8 binary order with UNIQUE elements
  * (`array_sort(array_distinct(...))` — Spark's string array_sort IS the
  * UTF8String binary order this merge compares by). A two-pointer merge
  * counts equal elements inside whole-stage codegen.
  *
  * This is the per-pair hot loop of the dedup VERIFY family (exact token
  * Jaccard over LSH candidate pairs): `size(array_intersect(t1, t2))`
  * builds a per-row hash set and hashes every element of both arrays
  * (measured r17: 2.3 s of dedup_cascade_audit's 3.8 s across 303k
  * pairs at sf0.1); the sorted merge is a memcmp per step with no
  * allocation and no hashing. The per-doc `array_sort` that feeds it is
  * paid once per doc, not per pair.
  *
  * Nulls: null array → null (null-intolerant binary semantics). A null
  * ELEMENT sorts last and appears once, so the merge runs over the
  * non-null prefixes and counts one more when both end in null, as
  * `size(array_intersect)` does. Unsorted or duplicate-bearing input
  * silently under/over-counts — the expression is package-internal and
  * only fed by sorted builders.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val a1 = a.asInstanceOf[ArrayData]
    val a2 = b.asInstanceOf[ArrayData]
    def nonNull(a: ArrayData) = a.numElements() -
      (if (a.numElements() > 0 && a.isNullAt(a.numElements() - 1)) 1 else 0)
    val (n1, n2) = (nonNull(a1), nonNull(a2))
    var acc = if (n1 < a1.numElements() && n2 < a2.numElements()) 1L else 0L
    var i = 0
    var j = 0
    while (i < n1 && j < n2) {
      val c = a1.getUTF8String(i).compareTo(a2.getUTF8String(j))
      if (c == 0) { acc += 1L; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n1 = ctx.freshName("n1")
      val n2 = ctx.freshName("n2")
      val c = ctx.freshName("c")
      val acc = ctx.freshName("acc")
      def prefix(x: String) =
        s"$x.numElements() > 0 && $x.isNullAt($x.numElements() - 1) ? $x.numElements() - 1 : $x.numElements()"
      s"""
         |final int $n1 = ${prefix(a)};
         |final int $n2 = ${prefix(b)};
         |long $acc = ($n1 < $a.numElements() && $n2 < $b.numElements()) ? 1L : 0L;
         |int $i = 0;
         |int $j = 0;
         |while ($i < $n1 && $j < $n2) {
         |  final int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($c == 0) { $acc++; $i++; $j++; }
         |  else if ($c < 0) $i++;
         |  else $j++;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  /** Column-API entry point: |∩| of two sorted unique string arrays. */
  def sortedIntersect(a: Column, b: Column): Column =
    Bridge.column(SortedIntersectCount(Bridge.expression(a), Bridge.expression(b)))
}
