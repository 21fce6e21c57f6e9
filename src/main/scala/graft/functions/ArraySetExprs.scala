package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, LongType}

/** Native Catalyst expressions for the verification stage's set/sequence
  * kernels (reference operator Q7 — exact re-check of hash candidates,
  * `/root/reference/hashIndex/HashCollection.h:263`).
  *
  * Why expressions and not a typed `Dataset.map`: the verify stage runs once
  * per CANDIDATE PAIR — the highest-volume row stream in the pipeline
  * (~32 pair rows per clip at the default band config). A `Dataset.map`
  * forces a Tungsten→JVM decode of every Array[Long] column (full array
  * copy per pair side) plus a re-encode of the result row, and breaks
  * whole-stage codegen across the join. These expressions read the arrays
  * in place (`ArrayData.getLong` over the unsafe buffer, zero copies) and
  * inline their merge loops into the generated join stage, so candidate
  * verification stays one codegen'd pass.
  *
  * Both mirror kernels in [[graft.kernel.Shingles]] / the previous
  * `VerifyPairs` implementations bit-for-bit (specs assert equality):
  *  - [[JaccardSorted]]: exact Jaccard of two SORTED distinct-Long arrays
  *    (either side empty → 0.0, as `Shingles.jaccardSorted`);
  *  - [[ContainsSubseq]]: whether `inner` occurs CONTIGUOUSLY in `outer`
  *    (empty inner never matches — a clip with no transcript is not
  *    "contained" in everything).
  *
  * Requires non-null array ELEMENTS, enforced at analysis time: both loops
  * read via `getLong`, which returns garbage (not an error) for a null slot
  * in unsafe array data, so a `containsNull = true` input is rejected by
  * `checkInputDataTypes` instead of silently corrupting the metric. The
  * signature stage writes primitive `Array[Long]` columns
  * (`containsNull = false`) on both the encoder and the parquet-resume
  * paths; anything else must `array_compact` + cast first. A null ARRAY
  * input still yields null via the standard null-intolerant binary
  * contract.
  */
object ArraySetExprs {
  /** Exact Jaccard of two sorted distinct Array[Long] columns. */
  def jaccardSorted(a: Column, b: Column): Column =
    ColumnBridge.column(JaccardSorted(expr(a), expr(b)))

  /** True when `inner`'s Long sequence occurs contiguously in `outer`. */
  def containsSubseq(inner: Column, outer: Column): Column =
    ColumnBridge.column(ContainsSubseq(expr(inner), expr(outer)))

  private def expr(c: Column): Expression = ColumnBridge.expression(c)
}

/** Analysis-time guard shared by the set/sequence kernels: `sameType`-based
  * input checking ignores nullability, so `ExpectsInputTypes` alone accepts
  * `array<bigint>` with nullable elements — which the `getLong` loops would
  * silently misread. Fail the plan instead. */
trait NonNullLongArrayInputs extends ExpectsInputTypes { self: BinaryExpression =>
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))

  override def checkInputDataTypes(): TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (base.isFailure) return base
    children.zipWithIndex.collectFirst {
      case (c, i) if c.dataType.asInstanceOf[ArrayType].containsNull => i
    } match {
      case Some(i) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<bigint> with non-null elements, but argument ${i + 1} " +
          "allows null elements (containsNull=true); array_compact + cast the input first")
      case None => TypeCheckResult.TypeCheckSuccess
    }
  }
}

case class JaccardSorted(left: Expression, right: Expression)
    extends BinaryExpression with NonNullLongArrayInputs {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sorted"

  /** Interpreted path (non-codegen plans); same loop the codegen emits. */
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    val m = y.numElements()
    if (n == 0 || m == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < n && j < m) {
      val c = java.lang.Long.compare(x.getLong(i), y.getLong(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    inter.toDouble / (n + m - inter)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val inter = ctx.freshName("inter")
      val va = ctx.freshName("va")
      val vb = ctx.freshName("vb")
      s"""
        |final int $n = $a.numElements();
        |final int $m = $b.numElements();
        |if ($n == 0 || $m == 0) {
        |  ${ev.value} = 0.0;
        |} else {
        |  int $i = 0; int $j = 0; int $inter = 0;
        |  while ($i < $n && $j < $m) {
        |    final long $va = $a.getLong($i);
        |    final long $vb = $b.getLong($j);
        |    if ($va == $vb) { $inter++; $i++; $j++; }
        |    else if ($va < $vb) { $i++; }
        |    else { $j++; }
        |  }
        |  ${ev.value} = ((double) $inter) / ($n + $m - $inter);
        |}
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSorted =
    copy(left = newLeft, right = newRight)
}

case class ContainsSubseq(left: Expression, right: Expression)
    extends BinaryExpression with NonNullLongArrayInputs {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "contains_subseq"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val inner = a.asInstanceOf[ArrayData]
    val outer = b.asInstanceOf[ArrayData]
    val n = inner.numElements()
    val m = outer.numElements()
    if (n == 0 || n > m) return false
    var i = 0
    val limit = m - n
    while (i <= limit) {
      var j = 0
      while (j < n && outer.getLong(i + j) == inner.getLong(j)) j += 1
      if (j == n) return true
      i += 1
    }
    false
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val limit = ctx.freshName("limit")
      s"""
        |final int $n = $a.numElements();
        |final int $m = $b.numElements();
        |${ev.value} = false;
        |if ($n != 0 && $n <= $m) {
        |  final int $limit = $m - $n;
        |  int $i = 0;
        |  while ($i <= $limit && !${ev.value}) {
        |    int $j = 0;
        |    while ($j < $n && $b.getLong($i + $j) == $a.getLong($j)) { $j++; }
        |    if ($j == $n) { ${ev.value} = true; }
        |    $i++;
        |  }
        |}
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ContainsSubseq =
    copy(left = newLeft, right = newRight)
}
