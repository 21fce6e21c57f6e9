package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

/** Nullability restoration for parquet read-backs.
  *
  * Spark's file sources widen every array element to nullable on read —
  * even under an explicit `spark.read.schema(...)`, which `asNullable`s the
  * user schema — so a checkpoint/spill round-trip silently turns
  * `array<bigint> [containsNull=false]` into `containsNull=true`. The
  * native verify kernels ([[ArraySetExprs]]) reject that at analysis time
  * rather than misread a null slot, which would break every resumed run.
  *
  * [[KnownNonNullElements]] is the counterpart of Spark's own
  * `KnownNotNull`: a zero-cost pass-through whose only effect is tightening
  * the STATIC type back to `containsNull=false`. It is an ASSERTION, valid
  * only where the producer provably wrote non-null elements — here, our own
  * writers: a checkpoint stage's manifest records the schema it wrote, and
  * the index spill (queries/CodesCache) takes it from the query it wrote.
  * Cost: none (identity eval; codegen aliases the child's generated
  * variable), unlike `array_compact`, which would scan
  * every element per row and silently DROP a null if corruption ever
  * produced one.
  */
object SchemaAsserts {

  /** Re-tighten top-level array columns of `df` to `containsNull=false`
    * wherever `written` (the producer's schema) says they were tight.
    * Non-array columns and already-tight columns pass through untouched;
    * nested arrays are out of scope (no graft stage schema nests arrays). */
  def tightenArrays(df: DataFrame, written: StructType): DataFrame = {
    val wantTight = written.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] &&
        !f.dataType.asInstanceOf[ArrayType].containsNull => f.name
    }.toSet
    val needsWork = df.schema.fields.exists(f =>
      wantTight.contains(f.name) && (f.dataType match {
        case ArrayType(_, containsNull) => containsNull
        case _ => false
      }))
    if (!needsWork) df
    else df.select(df.schema.fields.map { f =>
      f.dataType match {
        case ArrayType(_, true) if wantTight.contains(f.name) =>
          ColumnBridge.column(KnownNonNullElements(
            ColumnBridge.expression(df.col(f.name)))).as(f.name)
        case _ => df.col(f.name)
      }
    }.toIndexedSeq: _*)
  }
}

/** Static-type assertion: the child array's elements are non-null. Identity
  * at runtime; only the reported [[dataType]] changes. See [[SchemaAsserts]]
  * for when this is sound. */
case class KnownNonNullElements(child: Expression) extends UnaryExpression {

  override def dataType: DataType =
    child.dataType.asInstanceOf[ArrayType].copy(containsNull = false)

  override def nullable: Boolean = child.nullable

  override def prettyName: String = "known_non_null_elements"

  override protected def nullSafeEval(input: Any): Any = input

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => c)

  override protected def withNewChildInternal(newChild: Expression): KnownNonNullElements =
    copy(child = newChild)
}
