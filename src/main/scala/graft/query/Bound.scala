package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, InSet, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

import graft.functions.ColumnBridge

/** Request values as parameters of the generated code.
  *
  * Spark writes an integral literal's value into the Java source it
  * generates, and caches compiled classes by that source text, so a plan
  * that differs from the last one only in a window bound or a stream id
  * compiles again (tens of ms per request). The expressions here carry the
  * value in the generated class's `references` array instead: the source
  * depends only on the request's shape, and the second request of a shape
  * reuses the compiled class.
  *
  * Both stay visible to the planner as what they are. `BoundLiteral` is a
  * `Literal` and `BoundInSet` an `InSet`, so filters on them are still
  * pushed into parquet scans. A `BoundLiteral` is not foldable: a foldable
  * one would be folded (through a cast, say) back into a plain literal
  * that inlines its value. Values take the compared column's own type, so
  * the analyser adds no cast whose unwrapping would also rebuild a plain
  * literal.
  */
object Bound {

  /** `v` as a parameter typed like a column of type `dt`: the column's own
    * integral type when `v` fits it, else a long (the analyser then widens
    * the column, as it would for `lit(v)`).
    */
  def long(v: Long, dt: DataType): Column = {
    val (value, t) = narrow(v, dt).fold[(Any, DataType)]((v, LongType))(_ -> dt)
    ColumnBridge.toColumn(new BoundLiteral(value, t))
  }

  /** `data(name)` as a bound value typed like that column. */
  def long(data: DataFrame, name: String, v: Long): Column =
    long(v, data.schema(name).dataType)

  /** `c IN ids` with the ids as one set-valued parameter when `c` has
    * the integral type `dt`: the plan is the same for 1 or 500 ids, and the
    * probe is a hash lookup. Ids the column's type cannot hold match
    * nothing and are dropped. A column of any other type gets a plain
    * `isin`, which the analyser coerces as before.
    */
  def isin(c: Column, dt: DataType, ids: Seq[Long]): Column =
    if (narrow(0L, dt).isEmpty) c.isin(ids: _*) // not an integral column
    else {
      val set: Set[Any] = ids.flatMap(narrow(_, dt)).toSet
      ColumnBridge.toColumn(new BoundInSet(ColumnBridge.toExpression(c), set))
    }

  private def narrow(v: Long, dt: DataType): Option[Any] = dt match {
    case LongType                           => Some(v)
    case IntegerType if v.toInt.toLong == v => Some(v.toInt)
    case ShortType if v.toShort.toLong == v => Some(v.toShort)
    case ByteType if v.toByte.toLong == v   => Some(v.toByte)
    case _                                  => None
  }
}

/** An integral literal whose generated code reads the value from the
  * class's references (see [[Bound]]).
  */
final class BoundLiteral(value: Any, dataType: DataType) extends Literal(value, dataType) {
  override def foldable: Boolean = false

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bound", value, CodeGenerator.boxedType(dataType))
    val unbox = s"$ref.${CodeGenerator.javaType(dataType)}Value()"
    ExprCode.forNonNullValue(JavaCode.expression(unbox, dataType))
  }
}

/** `child IN hset` whose generated code probes the set from the class's
  * references, never a switch over inlined values (see [[Bound]]).
  */
final class BoundInSet(child: Expression, hset: Set[Any]) extends InSet(child, hset) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val set = ctx.addReferenceObj("set", hset, "scala.collection.immutable.Set")
      s"${ev.value} = $set.contains($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): InSet =
    new BoundInSet(newChild, hset)
}
