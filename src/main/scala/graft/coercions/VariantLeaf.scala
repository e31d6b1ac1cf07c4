package graft.coercions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.variant.{VariantCastArgs, VariantGet}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.types.variant.Variant
import org.apache.spark.types.variant.VariantUtil.Type
import org.apache.spark.unsafe.types.{UTF8String, VariantVal}

/** Reads of one VARIANT value as an atomic table type, without the
  * per-value Catalyst trees of `try_variant_get(v, '$', type)`: Spark's
  * `VariantGet.cast` wraps every atomic value in a `Literal` and converts
  * it by building and evaluating a `Cast`, once per row. Where that cast
  * is the identity (STRING→string, LONG→long, DOUBLE→double,
  * BOOLEAN→boolean) or a range-checked narrowing (LONG→int/short/byte,
  * null out of range) [[read]] returns the value itself; every other pair
  * calls `VariantGet.cast` with `failOnError = false`, so no coercion rule
  * is restated here. VariantLeafSpec pins both reads against the Spark
  * expressions they replace, generated and interpreted. */
object VariantLeaf {

  /** `try_variant_get(vv, '$', dt)`; null is SQL null. */
  def read(vv: VariantVal, dt: DataType, args: VariantCastArgs): Any = {
    val v = new Variant(vv.getValue, vv.getMetadata)
    v.getType match {
      case Type.STRING if dt == StringType => UTF8String.fromString(v.getString)
      case Type.LONG if dt == LongType => v.getLong
      case Type.LONG if dt == IntegerType => val l = v.getLong; if (l == l.toInt) l.toInt else null
      case Type.LONG if dt == ShortType => val l = v.getLong; if (l == l.toShort) l.toShort else null
      case Type.LONG if dt == ByteType => val l = v.getLong; if (l == l.toByte) l.toByte else null
      case Type.DOUBLE if dt == DoubleType => v.getDouble
      case Type.BOOLEAN if dt == BooleanType => v.getBoolean
      case _ => VariantGet.cast(v, dt, args)
    }
  }

  /** The variant type of `vv`'s top-level value. */
  def typeOf(vv: VariantVal): Type = new Variant(vv.getValue, vv.getMetadata).getType

  /** Whether [[as]] reads `dt`: an atomic type other than VARIANT. */
  def reads(dt: DataType): Boolean = ColumnBridge.isAtomic(dt) && dt != VariantType

  /** `try_variant_get(v, '$', dt)` for a `dt` that [[reads]]. */
  def as(v: Column, dt: DataType): Column =
    ColumnBridge.wrap(VariantAs(ColumnBridge.toExpr(v), dt))

  /** `schema_of_variant(v).startsWith("OBJECT")`. */
  def isObject(v: Column): Column = ColumnBridge.wrap(VariantIs(ColumnBridge.toExpr(v), Type.OBJECT))

  /** `schema_of_variant(v) === "STRING"`. */
  def isString(v: Column): Column = ColumnBridge.wrap(VariantIs(ColumnBridge.toExpr(v), Type.STRING))
}

/** [[VariantLeaf.read]] as one codegen'd expression: `child` (VARIANT) as
  * `dataType`, in the session time zone. */
case class VariantAs(child: Expression, dataType: DataType, timeZoneId: Option[String] = None)
    extends UnaryExpression with ExpectsInputTypes with TimeZoneAwareExpression {
  require(VariantLeaf.reads(dataType),
    s"VariantAs reads atomic types, not ${dataType.sql}")

  override def inputTypes: Seq[DataType] = Seq(VariantType)
  override def nullable: Boolean = true
  override def prettyName: String = "variant_as"

  @transient private lazy val castArgs = VariantCastArgs(failOnError = false, timeZoneId, zoneId)

  override protected def nullSafeEval(input: Any): Any =
    VariantLeaf.read(input.asInstanceOf[VariantVal], dataType, castArgs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dt = ctx.addReferenceObj("dataType", dataType)
    val args = ctx.addReferenceObj("castArgs", castArgs)
    val tmp = ctx.freshName("leaf")
    nullSafeCodeGen(ctx, ev, c =>
      s"""Object $tmp = graft.coercions.VariantLeaf.read($c, $dt, $args);
         |if ($tmp == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $tmp;
         |}""".stripMargin)
  }

  override def withTimeZone(timeZoneId: String): VariantAs = copy(timeZoneId = Some(timeZoneId))
  override protected def withNewChildInternal(newChild: Expression): VariantAs =
    copy(child = newChild)
}

/** Whether `child` (VARIANT) holds a value of variant type `tpe`. */
case class VariantIs(child: Expression, tpe: Type)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(VariantType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "variant_is"

  override protected def nullSafeEval(input: Any): Any =
    VariantLeaf.typeOf(input.asInstanceOf[VariantVal]) == tpe

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.coercions.VariantLeaf.typeOf($c) == org.apache.spark.types.variant.VariantUtil.Type.${tpe.name}")

  override protected def withNewChildInternal(newChild: Expression): VariantIs =
    copy(child = newChild)
}
