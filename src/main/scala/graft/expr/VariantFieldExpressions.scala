package graft.expr

import java.nio.charset.{Charset, StandardCharsets}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression, GenericInternalRow, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.variant.{ObjectExtraction, VariantCastArgs, VariantGet, VariantPathParser, VariantPathSegment}
import org.apache.spark.sql.functions.{try_variant_get, variant_get}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._
import org.apache.spark.types.variant.VariantUtil
import org.apache.spark.types.variant.VariantUtil.Type
import org.apache.spark.unsafe.types.{UTF8String, VariantVal}

/** A top-level object key as the readers below match it.
  *
  * Spark decodes each key of the variant's metadata dictionary with the
  * platform's default charset (`VariantUtil.getMetadataKey`) and
  * compares Strings. Where that charset is UTF-8, US-ASCII or
  * ISO-8859-1 and `name` survives a round trip through it, the decoded
  * key equals `name` exactly when the key's bytes equal `name`'s
  * encoding (parse_json writes keys as valid UTF-8), so `bytes` is
  * compared and no String is built. Otherwise `bytes` is null and the
  * readers compare decoded keys as Spark does.
  */
final case class VariantKey(name: String) {
  /** The path Spark's `try_variant_get(v, "$." + name)` evaluates. */
  val path: Array[VariantPathSegment] = Array(ObjectExtraction(name))

  @transient lazy val bytes: Array[Byte] = {
    val cs = Charset.defaultCharset
    val b = name.getBytes(cs)
    val oneToOne = cs == StandardCharsets.UTF_8 || cs == StandardCharsets.US_ASCII ||
      cs == StandardCharsets.ISO_8859_1
    if (oneToOne && new String(b, cs) == name) b else null
  }
}

/** Field lookup and kind codes over a variant's bytes. */
object VariantFieldImpl {

  /** Offset in `value` of the top-level field `key`, or -1 when the
    * value is not an object or has no such key (Spark's `getFieldByKey`
    * for a non-object is null too). Fields are scanned in order; Spark
    * switches to binary search at 32 fields, which finds the same field
    * because parse_json writes an object's keys sorted and unique.
    */
  def fieldPos(value: Array[Byte], metadata: Array[Byte], key: VariantKey): Int = {
    val header = value(0)
    if ((header & VariantUtil.BASIC_TYPE_MASK) != VariantUtil.OBJECT) return -1
    val info = (header >> VariantUtil.BASIC_TYPE_BITS) & VariantUtil.TYPE_INFO_MASK
    val sizeBytes = if (((info >> 4) & 1) != 0) 4 else 1
    val size = VariantUtil.readUnsigned(value, 1, sizeBytes)
    val idSize = ((info >> 2) & 3) + 1
    val offsetSize = (info & 3) + 1
    val idStart = 1 + sizeBytes
    val offsetStart = idStart + size * idSize
    val dataStart = offsetStart + (size + 1) * offsetSize
    val dictOffsetSize = ((metadata(0) >> 6) & 3) + 1
    val dictSize = VariantUtil.readUnsigned(metadata, 1, dictOffsetSize)
    val stringStart = 1 + (dictSize + 2) * dictOffsetSize
    val bytes = key.bytes
    var i = 0
    while (i < size) {
      val id = VariantUtil.readUnsigned(value, idStart + idSize * i, idSize)
      val found =
        if (bytes == null) VariantUtil.getMetadataKey(metadata, id) == key.name
        else {
          val start = VariantUtil.readUnsigned(metadata, 1 + (id + 1) * dictOffsetSize, dictOffsetSize)
          val end = VariantUtil.readUnsigned(metadata, 1 + (id + 2) * dictOffsetSize, dictOffsetSize)
          end - start == bytes.length && java.util.Arrays.equals(
            metadata, stringStart + start, stringStart + end, bytes, 0, bytes.length)
        }
      if (found) return dataStart + VariantUtil.readUnsigned(value, offsetStart + offsetSize * i, offsetSize)
      i += 1
    }
    -1
  }

  /** The kind code of the value at `pos`, classified as
    * [[Validation.kindOf]] documents: the class of the type
    * `schema_of_variant` reports for it, read from its header. A
    * decimal's scale is the one `SchemaOfVariant` takes, of
    * `Decimal(getDecimal)`.
    */
  def kindAt(value: Array[Byte], pos: Int): Byte = VariantUtil.getType(value, pos) match {
    case Type.NULL => Validation.KVoid
    case Type.LONG => Validation.KInteger
    case Type.DOUBLE | Type.FLOAT => Validation.KFraction
    case Type.DECIMAL =>
      if (Decimal(VariantUtil.getDecimal(value, pos)).scale == 0) Validation.KInteger
      else Validation.KFraction
    case Type.STRING => Validation.KString
    case _ => Validation.KOther
  }

  /** Kind code of field `key`, or -1 when it is missing. */
  def kind(v: VariantVal, key: VariantKey): Int = {
    val value = v.getValue
    val pos = fieldPos(value, v.getMetadata, key)
    if (pos < 0) -1 else kindAt(value, pos)
  }
}

/** `try_variant_get(v, "$." + key.name, target)` for one task.
  *
  * `VariantGet.cast` turns a LONG, DOUBLE, STRING or DECIMAL field into
  * a `Literal` of LongType, DoubleType, StringType or DecimalType(p,s)
  * and evaluates a new TRY-mode `Cast` of it, per row. This reader
  * builds that `Cast` once per source type, over a bound reference, and
  * evaluates it on a reused one-field row. Every other case goes
  * through `VariantGet` itself: JSON null, objects, arrays, booleans,
  * UUIDs, a non-atomic target, the Long/Decimal → Timestamp special
  * cases and the pairs `Cast.canAnsiCast` rejects. Not thread-safe:
  * generated code holds one per partition, interpreted evaluation one
  * per deserialized expression.
  */
final class VariantFieldReader(key: VariantKey, target: DataType, args: VariantCastArgs) {
  private val row = new GenericInternalRow(1)
  private var fromLong, fromDouble, fromString: Option[Cast] = _
  private val fromDecimal = new java.util.HashMap[DataType, Option[Cast]]

  private def castFrom(src: DataType): Option[Cast] = {
    val special = target == TimestampType && (src == LongType || src.isInstanceOf[DecimalType])
    if (bridge.isAtomic(target) && !special && Cast.canAnsiCast(src, target))
      Some(Cast(BoundReference(0, src, nullable = true), target, args.zoneStr, EvalMode.TRY))
    else None
  }

  private def viaSpark(v: VariantVal): AnyRef =
    VariantGet.variantGet(v, key.path, target, args).asInstanceOf[AnyRef]

  private def eval(cast: Option[Cast], literal: Any, v: VariantVal): AnyRef = cast match {
    case Some(c) => row.update(0, literal); c.eval(row).asInstanceOf[AnyRef]
    case None => viaSpark(v)
  }

  def read(v: VariantVal): AnyRef = {
    val value = v.getValue
    val pos = VariantFieldImpl.fieldPos(value, v.getMetadata, key)
    if (pos < 0) return null
    VariantUtil.getType(value, pos) match {
      case Type.NULL => null
      case Type.LONG =>
        if (fromLong == null) fromLong = castFrom(LongType)
        eval(fromLong, VariantUtil.getLong(value, pos), v)
      case Type.DOUBLE =>
        if (fromDouble == null) fromDouble = castFrom(DoubleType)
        eval(fromDouble, VariantUtil.getDouble(value, pos), v)
      case Type.STRING =>
        if (fromString == null) fromString = castFrom(StringType)
        eval(fromString, UTF8String.fromString(VariantUtil.getString(value, pos)), v)
      case Type.DECIMAL =>
        val d = Decimal(VariantUtil.getDecimal(value, pos))
        eval(fromDecimal.computeIfAbsent(DecimalType(d.precision, d.scale), castFrom(_)), d, v)
      case _ => viaSpark(v)
    }
  }
}

/** Kind code ([[Validation.kindOf]]) of the top-level field `key` of a
  * variant, NULL when the variant is not an object or lacks the key;
  * with no key, the kind code of the variant itself.
  */
case class VariantFieldKind(child: Expression, key: Option[VariantKey]) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case VariantType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires variant, got ${other.catalogString}")
  }

  override def dataType: DataType = ByteType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_variant_kind"

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[VariantVal]
    key match {
      case Some(k) =>
        val code = VariantFieldImpl.kind(v, k)
        if (code < 0) null else code.toByte
      case None => VariantFieldImpl.kindAt(v.getValue, 0)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val impl = "graft.expr.VariantFieldImpl"
    key match {
      case Some(k) =>
        val keyRef = ctx.addReferenceObj("variantKey", k)
        val code = ctx.freshName("kind")
        nullSafeCodeGen(ctx, ev, v => s"""
          int $code = $impl.kind($v, $keyRef);
          if ($code < 0) { ${ev.isNull} = true; } else { ${ev.value} = (byte) $code; }""")
      case None =>
        nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $impl.kindAt($v.getValue(), 0);")
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `try_variant_get(child, "$." + key.name, dataType)` through a
  * [[VariantFieldReader]]. Time-zone aware, so the analyzer gives it
  * the session zone exactly as it does `try_variant_get`.
  */
case class VariantFieldGet(
    child: Expression,
    key: VariantKey,
    dataType: DataType,
    timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case VariantType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires variant, got ${other.catalogString}")
  }

  override def nullable: Boolean = true
  override def prettyName: String = "graft_variant_get"

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(timeZoneId))

  @transient private lazy val castArgs = VariantCastArgs(failOnError = false, timeZoneId, zoneId)
  @transient private lazy val reader = new VariantFieldReader(key, dataType, castArgs)

  override protected def nullSafeEval(input: Any): Any = reader.read(input.asInstanceOf[VariantVal])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[VariantFieldReader].getName
    val keyRef = ctx.addReferenceObj("variantKey", key)
    val typeRef = ctx.addReferenceObj("dataType", dataType)
    val argsRef = ctx.addReferenceObj("castArgs", castArgs)
    val reader = ctx.addMutableState(cls, "variantReader",
      r => s"$r = new $cls($keyRef, $typeRef, $argsRef);")
    val field = ctx.freshName("field")
    nullSafeCodeGen(ctx, ev, v => s"""
      Object $field = $reader.read($v);
      if ($field == null) { ${ev.isNull} = true; }
      else { ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $field; }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column entry points: one top-level field of a VARIANT column. */
object VariantFields {

  private def path(name: String): String = "$." + name

  /** `name` as a key, where Spark's path parser reads `"$." + name` as
    * exactly that one object key; any other name keeps Spark's own
    * path evaluation.
    */
  private def simpleKey(name: String): Option[VariantKey] =
    VariantPathParser.parse(path(name)) match {
      case Some(Array(ObjectExtraction(k))) if k == name => Some(VariantKey(name))
      case _ => None
    }

  /** The field's kind code: NULL iff the key is missing. */
  def kind(v: Column, name: String): Column = {
    val e = simpleKey(name) match {
      case Some(k) => VariantFieldKind(bridge.expression(v), Some(k))
      case None => VariantFieldKind(bridge.expression(variant_get(v, path(name), "variant")), None)
    }
    bridge.column(e)
  }

  /** `try_variant_get(v, "$." + name, dataType)`. */
  def get(v: Column, name: String, dataType: DataType): Column = simpleKey(name) match {
    case Some(k) => bridge.column(VariantFieldGet(bridge.expression(v), k, dataType))
    case None => try_variant_get(v, path(name), dataType.catalogString)
  }
}
