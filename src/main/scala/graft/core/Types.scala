package graft.core

import org.apache.spark.sql.types._

/** The Astarte type system: 7 scalar value types and their array
  * forms, each with a dedicated sparse storage column.
  *
  * Re-expressed from the reference's endpoint fixtures and
  * column-landing tests (see SURVEY.md §1.2; reference evidence
  * `test/support/database_test_helper.exs:135-208,256-328`). Odd codes
  * are scalars, the following even code is the array form.
  */
sealed abstract class AstarteValueType(
    val code: Int,
    val columnName: String,
    val sparkType: DataType) {
  def isArray: Boolean = code % 2 == 0
}

object AstarteValueType {
  case object ADouble      extends AstarteValueType(1, "double_value", DoubleType)
  case object AInteger     extends AstarteValueType(3, "integer_value", IntegerType)
  case object ALongInteger extends AstarteValueType(5, "longinteger_value", LongType)
  case object AString      extends AstarteValueType(7, "string_value", StringType)
  case object ABoolean     extends AstarteValueType(9, "boolean_value", BooleanType)
  case object ABinaryBlob  extends AstarteValueType(11, "binaryblob_value", BinaryType)
  case object ADateTime    extends AstarteValueType(13, "datetime_value", TimestampType)

  case object ADoubleArray      extends AstarteValueType(2, "doublearray_value", ArrayType(DoubleType))
  case object AIntegerArray     extends AstarteValueType(4, "integerarray_value", ArrayType(IntegerType))
  case object ALongIntegerArray extends AstarteValueType(6, "longintegerarray_value", ArrayType(LongType))
  case object AStringArray      extends AstarteValueType(8, "stringarray_value", ArrayType(StringType))
  case object ABooleanArray     extends AstarteValueType(10, "booleanarray_value", ArrayType(BooleanType))
  case object ABinaryBlobArray  extends AstarteValueType(12, "binaryblobarray_value", ArrayType(BinaryType))
  case object ADateTimeArray    extends AstarteValueType(14, "datetimearray_value", ArrayType(TimestampType))

  val all: Seq[AstarteValueType] = Seq(
    ADouble, ADoubleArray, AInteger, AIntegerArray, ALongInteger,
    ALongIntegerArray, AString, AStringArray, ABoolean, ABooleanArray,
    ABinaryBlob, ABinaryBlobArray, ADateTime, ADateTimeArray)

  private val byCode = all.map(t => t.code -> t).toMap
  def fromCode(code: Int): Option[AstarteValueType] = byCode.get(code)

  /** Scalar type whose array form this is, if any. */
  def elementOf(t: AstarteValueType): Option[AstarteValueType] =
    if (t.isArray) fromCode(t.code - 1) else None
}

/** properties = last-value upsert store; datastream = append series.
  * Reference: interface `type` column semantics (SURVEY §1.1).
  */
sealed abstract class InterfaceType(val code: Int)
object InterfaceType {
  case object Properties extends InterfaceType(1)
  case object Datastream extends InterfaceType(2)
  def fromCode(c: Int): InterfaceType = if (c == 1) Properties else Datastream
}

/** Who may write: device-owned interfaces accept device data; writes
  * to server-owned interfaces from a device are rejected
  * (reference `impl.ex:1700-1708`).
  */
sealed abstract class Ownership(val code: Int)
object Ownership {
  case object Device extends Ownership(1)
  case object Server extends Ownership(2)
  def fromCode(c: Int): Ownership = if (c == 1) Device else Server
}

/** individual = one row per (endpoint, path) value; object = one row
  * per message spanning all endpoint leaves of the interface
  * (reference `impl.ex:601-621`).
  */
sealed abstract class Aggregation(val code: Int)
object Aggregation {
  case object Individual extends Aggregation(1)
  case object Object extends Aggregation(2)
  def fromCode(c: Int): Aggregation = if (c == 1) Individual else Object
}

/** One versioned interface: the schema contract a device speaks.
  * Mirrors the reference's `interfaces` registry row (SURVEY §1.5 #2).
  */
final case class InterfaceDescriptor(
    name: String,
    major: Int,
    minor: Int,
    interfaceType: InterfaceType,
    ownership: Ownership,
    aggregation: Aggregation) {
  /** Object-aggregated interfaces land in a dedicated table named from
    * the interface (reference `com_example_testobject_v1` fixture).
    */
  def objectTableName: String =
    name.toLowerCase.replace('.', '_').replace('-', '_') + s"_v$major"
}

/** One typed leaf of an interface: a parametric path template plus
  * storage/retention attributes. Mirrors the reference's `endpoints`
  * registry row (SURVEY §1.5 #3).
  */
final case class Mapping(
    interfaceName: String,
    major: Int,
    endpoint: String,
    valueType: AstarteValueType,
    reliability: Int = 1,
    retention: Int = 1,
    expirySeconds: Int = 0,
    allowUnset: Boolean = false,
    explicitTimestamp: Boolean = false) {
  /** Stable endpoint identity within the interface. */
  def endpointId: String = s"$interfaceName/$major$endpoint"
}

/** Introspection entry: one interface version a device announces. */
final case class IntrospectionEntry(interfaceName: String, major: Int, minor: Int)
