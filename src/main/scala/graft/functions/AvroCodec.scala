package graft.functions

import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema}
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Avro schema and record conversions for the engine (SURVEY F3/F4/S5).
  * The build image has Avro core (`avro-1.12.1.jar`) but not the
  * spark-avro module, so `from_avro`/`to_avro` are the engine's own
  * Catalyst expressions ([[AvroExpressions]]: `AvroEncode`/`AvroDecode`,
  * converting Avro values directly to and from Catalyst internal
  * representations inside whole-stage codegen — every query/stream call
  * site uses them). This object holds what they and the OCF container
  * sink ([[graft.sinks.AvroFiles]]) share: `structTypeFor` reproduces
  * the registry-schema → StructType derivation of the reference
  * (`11_incremental_sales_avro.py:98-109`) directly from the schema JSON
  * instead of its empty-DataFrame round-trip, and
  * `rowToRecord`/`recordToRow` convert external `Row`s. The legacy
  * per-row UDF pair over `GenericDatumWriter`/`GenericDatumReader` (the
  * plan SURVEY §7 step 2 chose; ref `11:76-77`,
  * `12_streaming_enrichment_avro.py:70,110-111`) lives in the tests as
  * the expressions' differential reference.
  *
  * Type coverage (all the reference's schemas use): null unions,
  * boolean/int/long/float/double/string/bytes/enum, nested records,
  * arrays, and `timestamp-millis` logical longs ↔ Spark TimestampType.
  */
object AvroCodec {

  /** Avro schema JSON → Spark StructType (SURVEY S5). */
  def structTypeFor(avroJson: String): StructType = {
    val schema = new Schema.Parser().parse(avroJson)
    require(schema.getType == Schema.Type.RECORD, "top-level Avro schema must be a record")
    toStructType(schema)
  }

  private def toStructType(record: Schema): StructType =
    StructType(record.getFields.asScala.map { f =>
      val (dt, nullable) = toSparkType(f.schema())
      StructField(f.name(), dt, nullable)
    }.toSeq)

  private def toSparkType(s: Schema): (DataType, Boolean) = s.getType match {
    case Schema.Type.UNION =>
      val branches = s.getTypes.asScala
      val nonNull = branches.filter(_.getType != Schema.Type.NULL)
      require(nonNull.size == 1, s"only [null, T] unions supported, got $s")
      val (dt, _) = toSparkType(nonNull.head)
      (dt, branches.size > nonNull.size)
    case Schema.Type.BOOLEAN => (BooleanType, false)
    case Schema.Type.INT     => (IntegerType, false)
    case Schema.Type.LONG =>
      if (s.getLogicalType.isInstanceOf[LogicalTypes.TimestampMillis]) (TimestampType, false)
      else (LongType, false)
    case Schema.Type.FLOAT  => (FloatType, false)
    case Schema.Type.DOUBLE => (DoubleType, false)
    case Schema.Type.STRING => (StringType, false)
    case Schema.Type.ENUM   => (StringType, false)
    case Schema.Type.BYTES  => (BinaryType, false)
    case Schema.Type.ARRAY =>
      val (et, en) = toSparkType(s.getElementType)
      (ArrayType(et, en), false)
    case Schema.Type.RECORD => (toStructType(s), false)
    case other => throw new IllegalArgumentException(s"unsupported Avro type: $other")
  }

  // ------------------------------------------------------------------
  // Row ⇄ GenericRecord conversion (shared by the OCF container sink,
  // graft.sinks.AvroFiles, and the tests' UDF codec)

  private def nonNullBranch(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
    else s

  /** Spark Row → Avro GenericRecord under `s` (field lookup by name). */
  def rowToRecord(row: Row, s: Schema): GenericRecord = {
    val rec = new GenericData.Record(s)
    s.getFields.asScala.foreach { f =>
      val idx = row.fieldIndex(f.name())
      val v = if (row.isNullAt(idx)) null else toAvroValue(row.get(idx), f.schema())
      rec.put(f.name(), v)
    }
    rec
  }

  private def toAvroValue(v: Any, s0: Schema): Any = {
    val s = nonNullBranch(s0)
    s.getType match {
      case Schema.Type.LONG if s.getLogicalType.isInstanceOf[LogicalTypes.TimestampMillis] =>
        v match {
          // TimestampType / TIMESTAMP_NTZ / java8 datetime API all land here
          case t: java.sql.Timestamp => t.getTime
          case t: java.time.Instant => t.toEpochMilli
          case t: java.time.LocalDateTime =>
            t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
          case other => throw new IllegalArgumentException(
            s"unsupported timestamp value class: ${other.getClass}")
        }
      case Schema.Type.RECORD => rowToRecord(v.asInstanceOf[Row], s)
      case Schema.Type.ARRAY =>
        v.asInstanceOf[Seq[Any]].map(e => toAvroValue(e, s.getElementType)).asJava
      case Schema.Type.BYTES => ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
      case Schema.Type.ENUM =>
        new GenericData.EnumSymbol(s, v.asInstanceOf[String])
      case _ => v
    }
  }

  /** Avro GenericRecord → Spark Row under `s` (schema field order). */
  def recordToRow(rec: GenericRecord, s: Schema): Row =
    Row.fromSeq(s.getFields.asScala.map { f =>
      fromAvroValue(rec.get(f.name()), f.schema())
    }.toSeq)

  private def fromAvroValue(v: Any, s0: Schema): Any = {
    if (v == null) return null
    val s = nonNullBranch(s0)
    s.getType match {
      case Schema.Type.LONG if s.getLogicalType.isInstanceOf[LogicalTypes.TimestampMillis] =>
        new java.sql.Timestamp(v.asInstanceOf[Long])
      case Schema.Type.RECORD => recordToRow(v.asInstanceOf[GenericRecord], s)
      case Schema.Type.ARRAY =>
        v.asInstanceOf[java.util.Collection[Any]].asScala
          .map(e => fromAvroValue(e, s.getElementType)).toSeq
      case Schema.Type.BYTES =>
        val bb = v.asInstanceOf[ByteBuffer]
        val arr = new Array[Byte](bb.remaining()); bb.duplicate().get(arr); arr
      case Schema.Type.STRING | Schema.Type.ENUM =>
        v match { case u: Utf8 => u.toString; case other => other.toString }
      case _ => v
    }
  }
}
