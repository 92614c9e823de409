package graft.functions

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.avro.{LogicalTypes, Schema}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{BinaryDecoder, BinaryEncoder, DecoderFactory, EncoderFactory}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst-native Avro binary codec (SURVEY F3/F4) — the promotion of
  * the legacy `toAvroUdf`/`fromAvroUdf` pair (now only the tests'
  * differential reference) from per-row `ScalaUDF`s to first-class
  * expressions, mirroring how the (not-shipped-here)
  * spark-avro module structures `AvroDataToCatalyst`/`CatalystDataToAvro`.
  *
  * Why this matters at 100 TB: the reference decodes EVERY streamed record
  * through `from_avro` (ref `pyspark/pyspark_scripts/12_streaming_enrichment_avro.py:70`,
  * `13_batch_read_results_avro.py:66-67`), so the codec is the per-byte hot
  * path. The UDF pair paid two serialization boundaries per record
  * (InternalRow → external `Row` → GenericRecord and back); these
  * expressions convert Avro runtime values directly to and from Catalyst
  * internal values (`UTF8String`, epoch-micros longs, `ArrayData`,
  * `InternalRow`), and stay inside whole-stage codegen via
  * `ctx.addReferenceObj` — no `ScalaUDF`, no encoder round trip, no
  * codegen fallback.
  *
  * Conversion plans (`Any => Any` trees) are built once per executor from
  * the Avro schema; encoder/decoder/stream state is per-thread (expression
  * objects are shared across a JVM's task threads through the codegen
  * references array).
  */
private[graft] object AvroCatalystConverters {

  private def nonNullBranch(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
    else s

  private def isTsMillis(s: Schema): Boolean =
    s.getType == Schema.Type.LONG &&
      s.getLogicalType.isInstanceOf[LogicalTypes.TimestampMillis]

  /** Avro runtime value → Catalyst internal value, per `s0`. */
  def avroToCatalyst(s0: Schema): Any => Any = {
    val s = nonNullBranch(s0)
    val conv: Any => Any =
      if (isTsMillis(s)) {
        v => Math.multiplyExact(v.asInstanceOf[java.lang.Long].longValue(), 1000L)
      } else s.getType match {
        case Schema.Type.STRING | Schema.Type.ENUM =>
          {
            case u: Utf8  => UTF8String.fromBytes(u.getBytes, 0, u.getByteLength)
            case other    => UTF8String.fromString(other.toString)
          }
        case Schema.Type.BYTES =>
          v => {
            val bb = v.asInstanceOf[ByteBuffer]
            val arr = new Array[Byte](bb.remaining()); bb.duplicate().get(arr); arr
          }
        case Schema.Type.ARRAY =>
          val elem = avroToCatalyst(s.getElementType)
          v => {
            val in = v.asInstanceOf[java.util.Collection[Any]]
            val out = new Array[Any](in.size())
            val it = in.iterator(); var i = 0
            while (it.hasNext) { out(i) = elem(it.next()); i += 1 }
            new GenericArrayData(out)
          }
        case Schema.Type.RECORD =>
          val fields = s.getFields.asScala.map(f => avroToCatalyst(f.schema())).toArray
          v => {
            val rec = v.asInstanceOf[GenericRecord]
            val out = new Array[Any](fields.length)
            var i = 0
            while (i < fields.length) { out(i) = fields(i)(rec.get(i)); i += 1 }
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
          }
        case _ => identity // boolean/int/long/float/double arrive boxed
      }
    v => if (v == null) null else conv(v)
  }

  /** Catalyst internal value → Avro runtime value, per (`s0`, `dt`). */
  def catalystToAvro(s0: Schema, dt: DataType): Any => Any = {
    val s = nonNullBranch(s0)
    val conv: Any => Any =
      if (isTsMillis(s)) {
        // Catalyst timestamps are epoch-micros; Avro logical type is millis.
        // floorDiv matches java.sql.Timestamp#getTime truncation pre-1970.
        v => Math.floorDiv(v.asInstanceOf[java.lang.Long].longValue(), 1000L)
      } else s.getType match {
        case Schema.Type.ENUM =>
          v => new GenericData.EnumSymbol(s, v.asInstanceOf[UTF8String].toString)
        case Schema.Type.STRING =>
          v => new Utf8(v.asInstanceOf[UTF8String].getBytes)
        case Schema.Type.BYTES =>
          v => ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
        case Schema.Type.ARRAY =>
          val et = dt.asInstanceOf[ArrayType].elementType
          val elem = catalystToAvro(s.getElementType, et)
          v => {
            val in = v.asInstanceOf[ArrayData]
            val n = in.numElements()
            val out = new java.util.ArrayList[Any](n)
            var i = 0
            while (i < n) {
              out.add(if (in.isNullAt(i)) null else elem(in.get(i, et)))
              i += 1
            }
            out
          }
        case Schema.Type.RECORD =>
          // struct fields are matched to Avro fields BY NAME (the contract
          // rowToRecord had), resolved to ordinals here — zero per-row lookups
          val st = dt.asInstanceOf[StructType]
          val fs = s.getFields.asScala.toArray
          val srcIdx = fs.map(f => st.fieldIndex(f.name()))
          val convs = fs.zipWithIndex.map { case (f, i) =>
            catalystToAvro(f.schema(), st(srcIdx(i)).dataType)
          }
          val dts = srcIdx.map(j => st(j).dataType)
          v => {
            val row = v.asInstanceOf[InternalRow]
            val rec = new GenericData.Record(s)
            var i = 0
            while (i < fs.length) {
              val j = srcIdx(i)
              rec.put(i,
                if (row.isNullAt(j)) null else convs(i)(row.get(j, dts(i))))
              i += 1
            }
            rec
          }
        case _ => identity
      }
    v => if (v == null) null else conv(v)
  }
}

/** Shared per-thread Avro machinery for the two expressions below. */
private[graft] trait AvroExpressionSupport { self: UnaryExpression =>
  def jsonSchema: String

  @transient protected lazy val avroSchema: Schema =
    new Schema.Parser().parse(jsonSchema)
  // Reader/writer hold per-schema resolution state; cheap to construct,
  // kept per-thread so no synchronization sits on the record hot path.
  @transient protected lazy val writerTl: ThreadLocal[GenericDatumWriter[GenericRecord]] =
    ThreadLocal.withInitial(() => new GenericDatumWriter[GenericRecord](avroSchema))
  @transient protected lazy val outTl: ThreadLocal[ByteArrayOutputStream] =
    ThreadLocal.withInitial(() => new ByteArrayOutputStream())
  @transient protected lazy val encTl: ThreadLocal[BinaryEncoder] =
    new ThreadLocal[BinaryEncoder]()
  @transient protected lazy val decTl: ThreadLocal[BinaryDecoder] =
    new ThreadLocal[BinaryDecoder]()
}

/** `to_avro`-equivalent expression: Catalyst struct → Avro binary.
  * Input struct fields are matched to the Avro record's fields by NAME
  * (the same contract [[AvroCodec.rowToRecord]] enforced per row), with
  * the name→ordinal resolution hoisted to analysis time.
  *
  * Precision note: Avro's `timestamp-millis` logical type stores whole
  * milliseconds, so encoding a Catalyst `TimestampType` (epoch-MICROS)
  * floor-divides by 1000 and silently truncates sub-millisecond
  * precision — an arbitrary microsecond-precision column does NOT
  * round-trip exactly (same semantics as spark-avro). Use a long column
  * of epoch-micros against an Avro `long` field when exact round-trips
  * matter.
  */
case class AvroEncode(child: Expression, jsonSchema: String)
  extends UnaryExpression with AvroExpressionSupport {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_to_avro"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case st: StructType =>
      val want = AvroCodec.structTypeFor(jsonSchema)
      val missing = want.fieldNames.toSet -- st.fieldNames.toSet
      if (missing.nonEmpty) TypeCheckResult.TypeCheckFailure(
        s"$prettyName input struct is missing Avro record fields ${missing.mkString(",")}")
      else {
        // name presence alone let e.g. an int column feed a long Avro
        // field through analysis, only to ClassCastException executor-side
        // catalogString ignores nullability (legitimately looser on the
        // Catalyst side — null handling is dynamic in the encoder), and
        // TIMESTAMP/TIMESTAMP_NTZ unify (identical epoch-micros physical
        // representation, so no executor-side cast risk)
        def norm(dt: DataType): DataType = dt match {
          case TimestampNTZType     => TimestampType
          case ArrayType(et, n)     => ArrayType(norm(et), n)
          case MapType(k, v, n)     => MapType(norm(k), norm(v), n)
          case StructType(fs)       =>
            StructType(fs.map(f => f.copy(dataType = norm(f.dataType))))
          case other                => other
        }
        val mismatched = want.fields.collect {
          case f if norm(st(f.name).dataType).catalogString !=
                    norm(f.dataType).catalogString =>
            s"${f.name} (expected ${f.dataType.sql}, got ${st(f.name).dataType.sql})"
        }
        if (mismatched.isEmpty) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"$prettyName input struct field types do not match the Avro schema: ${mismatched.mkString("; ")}")
      }
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a struct argument, got ${other.sql}")
  }

  @transient private lazy val toAvro: Any => Any =
    AvroCatalystConverters.catalystToAvro(avroSchema, child.dataType)

  /** Public (not `protected nullSafeEval`) so generated Java can call it:
    * Scala-`protected` members are not accessible from the Janino class.
    */
  def encodeInternal(row: InternalRow): Array[Byte] = {
    val out = outTl.get()
    out.reset()
    val enc = EncoderFactory.get().binaryEncoder(out, encTl.get())
    encTl.set(enc)
    writerTl.get().write(toAvro(row).asInstanceOf[GenericRecord], enc)
    enc.flush()
    out.toByteArray
  }

  override protected def nullSafeEval(input: Any): Any =
    encodeInternal(input.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("avroEncode", this, classOf[AvroEncode].getName)
    nullSafeCodeGen(ctx, ev, input =>
      s"${ev.value} = $ref.encodeInternal($input);")
  }

  override protected def withNewChildInternal(newChild: Expression): AvroEncode =
    copy(child = newChild)
}

/** `from_avro`-equivalent expression: Avro binary → Catalyst struct.
  * `permissive = true` mirrors spark-avro's PERMISSIVE mode (malformed
  * record → null row, the right default for 100 TB ingestion); default is
  * FAILFAST like the reference's pipelines.
  *
  * Schema evolution: when `writerJsonSchema` is set, bytes are resolved
  * from the writer's schema to `jsonSchema` (the reader's) under Avro's
  * standard resolution rules — reordered fields match by name, fields
  * added in the reader fill from their defaults, fields dropped by the
  * reader are skipped. This is the registry-evolution story the
  * reference delegates to Apicurio (ref `10_create_schemas.py` registers
  * versioned subjects): a consumer pinned to schema v2 keeps reading a
  * topic whose tail was produced under v1. Output type is always the
  * READER's schema.
  */
case class AvroDecode(
    child: Expression, jsonSchema: String, permissive: Boolean,
    writerJsonSchema: Option[String] = None)
  extends UnaryExpression with AvroExpressionSupport {

  // cached: the planner calls dataType many times per analysis pass and
  // deriving it re-parses the Avro schema JSON
  @transient override lazy val dataType: DataType = AvroCodec.structTypeFor(jsonSchema)
  override def prettyName: String = "graft_from_avro"
  // corrupt bytes decode to null in permissive mode regardless of child
  override def nullable: Boolean = child.nullable || permissive

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a binary argument, got ${other.sql}")
  }

  // resolving reader: decodes writer-schema bytes, emits reader-schema
  // records (Avro schema-resolution: by-name matching, reader defaults)
  @transient private lazy val resolvingReaderTl: ThreadLocal[GenericDatumReader[GenericRecord]] =
    ThreadLocal.withInitial { () =>
      writerJsonSchema match {
        case Some(w) => new GenericDatumReader[GenericRecord](
          new Schema.Parser().parse(w), avroSchema)
        case None => new GenericDatumReader[GenericRecord](avroSchema)
      }
    }

  @transient private lazy val fromAvro: Any => Any =
    AvroCatalystConverters.avroToCatalyst(avroSchema)

  def decodeInternal(bytes: Array[Byte]): InternalRow = {
    if (permissive) {
      try decodeStrict(bytes)
      catch { case NonFatal(_) => null }
    } else decodeStrict(bytes)
  }

  private def decodeStrict(bytes: Array[Byte]): InternalRow = {
    val dec = DecoderFactory.get().binaryDecoder(bytes, decTl.get())
    decTl.set(dec)
    fromAvro(resolvingReaderTl.get().read(null, dec)).asInstanceOf[InternalRow]
  }

  override protected def nullSafeEval(input: Any): Any =
    decodeInternal(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("avroDecode", this, classOf[AvroDecode].getName)
    if (permissive) {
      // a successful (non-null) child eval can still produce a null row,
      // so nullSafeCodeGen's isNull wiring is insufficient here
      val childGen = child.genCode(ctx)
      val rowTpe = "org.apache.spark.sql.catalyst.InternalRow"
      ev.copy(code =
        code"""
          ${childGen.code}
          boolean ${ev.isNull} = true;
          $rowTpe ${ev.value} = null;
          if (!${childGen.isNull}) {
            ${ev.value} = $ref.decodeInternal(${childGen.value});
            ${ev.isNull} = ${ev.value} == null;
          }
        """)
    } else {
      nullSafeCodeGen(ctx, ev, input =>
        s"${ev.value} = $ref.decodeInternal($input);")
    }
  }

  override protected def withNewChildInternal(newChild: Expression): AvroDecode =
    copy(child = newChild)
}

/** Column API for the expression codec. */
object AvroExpressions {
  /** Struct column → Avro binary (codegen path; SURVEY F4). */
  def toAvro(data: Column, avroJson: String): Column =
    ColumnBridge.column(AvroEncode(ColumnBridge.expression(data), avroJson))

  /** Avro binary column → struct (codegen path; SURVEY F3). */
  def fromAvro(data: Column, avroJson: String, permissive: Boolean = false): Column =
    ColumnBridge.column(AvroDecode(ColumnBridge.expression(data), avroJson, permissive))

  /** Schema-evolving decode: bytes written under `writerJson` resolved to
    * `readerJson` (see [[AvroDecode]] — by-name matching, reader
    * defaults, dropped fields skipped). Output type is the reader's.
    */
  def fromAvroEvolved(
      data: Column, readerJson: String, writerJson: String,
      permissive: Boolean = false): Column =
    ColumnBridge.column(AvroDecode(
      ColumnBridge.expression(data), readerJson, permissive, Some(writerJson)))
}
