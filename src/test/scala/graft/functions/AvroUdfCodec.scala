package graft.functions

import java.io.ByteArrayOutputStream

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.spark.sql.Row
import org.apache.spark.sql.api.java.{UDF1 => JUdf1}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types.BinaryType

import AvroCodec.{recordToRow, rowToRecord, structTypeFor}

/** The legacy per-row Avro UDF pair over
  * `GenericDatumWriter`/`GenericDatumReader`: InternalRow → external
  * `Row` → GenericRecord and back, per record. The engine's Avro paths
  * all use the Catalyst expressions ([[AvroExpressions]]); this pair is
  * the independent reference AvroCodecSpec compares them against, so it
  * lives with the tests.
  */
object AvroUdfCodec {

  /** Serializable per-executor codec; the Avro Schema is re-parsed lazily
    * on each executor from the captured JSON (Schema equality across JVMs
    * without relying on Java serialization of parser state).
    */
  private class Codec(json: String) extends Serializable {
    @transient private lazy val schema: Schema = new Schema.Parser().parse(json)
    @transient private lazy val writer = new GenericDatumWriter[GenericRecord](schema)
    @transient private lazy val reader = new GenericDatumReader[GenericRecord](schema)
    // Encoder/decoder + output buffer reused per thread: a fresh
    // binaryEncoder allocates its internal buffer per call, which at
    // row granularity is one short-lived allocation per record — pure
    // GC pressure in the scan hot path.
    @transient private lazy val outTl =
      ThreadLocal.withInitial[ByteArrayOutputStream](() => new ByteArrayOutputStream())
    @transient private lazy val encTl =
      new ThreadLocal[org.apache.avro.io.BinaryEncoder]()
    @transient private lazy val decTl =
      new ThreadLocal[org.apache.avro.io.BinaryDecoder]()

    def encode(row: Row): Array[Byte] = {
      val out = outTl.get()
      out.reset()
      val enc = EncoderFactory.get().binaryEncoder(out, encTl.get())
      encTl.set(enc)
      writer.write(rowToRecord(row, schema), enc)
      enc.flush()
      out.toByteArray
    }

    def decode(bytes: Array[Byte]): Row = {
      val dec = DecoderFactory.get().binaryDecoder(bytes, decTl.get())
      decTl.set(dec)
      recordToRow(reader.read(null, dec), schema)
    }
  }

  /** `to_avro`-equivalent: a struct column → Avro binary (SURVEY F4). */
  def toAvroUdf(avroJson: String): UserDefinedFunction = {
    val codec = new Codec(avroJson)
    udf(new JUdf1[Row, Array[Byte]] {
      override def call(r: Row): Array[Byte] = if (r == null) null else codec.encode(r)
    }, BinaryType)
  }

  /** `from_avro`-equivalent: Avro binary → struct column (SURVEY F3).
    * `permissive = true` mirrors spark-avro's PERMISSIVE parse mode:
    * malformed records decode to null instead of failing the task —
    * the right default for 100 TB ingestion where one corrupt topic
    * record must not kill the job. Default is FAILFAST (strict), like
    * the reference's pipelines.
    */
  def fromAvroUdf(avroJson: String, permissive: Boolean = false): UserDefinedFunction = {
    val codec = new Codec(avroJson)
    udf(new JUdf1[Array[Byte], Row] {
      override def call(b: Array[Byte]): Row =
        if (b == null) null
        else if (permissive)
          try codec.decode(b) catch { case _: Exception => null }
        else codec.decode(b)
    }, structTypeFor(avroJson))
  }
}
