package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{AvroCodec, AvroUdfCodec}

/** Avro codec laws: schema derivation (S5), lossless round trips (F3/F4)
  * including nulls, nested records, arrays, bytes, and timestamp-millis.
  * The per-row UDF pair ([[graft.functions.AvroUdfCodec]]) is the parity
  * baseline for the Catalyst expressions.
  */
class AvroCodecSpec extends AnyFunSuite with LocalSpark {

  override protected def cpus: Int = 2

  private val schemaJson =
    """{"type":"record","name":"T","fields":[
      |{"name":"id","type":"long"},
      |{"name":"name","type":["null","string"]},
      |{"name":"score","type":"double"},
      |{"name":"flag","type":"boolean"},
      |{"name":"at","type":{"type":"long","logicalType":"timestamp-millis"}},
      |{"name":"tags","type":{"type":"array","items":"string"}},
      |{"name":"blob","type":"bytes"},
      |{"name":"inner","type":{"type":"record","name":"Inner","fields":[
      |  {"name":"a","type":"int"},{"name":"b","type":["null","string"]}]}}]}""".stripMargin

  test("S5: avro schema JSON derives the expected StructType") {
    val st = AvroCodec.structTypeFor(schemaJson)
    assert(st.fieldNames.toSeq ===
      Seq("id", "name", "score", "flag", "at", "tags", "blob", "inner"))
    assert(st("id").dataType === LongType && !st("id").nullable)
    assert(st("name").dataType === StringType && st("name").nullable)
    assert(st("at").dataType === TimestampType)
    assert(st("tags").dataType === ArrayType(StringType, containsNull = false))
    assert(st("blob").dataType === BinaryType)
    assert(st("inner").dataType.isInstanceOf[StructType])
  }

  test("F3/F4: encode-decode round trip is lossless, including nulls") {
    val st = AvroCodec.structTypeFor(schemaJson)
    val ts = java.sql.Timestamp.valueOf("2024-06-01 12:34:56.789")
    val rows = Seq(
      Row(1L, "alpha", 1.5, true, ts, Seq("x", "y"),
        Array[Byte](1, 2, 3), Row(7, "seven")),
      Row(2L, null, -0.25, false, ts, Seq.empty[String],
        Array.empty[Byte], Row(8, null)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), st)
    val enc = AvroUdfCodec.toAvroUdf(schemaJson)
    val dec = AvroUdfCodec.fromAvroUdf(schemaJson)
    val back = df
      .select(dec(enc(struct(df.columns.map(col): _*))).as("d"))
      .select("d.*")
    val orig = df.collect().map(_.toString).sorted.toSeq
    val trip = back.collect().map { r =>
      // Array[Byte] toString is identity-based; normalize for compare
      Row.fromSeq(r.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case v => v
      }).toString
    }.sorted.toSeq
    val origNorm = df.collect().map { r =>
      Row.fromSeq(r.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case v => v
      }).toString
    }.sorted.toSeq
    assert(trip === origNorm)
    assert(orig.nonEmpty)
  }

  test("K9: Avro object-container-file sink round trip (orders shape)") {
    import graft.sinks.AvroFiles
    import graft.queries.CodecQueries
    val dir = java.nio.file.Files.createTempDirectory("avro_ocf").toString + "/out"
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
      .limit(500)
    AvroFiles.write(orders, dir, CodecQueries.orderAvroSchema)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".avro"))
    assert(files.nonEmpty)
    val back = AvroFiles.read(spark, dir, CodecQueries.orderAvroSchema)
    def norm(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("d"),
        col("o_orderpriority"))
        .collect().map(_.toString).sorted.toSeq
    assert(norm(back) === norm(orders))
  }

  test("permissive decode nulls malformed records; strict mode fails the task") {
    val ss = spark; import ss.implicits._
    val simple = """{"type":"record","name":"S","fields":[
      |{"name":"id","type":"long"},{"name":"tag","type":"string"}]}""".stripMargin
    val enc = AvroUdfCodec.toAvroUdf(simple)
    val good = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(5L, "ok"))),
        AvroCodec.structTypeFor(simple))
      .select(enc(struct(col("id"), col("tag"))).as("value"))
      .head.getAs[Array[Byte]](0)
    val bad = Array[Byte](-1, -1, -1, -1, -1, -1, -1, -1, -1, -1)
    val df = Seq(good, bad).toDF("value")
    val lax = AvroUdfCodec.fromAvroUdf(simple, permissive = true)
    val out = df.select(lax(col("value")).as("d")).select(col("d.id")).collect()
    assert(out.count(_.isNullAt(0)) === 1)
    assert(out.exists(r => !r.isNullAt(0) && r.getLong(0) === 5L))
    val strict = AvroUdfCodec.fromAvroUdf(simple)
    intercept[Exception] {
      df.select(strict(col("value")).as("d")).collect()
    }
  }

  test("long_vec_dot is SQL-callable via GraftExtensions") {
    // a genuinely new session (extensions only apply at construction).
    // The `spark.sql.extensions` string is read from the SparkContext
    // conf, which this test JVM's pre-existing context lacks, so the
    // builder API is used here; the config-string path is what a
    // spark-submit user sets (verified equivalent in a fresh JVM).
    withExtensionsSession("ext-spec") { ext =>
      val r = ext.sql(
        "SELECT long_vec_dot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d")
        .head.getLong(0)
      assert(r === 32L)
    }
  }

  test("expression codec: round trip is lossless and byte-identical to the UDF codec") {
    import graft.functions.AvroExpressions
    val st = AvroCodec.structTypeFor(schemaJson)
    val ts = java.sql.Timestamp.valueOf("2024-06-01 12:34:56.789")
    val rows = Seq(
      Row(1L, "alpha", 1.5, true, ts, Seq("x", "y"),
        Array[Byte](1, 2, 3), Row(7, "seven")),
      Row(2L, null, -0.25, false, ts, Seq.empty[String],
        Array.empty[Byte], Row(8, null)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), st)
    val all = struct(df.columns.map(col): _*)
    // byte-for-byte parity with the legacy UDF encoder on every row
    val exprBytes = df.select(AvroExpressions.toAvro(all, schemaJson))
      .collect().map(_.getAs[Array[Byte]](0).toSeq).sortBy(_.hashCode)
    val udfBytes = df.select(AvroUdfCodec.toAvroUdf(schemaJson)(all))
      .collect().map(_.getAs[Array[Byte]](0).toSeq).sortBy(_.hashCode)
    assert(exprBytes.toSeq === udfBytes.toSeq)
    // full expression round trip is lossless (incl. nulls, nested, bytes)
    val back = df.select(AvroExpressions.fromAvro(
        AvroExpressions.toAvro(all, schemaJson), schemaJson).as("d"))
      .select("d.*")
    def norm(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.collect().map { r =>
        Row.fromSeq(r.toSeq.map {
          case b: Array[Byte] => b.toSeq
          case v => v
        }).toString
      }.sorted.toSeq
    assert(norm(back) === norm(df))
  }

  test("expression codec: encode rejects mismatched field types at analysis") {
    import graft.functions.AvroExpressions
    val simple = """{"type":"record","name":"S","fields":[
      |{"name":"id","type":"long"},{"name":"tag","type":"string"}]}""".stripMargin
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(5, "ok"))), // id is INT, schema wants long
      StructType(Seq(
        StructField("id", IntegerType), StructField("tag", StringType))))
    // pre-round-7 this passed analysis and threw ClassCastException on an
    // executor; now the mismatch is a named analysis-time error
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(AvroExpressions.toAvro(struct(col("id"), col("tag")), simple)).collect()
    }
    assert(e.getMessage.contains("id") && e.getMessage.toLowerCase.contains("type"))
    // the fix must not over-reject: TIMESTAMP_NTZ feeding timestamp-millis
    // is representation-identical and stays legal (q20's orders path)
    val tsSchema = """{"type":"record","name":"W","fields":[
      |{"name":"at","type":{"type":"long","logicalType":"timestamp-millis"}}]}""".stripMargin
    val ntz = spark.sql("SELECT TIMESTAMP_NTZ'2024-06-01 12:00:00' AS at")
    assert(ntz.select(AvroExpressions.toAvro(struct(col("at")), tsSchema))
      .head.getAs[Array[Byte]](0).nonEmpty)
  }

  test("expression codec: encode matches struct fields by name, not position") {
    import graft.functions.AvroExpressions
    val simple = """{"type":"record","name":"S","fields":[
      |{"name":"id","type":"long"},{"name":"tag","type":"string"}]}""".stripMargin
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(5L, "ok"))),
      AvroCodec.structTypeFor(simple))
    // reversed struct order must produce the same wire bytes
    val a = df.select(AvroExpressions.toAvro(struct(col("id"), col("tag")), simple))
      .head.getAs[Array[Byte]](0)
    val b = df.select(AvroExpressions.toAvro(struct(col("tag"), col("id")), simple))
      .head.getAs[Array[Byte]](0)
    assert(a.toSeq === b.toSeq && a.nonEmpty)
  }

  test("expression codec: permissive decode nulls malformed records; strict fails") {
    import graft.functions.AvroExpressions
    val ss = spark; import ss.implicits._
    val simple = """{"type":"record","name":"S","fields":[
      |{"name":"id","type":"long"},{"name":"tag","type":"string"}]}""".stripMargin
    val good = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(5L, "ok"))),
        AvroCodec.structTypeFor(simple))
      .select(AvroExpressions.toAvro(struct(col("id"), col("tag")), simple).as("value"))
      .head.getAs[Array[Byte]](0)
    val bad = Array[Byte](-1, -1, -1, -1, -1, -1, -1, -1, -1, -1)
    val df = Seq(good, bad).toDF("value")
    val out = df.select(AvroExpressions.fromAvro($"value", simple, permissive = true).as("d"))
      .select(col("d.id")).collect()
    assert(out.count(_.isNullAt(0)) === 1)
    assert(out.exists(r => !r.isNullAt(0) && r.getLong(0) === 5L))
    intercept[Exception] {
      df.select(AvroExpressions.fromAvro($"value", simple).as("d")).collect()
    }
  }

  test("q20's plan contains the native codec and no ScalaUDF (hot path is codegen)") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = graft.queries.CodecQueries.q20AvroRoundtrip(spark, "/root/testdata/sf0.001")
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val plans = unwrap(df.queryExecution.executedPlan).collect { case p => p }
    val exprs = plans.flatMap(_.expressions)
    assert(!exprs.exists(_.exists(_.isInstanceOf[ScalaUDF])),
      "q20 must not execute any ScalaUDF")
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.contains("graft_from_avro") && analyzed.contains("graft_to_avro"))
    assert(df.count() > 0)
  }

  test("expression codec: schema evolution resolves writer v1 bytes to reader v2") {
    import graft.functions.AvroExpressions
    val ss = spark; import ss.implicits._
    val v1 = """{"type":"record","name":"E","fields":[
      |{"name":"id","type":"long"},
      |{"name":"tag","type":"string"},
      |{"name":"legacy","type":"int"}]}""".stripMargin
    // v2: reordered (tag first), `legacy` dropped, `score` added w/ default
    val v2 = """{"type":"record","name":"E","fields":[
      |{"name":"tag","type":"string"},
      |{"name":"id","type":"long"},
      |{"name":"score","type":"double","default":1.5}]}""".stripMargin
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(7L, "x", 99), Row(8L, "y", 100))),
      AvroCodec.structTypeFor(v1))
    val wire = df.select(AvroExpressions.toAvro(
      struct(col("id"), col("tag"), col("legacy")), v1).as("b"))
    val out = wire.select(AvroExpressions.fromAvroEvolved($"b", v2, v1).as("d"))
      .select($"d.tag", $"d.id", $"d.score")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out === Set(("x", 7L, 1.5), ("y", 8L, 1.5)))
    // and without evolution the v1 bytes still decode under v1 exactly
    val plain = wire.select(AvroExpressions.fromAvro($"b", v1).as("d"))
      .select($"d.legacy").collect().map(_.getInt(0)).toSet
    assert(plain === Set(99, 100))
  }

  test("graft_to_avro / graft_from_avro are SQL-callable via GraftExtensions") {
    withExtensionsSession("avro-sql-spec") { ext =>
      val schema = """{"type":"record","name":"S","fields":[
        |{"name":"id","type":"long"},{"name":"tag","type":"string"}]}""".stripMargin
      val r = ext.sql(
        s"""SELECT d.id, d.tag FROM (SELECT graft_from_avro(
           |  graft_to_avro(named_struct('id', 5L, 'tag', 'ok'), '$schema'),
           |  '$schema') AS d)""".stripMargin).head
      assert(r.getLong(0) === 5L && r.getString(1) === "ok")
      // non-literal schema argument is rejected at analysis, not at runtime
      val err = intercept[Exception] {
        ext.sql("SELECT graft_to_avro(named_struct('id', 1L), cast(rand() AS STRING))")
      }
      assert(err.getMessage.contains("string literal"))

      // schema-evolution decode via the 3-arg string form: v1-written
      // bytes resolved under a v2 reader (field reorder + default-filled
      // `score` + dropped `legacy`) — the SQL twin of fromAvroEvolved
      val v1 = """{"type":"record","name":"E","fields":[
        |{"name":"id","type":"long"},
        |{"name":"tag","type":"string"},
        |{"name":"legacy","type":"int"}]}""".stripMargin.replace("\n", "")
      val v2 = """{"type":"record","name":"E","fields":[
        |{"name":"tag","type":"string"},
        |{"name":"id","type":"long"},
        |{"name":"score","type":"double","default":1.5}]}""".stripMargin.replace("\n", "")
      val ev = ext.sql(
        s"""SELECT d.tag, d.id, d.score FROM (SELECT graft_from_avro(
           |  graft_to_avro(named_struct('id', 7L, 'tag', 'x', 'legacy', 99), '$v1'),
           |  '$v2', '$v1') AS d)""".stripMargin).head
      assert(ev.getString(0) === "x" && ev.getLong(1) === 7L && ev.getDouble(2) === 1.5)
      // 4-arg form: writer schema + permissive — corrupt bytes null out
      val nulls = ext.sql(
        s"SELECT graft_from_avro(X'FF', '$v2', '$v1', true) AS d").head
      assert(nulls.isNullAt(0))
    }
  }

  test("encoded bytes are deterministic and schema-stable") {
    val st = AvroCodec.structTypeFor(schemaJson)
    val ts = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val row = Row(9L, "z", 0.0, false, ts, Seq("t"), Array[Byte](9), Row(1, "b"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(row)), st)
    val enc = AvroUdfCodec.toAvroUdf(schemaJson)
    val a = df.select(enc(struct(df.columns.map(col): _*))).head.getAs[Array[Byte]](0)
    val b = df.select(enc(struct(df.columns.map(col): _*))).head.getAs[Array[Byte]](0)
    assert(a.toSeq === b.toSeq)
    assert(a.nonEmpty)
  }
}
