package graft

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.scalatest.funsuite.AnyFunSuite

/** Global "functions, not UDFs" sweep: no gate query may execute a
  * `ScalaUDF` anywhere in its plan. A ScalaUDF is an opaque codegen
  * boundary — it breaks whole-stage codegen, pays an
  * InternalRow ⇄ external-Row conversion per call, and blocks every
  * Catalyst rewrite through it — which is why the engine's rule is
  * native `org.apache.spark.sql.functions`, typed Aggregators, or
  * custom Catalyst expressions everywhere (q20's Avro codec was the
  * last UDF holdout, promoted in round 6). The per-query plan specs pin
  * individual hot paths; this sweep pins the RULE, so a convenience
  * UDF slipping into any future query fails the suite by name.
  *
  * Streaming-harness gates (`SparkEntry.streamingGates`) are skipped:
  * their builders run a full streaming query on construction, and their
  * plans are pinned by their own specs + oracles.
  */
class NoUdfSweepSpec extends AnyFunSuite with LocalSpark {

  private val sf = "/root/testdata/sf0.001"

  override protected def confs = Seq("spark.sql.warehouse.dir" ->
    java.nio.file.Files.createTempDirectory("noudf-wh").toString)
  override protected def appName = "no-udf-sweep"

  // derived from the streaming-gate registry: a new streaming gate is
  // skipped automatically, never via a hand-synced list
  private val streamingHarness = SparkEntry.streamingGates

  test("no batch gate query's plan contains a ScalaUDF") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).collect {
      case (name, build) if !streamingHarness(name) =>
        val df = build(spark, sf)
        val hasUdf = df.queryExecution.analyzed.expressions
          .exists(_.exists(_.isInstanceOf[ScalaUDF])) ||
          df.queryExecution.analyzed.collect {
            case p => p.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF]))
          }.exists(identity)
        name -> hasUdf
    }.filter(_._2).map(_._1)
    assert(offenders.isEmpty,
      s"gate queries executing ScalaUDFs: ${offenders.mkString(", ")}")
  }
}
