package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.Sinks
import graft.sources.SalesCsv

/** Source/sink behaviors (SURVEY S1/S2/K5/K7/K8): both real-world
  * timestamp spellings, separator round trips, JSON sink, and the
  * partitioned gzip lake write with actual partition pruning.
  */
class SinksSpec extends AnyFunSuite with LocalSpark {

  private val sf = "/root/testdata/sf0.001"


  private def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("S1: seed CSV with ' +00:00' offset spelling parses (pipe separator)") {
    val dir = tempDir("csv_seed")
    Files.writeString(Paths.get(dir, "seed.csv"),
      """payment_id|customer_id|amount|payment_date|city|district|country
        |16940|130|5.99|2021-05-08 21:21:56.996577 +00:00|guas Lindas de Gois|Gois|Brazil
        |16406|459|5.99|2021-05-08 21:22:59.996577 +00:00|Qomsheh|Esfahan|Iran
        |""".stripMargin)
    val df = SalesCsv.read(spark, dir, "|")
    assert(df.count() === 2)
    val ts = df.filter(col("payment_id") === 16940)
      .select(date_format(col("payment_date"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .head.getString(0)
    assert(ts === "2021-05-08 21:21:56.996577")
    assert(df.filter(col("payment_date").isNull).count() === 0)
  }

  test("S1: incremental CSV with '+00' offset spelling parses identically") {
    val dir = tempDir("csv_incr")
    Files.writeString(Paths.get(dir, "incr.csv"),
      """payment_id|customer_id|amount|payment_date|city|district|country
        |17064|352|7.99|2021-05-09 03:12:15.996577+00|Ciomas|West Java|Indonesia
        |""".stripMargin)
    val df = SalesCsv.read(spark, dir, "|")
    val ts = df.select(date_format(col("payment_date"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .head.getString(0)
    assert(ts === "2021-05-09 03:12:15.996577")
  }

  test("S2/K5: comma-separated write/read round trip preserves rows") {
    val ss = spark; import ss.implicits._
    val dir = tempDir("csv_rt") + "/out"
    val src = Seq(
      (1, 10, 5.99f, "2021-05-08 21:21:56.996577 +00:00", "A", "B", "Brazil"),
      (2, 20, 7.99f, "2021-05-09 03:12:15.996577+00", "C", "D", "Iran"))
      .toDF(SalesCsv.rawSchema.fieldNames: _*)
    SalesCsv.write(src, dir, ",")
    val back = SalesCsv.read(spark, dir, ",")
    assert(back.count() === 2)
    assert(back.filter($"payment_date".isNull).count() === 0)
    assert(math.abs(back.select(sum($"amount".cast("double"))).head.getDouble(0) - 13.98) < 1e-6)
    // overwrite actually overwrites (the reference's dead-mode bug, fixed)
    SalesCsv.write(src.limit(1), dir, ",")
    assert(SalesCsv.read(spark, dir, ",").count() === 1)
  }

  test("K7: JSON sink round trip") {
    val ss = spark; import ss.implicits._
    val dir = tempDir("json_rt") + "/out"
    val src = Tables.nation(spark, sf).select($"n_nationkey", $"n_name")
    Sinks.json(src, dir)
    val back = spark.read.schema("n_nationkey LONG, n_name STRING").json(dir)
    assert(back.collect().map(_.toString).sorted.toSeq ===
      src.collect().map(_.toString).sorted.toSeq)
  }

  test("K8: partitioned gzip parquet write prunes partitions on read") {
    val ss = spark; import ss.implicits._
    val dir = tempDir("lake") + "/out"
    val enriched = Tables.customer(spark, sf)
      .join(Tables.nation(spark, sf), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_acctbal", $"n_name".as("country"))
    Sinks.parquetPartitioned(enriched, dir, "country")

    // hive-style layout + gzip codec on disk
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("country=")))
    val dataFiles = Files.walk(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet"))
    assert(dataFiles.nonEmpty && dataFiles.forall(_.contains(".gz.parquet")))

    // a filtered scan must read ONLY the matching partition directory:
    // execute, then read the scan's numFiles metric (inputFiles lists the
    // whole relation regardless of pruning, so it can't prove this)
    val pruned = spark.read.parquet(dir).filter($"country" === "NATION_3")
    val expected = enriched.filter($"country" === "NATION_3").count()
    // collect() (not count()) so the metric comes from THIS queryExecution
    assert(pruned.collect().length === expected && expected > 0)
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.metrics("numFiles").value === 1L) // 1 of 25 country dirs
    assert(scan.toString.contains("PartitionFilters"))
  }

  test("K1: topic-dump append accumulates batches") {
    val ss = spark; import ss.implicits._
    val dir = tempDir("topic") + "/out"
    val recs = Tables.nation(spark, sf)
      .select($"n_name".cast("string").as("key"),
        to_json(struct($"n_nationkey", $"n_name")).as("value"),
        current_timestamp().as("timestamp"))
    Sinks.topicAppend(recs, dir)
    Sinks.topicAppend(recs, dir)
    assert(spark.read.parquet(dir).count() === 50)
  }
}
