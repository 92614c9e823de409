package graft

import org.scalatest.funsuite.AnyFunSuite

class CoreQueriesSpec extends AnyFunSuite with LocalSpark {

  private val sf = "/root/testdata/sf0.001"

  override protected def appName = "graft-test"

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs and returns rows on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("every query has matching oracle keys and aligned column sets") {
    // oracleSql keys must be a subset of queries (driver indexes by query name)
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("q02's broadcast POLICY: only the explicitly-hinted dims broadcast when stats can't") {
    // At sf0.001 the stats-based planner legally broadcasts orders and
    // customer too (they fit the threshold) — scale-adaptive and fine.
    // The POLICY the scaladocs promise is what must survive 100 TB,
    // where stats broadcast nothing: with the auto threshold disabled,
    // exactly the two explicit broadcast() hints (nation=25, region=5)
    // remain, and the fact chain (lineitem/orders/customer) shuffles.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    val plan = try {
      spark.conf.set(key, "-1")
      SparkEntry.queries("q02_top_nation_revenue")(spark, sf)
        .queryExecution.executedPlan.toString
    } finally spark.conf.set(key, old)
    val broadcastScans = plan.split("BroadcastExchange").drop(1)
      .flatMap(_.split("\n").find(_.contains("FileScan")))
    assert(broadcastScans.length === 2, plan)
    assert(broadcastScans.count(_.contains("nation.parquet")) === 1, plan)
    assert(broadcastScans.count(_.contains("region.parquet")) === 1, plan)
    Seq("lineitem", "orders", "customer").foreach { fact =>
      assert(!broadcastScans.exists(_.contains(s"$fact.parquet")),
        s"$fact must never broadcast\n$plan")
    }
  }

  test("q03 latest-event dedup keeps exactly one row per user") {
    val df = SparkEntry.queries("q03_latest_event_per_user")(spark, sf)
    assert(df.count() === df.select("user_id").distinct().count())
  }

  test("q05 sliding windows: every event lands in exactly two windows") {
    import org.apache.spark.sql.functions._
    val total = SparkEntry.queries("q05_sliding_window_sales")(spark, sf)
      .agg(sum("orders")).collect()(0).getLong(0)
    val events = Tables.events(spark, sf).count()
    assert(total === 2 * events)
  }

  test("q25 (scale-safe aggregate) agrees with q04 (reference window shape) row-for-row") {
    import org.apache.spark.sql.functions._
    // same answer, different physical strategies: max_by aggregate vs
    // partitioned window. q04 emits formatted-string sales; format q25's
    // numeric sales the same way and the rows must be identical.
    val q04 = SparkEntry.queries("q04_country_sales_summary")(spark, sf)
      .select("country", "sales", "orders", "top_customer")
      .collect().map(_.toString).sorted.toSeq
    val q25 = SparkEntry.queries("q25_country_sales_agg")(spark, sf)
      .select(col("country"), format_number(col("sales"), 2).as("sales"),
        col("orders"), col("top_customer"))
      .collect().map(_.toString).sorted.toSeq
    assert(q25 === q04 && q25.nonEmpty)
  }
}
