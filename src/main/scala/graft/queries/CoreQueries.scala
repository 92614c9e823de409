package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators.CdcMerge

/** Core batch analytics queries re-expressing the reference's operator
  * inventory (SURVEY.md §2) over the driver testdata.
  *
  * Oracle-parity conventions (the driver hash-compares against DuckDB):
  *  - money-ish aggregates go through exact `DECIMAL` casts before SUM so
  *    Spark's and DuckDB's parallel double-summation order can't produce
  *    last-ulp diffs; final outputs are cast back to DOUBLE on both sides.
  *  - every query ends in a total-order `orderBy` mirrored by the oracle's
  *    ORDER BY.
  *  - timestamps are emitted as formatted strings (session TZ = UTC), never
  *    raw, to dodge parquet ns-vs-us representation differences.
  */
object CoreQueries {

  /** Exact decimal view of a 2-decimal money column (see file doc). */
  private def dec2(c: Column): Column = c.cast(DecimalType(12, 2))

  /** q01 — grouped aggregation over the fact table (SURVEY A1; ref
    * `03_streaming_read_kafka_console.py:77-78`, `06:95-96` — the
    * country-level sum/count shape, widened to the TPC-H Q1 pricing
    * summary so partial+final HashAggregate is exercised with several
    * aggregates at once).
    */
  def q01PricingSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" <= lit("1999-12-01").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        // l_quantity routed through dec2 like the money columns: raw double
        // summation is accumulation-order-dependent and only hash-matches
        // DuckDB while the data stays integer-valued.
        sum(dec2($"l_quantity")).cast("double").as("sum_qty"),
        sum(dec2($"l_extendedprice")).cast("double").as("sum_base_price"),
        sum(dec2($"l_extendedprice") * dec2(lit(1) - $"l_discount"))
          .cast("double").as("sum_disc_price"),
        sum(dec2($"l_extendedprice") * dec2(lit(1) - $"l_discount") *
            dec2(lit(1) + $"l_tax")).cast("double").as("sum_charge"),
        (sum(dec2($"l_quantity")).cast("double") /
          count($"l_quantity")).as("avg_qty"),
        (sum(dec2($"l_extendedprice")).cast("double") /
          count($"l_extendedprice")).as("avg_price"),
        (sum(dec2($"l_discount")).cast("double") /
          count($"l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q01Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2)) * CAST(1 + l_tax AS DECIMAL(12,2))) AS DOUBLE) AS sum_charge,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(l_quantity) AS avg_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(l_extendedprice) AS avg_price,
      |  CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / count(l_discount) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1999-12-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q02 — 5-way inner equi-join fact→dims chain (SURVEY J2; ref
    * `pyspark/data/sales.sql:12-16` payment→customer→address→city→country,
    * re-expressed as lineitem→orders→customer→nation→region) + grouped agg
    * by derived dim (A2) + sort on aggregate (T1).
    * Fixed-cardinality dims (nation=25, region=5) are explicitly
    * broadcast; `customer` scales linearly with SF (~150k×SF rows, i.e.
    * billions at 100 TB) so its join strategy is left to AQE — a forced
    * broadcast would blow the 8 GB broadcast cap at scale.
    */
  def q02TopNationRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val o  = Tables.orders(s, dir)
    val c  = Tables.customer(s, dir)
    val n  = Tables.nation(s, dir)
    val r  = Tables.region(s, dir)
    li.join(o, $"l_orderkey" === $"o_orderkey")
      .join(c, $"o_custkey" === $"c_custkey")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(
        sum(dec2($"l_extendedprice") * dec2(lit(1) - $"l_discount"))
          .cast("double").as("revenue"),
        count(lit(1)).as("line_count"))
      .orderBy($"revenue".desc, $"n_name")
  }

  val q02Oracle: String =
    """SELECT r_name, n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
      |  count(*) AS line_count
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** q03 — latest-record-per-key dedup via ranking window (SURVEY W3; ref
    * `07_batch_read_kafka.py:65,74-75`, `13_batch_read_results_avro.py:59,69-70`:
    * `row_number() OVER (PARTITION BY key ORDER BY timestamp DESC)` + `row == 1`).
    * This is the Hudi precombine / last-write-wins primitive, so it runs
    * as the CDC merge itself: [[graft.operators.CdcMerge.mergeByKey]] in
    * rewrite mode (no tombstones to hide). The oracle casts ts to
    * microsecond TIMESTAMP because Spark truncates parquet ns to us while
    * DuckDB keeps ns.
    */
  def q03LatestEventPerUser(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .transform(CdcMerge.mergeByKey(Seq("user_id"), Seq("ts", "event_id"),
        deleteMode = CdcMerge.Rewrite))
      .select($"user_id", $"event_id", $"event_type", $"value")
      .orderBy($"user_id")
  }

  val q03Oracle: String =
    """SELECT user_id, event_id, event_type, value FROM (
      |  SELECT user_id, event_id, event_type, value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      |  FROM events) t
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** q04 — the reference's flagship batch pipeline shape
    * (`02_batch_read_kafka.py:76-91`): analytic window aggregates kept on
    * detail rows (SURVEY A4: `count().over(partitionBy)`, `sum().over`),
    * `row_number` pick-one-per-group (W2), `filter(row == 1)` (P6),
    * `format_number` (F6), then sort on the re-parsed formatted string via
    * `regexp_replace` (T3/F7). customer⋈nation stands in for
    * payments×country; `n_name` is the country.
    */
  def q04CountrySalesSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val byCountry = Window.partitionBy($"n_name")
    val ordered   = byCountry.orderBy($"c_acctbal".desc, $"c_custkey")
    c.join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .withColumn("row", row_number().over(ordered))
      .withColumn("orders", count($"c_acctbal").over(byCountry))
      .withColumn("sales_dec", sum(dec2($"c_acctbal")).over(byCountry))
      .filter($"row" === 1)
      .select(
        $"n_name".as("country"),
        format_number($"sales_dec".cast("double"), 2).as("sales"),
        $"orders",
        $"c_custkey".as("top_customer"))
      .orderBy(regexp_replace($"sales", ",", "").cast("double").desc, $"country")
  }

  // DuckDB's format() refuses thousands separators on floats, so the
  // oracle rebuilds format_number's "1,234.56" from the exact DECIMAL:
  // comma-grouped integer part || '.' || zero-padded cents.
  val q04Oracle: String =
    """SELECT country,
      |  CASE WHEN sales_dec < 0 THEN '-' ELSE '' END ||
      |    format('{:,}', CAST(floor(abs(sales_dec)) AS BIGINT)) || '.' ||
      |    lpad(CAST(CAST(abs(sales_dec) * 100 AS BIGINT) % 100 AS VARCHAR), 2, '0') AS sales,
      |  orders, top_customer FROM (
      |  SELECT n_name AS country,
      |    sum(CAST(c_acctbal AS DECIMAL(12,2))) OVER (PARTITION BY n_name) AS sales_dec,
      |    count(c_acctbal) OVER (PARTITION BY n_name) AS orders,
      |    c_custkey AS top_customer,
      |    row_number() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey) AS row
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey) t
      |WHERE row = 1
      |ORDER BY CAST(sales_dec AS DOUBLE) DESC, country""".stripMargin

  /** q05 — sliding event-time window aggregation, batch equivalent of the
    * streaming job (SURVEY A3/ST2; ref `05_streaming_read_kafka_console.py:78-80`,
    * `08:97-98`, `12:101-102`: `window(timestamp, "10 minutes", "5 minutes")`).
    * Window bounds emitted as formatted strings; the oracle expands each row
    * into its two overlapping 5-minute-aligned buckets.
    */
  def q05SlidingWindowSales(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(window($"ts", "10 minutes", "5 minutes"), $"event_type")
      .agg(
        sum(dec2($"value")).cast("double").as("sales"),
        count(lit(1)).as("orders"))
      .select(
        date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
        date_format($"window.end", "yyyy-MM-dd HH:mm:ss").as("window_end"),
        $"event_type", $"sales", $"orders")
      .orderBy($"window_start", $"event_type")
  }

  val q05Oracle: String =
    """SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
      |  strftime(ws + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S') AS window_end,
      |  event_type,
      |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sales,
      |  count(*) AS orders
      |FROM (
      |  SELECT unnest([tb, tb - INTERVAL 5 MINUTE]) AS ws, event_type, value
      |  FROM (SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS tb,
      |               event_type, value FROM events) raw) t
      |GROUP BY ws, event_type
      |ORDER BY window_start, event_type""".stripMargin

  /** q06 — stream–static left-outer enrichment join on the stream key with
    * null back-fill and grouped agg by the enriched dim (SURVEY J1+P7+A2; ref
    * `08_streaming_read_kafka_join_window.py:94-98`, `09:94-97`, `12:98-102`:
    * `join(regions, on="country", how="leftOuter")` + `na.fill("Unassigned")`).
    * The dim is deliberately punctured (c_custkey % 3 == 0 removed) so the
    * fill path is exercised. Unlike the reference's fixed 245-row regions
    * dim, this dim derives from `customer`, which scales with SF — so no
    * broadcast hint: AQE broadcasts it while it's small and falls back to a
    * shuffle join when it isn't.
    */
  def q06EnrichedSegmentSales(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim =
      Tables.customer(s, dir)
        .filter($"c_custkey" % 3 =!= 0)
        .select($"c_custkey".as("user_id"), $"c_mktsegment")
    Tables.events(s, dir)
      .join(dim, Seq("user_id"), "left_outer")
      .na.fill("Unassigned", Seq("c_mktsegment"))
      .groupBy($"c_mktsegment")
      .agg(
        sum(dec2($"value")).cast("double").as("sales"),
        count($"value").as("orders"))
      .withColumnRenamed("c_mktsegment", "segment")
      .orderBy($"sales".desc, $"segment")
  }

  val q06Oracle: String =
    """SELECT coalesce(c_mktsegment, 'Unassigned') AS segment,
      |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sales,
      |  count(value) AS orders
      |FROM events LEFT JOIN
      |  (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 3 <> 0) dim
      |  ON user_id = c_custkey
      |GROUP BY 1
      |ORDER BY sales DESC, segment""".stripMargin

  /** q25 — the scale-safe twin of q04 (VERDICT "what's wrong" #4): the
    * same per-country answer computed as ONE two-phase hash aggregate
    * with `max_by` over a (acctbal, -custkey) ordering struct, instead of
    * q04's `Window.partitionBy(country)`, which funnels the whole fact
    * table into ≤25 partitions (one per nation) — correct but a skew
    * bottleneck at 100×. Partial aggregation combines map-side, so the
    * shuffle carries 25 partial states per mapper regardless of input
    * size. q04 stays as the reference-shape demo; this is the plan you'd
    * run at scale. The oracle uses the window formulation — identical
    * results, independently derived.
    */
  def q25CountrySalesAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(
        sum(dec2($"c_acctbal")).cast("double").as("sales"),
        count($"c_acctbal").as("orders"),
        // max over (acctbal asc, -custkey asc) == first row of q04's
        // (acctbal desc, custkey asc) window
        max_by($"c_custkey", struct($"c_acctbal", -$"c_custkey")).as("top_customer"))
      .select($"n_name".as("country"), $"sales", $"orders", $"top_customer")
      .orderBy($"sales".desc, $"country")
  }

  val q25Oracle: String =
    """SELECT country, sales, orders, top_customer FROM (
      |  SELECT n_name AS country,
      |    CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) OVER (PARTITION BY n_name) AS DOUBLE) AS sales,
      |    count(c_acctbal) OVER (PARTITION BY n_name) AS orders,
      |    c_custkey AS top_customer,
      |    row_number() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey) AS rn
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey) t
      |WHERE rn = 1
      |ORDER BY sales DESC, country""".stripMargin

  /** q26 — the summary-topic record with the reference's streaming T2
    * sort: sliding-window aggregate keyed like the Kafka summary topic
    * (ref `05_streaming_read_kafka_console_window.py:81-82` `orderBy(window
    * desc, sum desc)`; key derivation `06:98` — sha1 there, md5 here
    * because the DuckDB oracle lacks sha1; Spark-side sha1 is pinned
    * against MessageDigest in StreamingSpec). Window bounds emit as
    * sortable formatted strings, so the string sort IS the time-desc sort.
    */
  def q26SummaryTopic(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(window($"ts", "10 minutes", "5 minutes"), $"event_type")
      .agg(
        sum(dec2($"value")).cast("double").as("sales"),
        count(lit(1)).as("orders"))
      .select(
        md5($"event_type").as("key"),
        date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
        date_format($"window.end", "yyyy-MM-dd HH:mm:ss").as("window_end"),
        $"event_type", $"sales", $"orders")
      .orderBy($"window_start".desc, $"sales".desc, $"event_type")
  }

  val q26Oracle: String =
    """SELECT md5(event_type) AS key,
      |  strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
      |  strftime(ws + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S') AS window_end,
      |  event_type,
      |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sales,
      |  count(*) AS orders
      |FROM (
      |  SELECT unnest([tb, tb - INTERVAL 5 MINUTE]) AS ws, event_type, value
      |  FROM (SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS tb,
      |               event_type, value FROM events) raw) t
      |GROUP BY ws, event_type
      |ORDER BY window_start DESC, sales DESC, event_type""".stripMargin

  /** q50 — the q06 enrichment join executed through
    * [[graft.operators.Skew.saltedJoin]]: the fact side gets a
    * deterministic salt in [0,8) hashed from event_id, the dim side is
    * replicated once per salt value, and the join key becomes
    * (user_id, salt) — so a hot user's rows fan out over 8 shuffle
    * partitions instead of one. Replication × discrimination cancel
    * exactly, making the result row-identical to the plain join, which
    * is precisely what the oracle states: plain SQL inner join + group.
    * This is the manual skew fallback for plans AQE's runtime skew-split
    * cannot reach (streaming micro-batches, forced shuffles); SkewSpec
    * pins the mechanics, this gate pins end-to-end results in the
    * driver's loop.
    */
  def q50SaltedEnrich(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = Tables.customer(s, dir)
      .select($"c_custkey".as("user_id"), $"c_mktsegment")
    graft.operators.Skew
      .saltedJoin(Tables.events(s, dir), dim, Seq("user_id"), $"event_id", buckets = 8)
      .groupBy($"c_mktsegment".as("segment"))
      .agg(
        sum(dec2($"value")).cast("double").as("sales"),
        count(lit(1)).as("orders"),
        countDistinct($"user_id").as("users"))
      .orderBy($"segment")
  }

  val q50Oracle: String =
    """SELECT c_mktsegment AS segment,
      |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sales,
      |  count(*) AS orders,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS users
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1
      |ORDER BY segment""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary"      -> (q01PricingSummary _),
    "q02_top_nation_revenue"   -> (q02TopNationRevenue _),
    "q03_latest_event_per_user"-> (q03LatestEventPerUser _),
    "q04_country_sales_summary"-> (q04CountrySalesSummary _),
    "q05_sliding_window_sales" -> (q05SlidingWindowSales _),
    "q06_enriched_segment_sales" -> (q06EnrichedSegmentSales _),
    "q25_country_sales_agg"    -> (q25CountrySalesAgg _),
    "q26_summary_topic"        -> (q26SummaryTopic _),
    "q50_salted_enrich"        -> (q50SaltedEnrich _))

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary"      -> q01Oracle,
    "q02_top_nation_revenue"   -> q02Oracle,
    "q03_latest_event_per_user"-> q03Oracle,
    "q04_country_sales_summary"-> q04Oracle,
    "q05_sliding_window_sales" -> q05Oracle,
    "q06_enriched_segment_sales" -> q06Oracle,
    "q25_country_sales_agg"    -> q25Oracle,
    "q26_summary_topic"        -> q26Oracle,
    "q50_salted_enrich"        -> q50Oracle)
}
