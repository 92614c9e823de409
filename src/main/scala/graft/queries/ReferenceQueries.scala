package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.{CdcMerge, Smt}

/** Reference-parity operators beyond the CoreQueries slice: seed transform,
  * SMT chain, seed-SQL expression shapes, scalar subquery, group_concat,
  * CDC unwrap+merge, JSON envelope round-trip (SURVEY.md §2).
  */
object ReferenceQueries {

  private def dec2(c: Column): Column = c.cast(DecimalType(12, 2))

  /** q07 — seed/producer transform (SURVEY W1+F10+T5; ref
    * `01_seed_sales_kafka.py:87-93`: global `row_number() OVER (ORDER BY
    * payment_id)` index, then synthesized timestamps `unix_ts - (250 - index)`
    * spreading one event per second backwards from "now"). The reference's
    * `current_timestamp()` is replaced with a pinned base so the result is
    * deterministic for the oracle. The unpartitioned window is a deliberate
    * single-partition op — it only ever runs on a bounded seed slice
    * (LIMIT 250), never on the fact table.
    */
  def q07SeedTransform(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = 1767225600L // 2026-01-01 00:00:00 UTC
    val n    = 250
    Tables.orders(s, dir)
      .orderBy($"o_orderkey").limit(n)
      .withColumn("idx", row_number().over(Window.orderBy($"o_orderkey")))
      .withColumn("payment_ts",
        from_unixtime(lit(base) - (lit(n) - $"idx"), "yyyy-MM-dd HH:mm:ss"))
      .select($"o_orderkey", $"idx", $"payment_ts", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  val q07Oracle: String =
    """SELECT o_orderkey, idx,
      |  strftime(epoch_ms((1767225600 - (250 - idx)) * 1000), '%Y-%m-%d %H:%M:%S') AS payment_ts,
      |  o_totalprice
      |FROM (
      |  SELECT o_orderkey, o_totalprice,
      |    row_number() OVER (ORDER BY o_orderkey) AS idx
      |  FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 250) t) n
      |ORDER BY o_orderkey""".stripMargin

  /** q08 — Kafka Connect SMT chain (SURVEY P9-P11): ValueToKey+ExtractField,
    * InsertField (static metadata), ReplaceField rename, as pure map-side
    * projections (ref `jdbc_source_connector_postgresql_01.json`,
    * `s3_sink_connector_02.json`).
    */
  def q08SmtPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .transform(Smt.valueToKey("o_orderkey"))
      .transform(Smt.insertFields(
        "message_topic"  -> "pagila.public.orders",
        "message_source" -> "pagila",
        "environment"    -> "dev"))
      .transform(Smt.renameFields("o_orderpriority" -> "priority"))
      .select($"key", $"o_orderkey", $"o_custkey", $"priority",
        $"message_topic", $"message_source", $"environment")
      .orderBy($"o_orderkey")
  }

  val q08Oracle: String =
    """SELECT CAST(o_orderkey AS VARCHAR) AS key, o_orderkey, o_custkey,
      |  o_orderpriority AS priority,
      |  'pagila.public.orders' AS message_topic,
      |  'pagila' AS message_source,
      |  'dev' AS environment
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  /** q09 — seed-SQL expression shapes (SURVEY F13/F14/F15/T5; ref
    * `pyspark/data/sales.sql:4-8,17-18`): CASE price rewrite, interval
    * arithmetic on a date, name concat, ORDER BY + LIMIT/OFFSET slice.
    */
  def q09SeedSqlShapes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // customer scales with SF — join strategy left to AQE (no broadcast hint)
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .select(
        $"o_orderkey",
        when($"o_totalprice" < 1000.0, dec2(lit(2.99)))
          .otherwise(dec2($"o_totalprice") + dec2(lit(3.00)))
          .cast("double").as("amount"),
        date_format($"o_orderdate" + expr("INTERVAL 1565 DAYS"), "yyyy-MM-dd")
          .as("due_date"),
        concat_ws(" ", $"c_name", $"c_mktsegment").as("customer_label"))
      .orderBy($"due_date", $"o_orderkey")
      .offset(100).limit(600)
      .orderBy($"due_date", $"o_orderkey")
  }

  val q09Oracle: String =
    """SELECT o_orderkey,
      |  CAST(CASE WHEN o_totalprice < 1000.0 THEN CAST(2.99 AS DECIMAL(12,2))
      |       ELSE CAST(o_totalprice AS DECIMAL(12,2)) + CAST(3.00 AS DECIMAL(12,2)) END AS DOUBLE) AS amount,
      |  strftime(o_orderdate + INTERVAL 1565 DAY, '%Y-%m-%d') AS due_date,
      |  concat_ws(' ', c_name, c_mktsegment) AS customer_label
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |ORDER BY due_date, o_orderkey
      |LIMIT 600 OFFSET 100""".stripMargin

  /** q10 — correlated scalar subquery (SURVEY J3; ref
    * `demonstration_notes.md` "Preview Hive Database": `WHERE artist_id =
    * (SELECT artist_id ... LIMIT 1)`). Catalyst decorrelates the subquery to
    * a broadcast of the single-row aggregate — no per-row re-execution.
    */
  def q10ScalarSubquery(s: SparkSession, dir: String): DataFrame = {
    // Views get invocation-unique names: fixed names in the shared session
    // catalog would race under concurrent query execution (and leak state
    // across queries). The result is name-independent.
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val (o, c) = (s"g_orders_$tag", s"g_customer_$tag")
    Tables.orders(s, dir).createOrReplaceTempView(o)
    Tables.customer(s, dir).createOrReplaceTempView(c)
    s.sql(
      s"""SELECT o_orderkey, o_custkey, o_totalprice
         |FROM $o
         |WHERE o_custkey = (SELECT min(c_custkey) FROM $c WHERE c_acctbal > 5000)
         |ORDER BY o_orderkey""".stripMargin)
  }

  val q10Oracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |WHERE o_custkey = (SELECT min(c_custkey) FROM customer WHERE c_acctbal > 5000)
      |ORDER BY o_orderkey""".stripMargin

  /** q11 — group_concat custom aggregate (SURVEY A6; ref
    * `pagila-schema.sql:352-356` Postgres `group_concat` used by the film
    * views). `collect_list` order is nondeterministic under parallel
    * aggregation, so the list is sorted before joining — same result as
    * `string_agg(... ORDER BY ...)`.
    */
  def q11GroupConcat(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name")
      .agg(
        array_join(array_sort(collect_list($"n_name")), ", ").as("nations"),
        count(lit(1)).as("nation_count"))
      .orderBy($"r_name")
  }

  val q11Oracle: String =
    """SELECT r_name,
      |  string_agg(n_name, ', ' ORDER BY n_name) AS nations,
      |  count(*) AS nation_count
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name
      |ORDER BY r_name""".stripMargin

  /** q12 — Debezium envelope unwrap + Hudi-style CDC merge (SURVEY P12+ST9).
    * The `events` table is lifted into a Debezium-shaped changelog
    * (before/after images, op from the event type, ts_ms ordering), unwrapped
    * with rewrite-mode delete handling, and merged last-write-wins per key —
    * the full `moma_debezium_hudi_demo` path (ref
    * `debezium_avro_source_connector_postgresql_06.json` unwrap config;
    * `deltastreamer_jobs_bulk.sh` `--source-ordering-field __source_ts_ms`).
    * One hash shuffle on the record key; delete rows keep their last image
    * with `__deleted='true'` exactly as Debezium rewrite mode emits them.
    */
  def q12CdcMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val image = struct($"user_id", $"event_id", $"value")
    val op = CdcQueries.eventOp($"event_type") // the CDC lake changelog's mapping
    val envelope = Tables.events(s, dir).select(
      struct(
        when(op === "d", image).as("before"),
        when(op =!= "d", image).as("after"),
        op.as("op"),
        unix_millis($"ts").as("ts_ms")).as("envelope"),
      $"event_id".as("seq"))
    envelope
      .transform(Smt.debeziumUnwrap())
      .transform(CdcMerge.mergeByKey(
        Seq("user_id"), Seq("__source_ts_ms", "event_id"),
        deleteMode = CdcMerge.Rewrite))
      .select($"user_id", $"event_id", $"value", $"__op", $"__deleted")
      .orderBy($"user_id")
  }

  val q12Oracle: String =
    CdcQueries.latestImages("true") + "\nORDER BY user_id"

  /** q13 — Kafka JSON envelope round-trip (SURVEY F1/F2/F12/P3/P9): encode
    * rows as `to_json(struct(*))` values with an md5-derived key (the
    * reference keys summary topics on `sha1(country)`, `06:98`; md5 here
    * because the DuckDB oracle lacks sha1), then decode with `from_json` and
    * re-expand `data.*` — proving the producer/consumer codec pair is
    * lossless. All map-side, no shuffle until the final sort.
    */
  def q13JsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType)))
    // codec chain is CPU-bound; spread the single-split scan (no-op at scale)
    Tables.spread(s, Tables.orders(s, dir))
      .select(
        md5($"o_orderkey".cast("string")).as("key"),
        to_json(struct($"o_orderkey", $"o_custkey", $"o_orderstatus",
          $"o_totalprice")).as("value"))
      .select($"key", from_json($"value", schema).as("data"))
      .select($"key", $"data.*")
      .orderBy($"o_orderkey")
  }

  val q13Oracle: String =
    """SELECT md5(CAST(o_orderkey AS VARCHAR)) AS key,
      |  o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q07_seed_transform"   -> (q07SeedTransform _),
    "q08_smt_pipeline"     -> (q08SmtPipeline _),
    "q09_seed_sql_shapes"  -> (q09SeedSqlShapes _),
    "q10_scalar_subquery"  -> (q10ScalarSubquery _),
    "q11_group_concat"     -> (q11GroupConcat _),
    "q12_cdc_merge"        -> (q12CdcMerge _),
    "q13_json_roundtrip"   -> (q13JsonRoundtrip _))

  val oracles: Map[String, String] = Map(
    "q07_seed_transform"   -> q07Oracle,
    "q08_smt_pipeline"     -> q08Oracle,
    "q09_seed_sql_shapes"  -> q09Oracle,
    "q10_scalar_subquery"  -> q10Oracle,
    "q11_group_concat"     -> q11Oracle,
    "q12_cdc_merge"        -> q12Oracle,
    "q13_json_roundtrip"   -> q13Oracle)
}
