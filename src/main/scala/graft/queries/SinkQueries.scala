package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.sinks.Sinks
import graft.sources.SalesCsv

/** Sink round-trip queries: each writes through a real sink into a scratch
  * dir, reads back, and answers from the read-back data — so the
  * CORRECTNESS gate hash-verifies the whole write→read cycle against an
  * oracle computed from the original tables.
  */
object SinkQueries {

  private def dec2(c: org.apache.spark.sql.Column) = c.cast(DecimalType(12, 2))

  /** The ONE scratch path of a gate run over input dir `dir`, under the
    * temp dir: the sink round trips here and the CDC lake gates
    * ([[CdcQueries]]) write their tables there.
    */
  private[queries] def scratch(gate: String, dir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_scratch/${gate}_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"

  /** q22 — partitioned+gzip parquet lake write, then a pruned read-back
    * (SURVEY K8; ref `s3_sink_connector_02.json` FieldPartitioner on
    * `country`): customer⋈nation lands hive-partitioned by nation name,
    * the read-back filters two nations — a scan that touches exactly two
    * `country=…/` directories (partition pruning; asserted in
    * SinksSpec) — and aggregates. The oracle recomputes from the source
    * tables, so a lossy write, a partition-column mangle, or a
    * pruning-time row loss all fail the hash.
    */
  def q22PartitionedSink(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = scratch("q22", dir)
    val enriched = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_acctbal", $"c_mktsegment", $"n_name".as("country"))
    Sinks.parquetPartitioned(enriched, path, "country")
    s.read.parquet(path)
      .filter($"country".isin("NATION_3", "NATION_17"))
      .groupBy($"country")
      .agg(
        sum(dec2($"c_acctbal")).cast("double").as("balance"),
        count(lit(1)).as("customers"))
      .orderBy($"country")
  }

  val q22Oracle: String =
    """SELECT n_name AS country,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS balance,
      |  count(*) AS customers
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |WHERE n_name IN ('NATION_3', 'NATION_17')
      |GROUP BY n_name
      |ORDER BY country""".stripMargin

  /** q23 — CSV sink/source round trip with the reference's `|` separator
    * and header (SURVEY K5/S1; ref `02_batch_read_kafka.py:100-104` write,
    * `01:46-48` read): an aggregate is written as pipe-separated CSV
    * (money already string-formatted from exact decimals — CSV is a
    * string format; parity comes from formatting, not from float
    * round-tripping), read back with an explicit schema, and re-emitted.
    */
  def q23CsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = scratch("q23", dir)
    val summary = Tables.lineitem(s, dir)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(sum(dec2($"l_extendedprice")).as("revenue_dec"),
        count(lit(1)).as("line_count"))
      .select($"l_returnflag", $"l_linestatus",
        $"revenue_dec".cast("string").as("revenue"), $"line_count")
    SalesCsv.write(summary, path)
    s.read
      .schema("l_returnflag STRING, l_linestatus STRING, revenue STRING, line_count LONG")
      .option("header", "true").option("sep", "|")
      .csv(path)
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q23Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS revenue,
      |  count(*) AS line_count
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q22_partitioned_sink" -> (q22PartitionedSink _),
    "q23_csv_roundtrip"    -> (q23CsvRoundtrip _))

  val oracles: Map[String, String] = Map(
    "q22_partitioned_sink" -> q22Oracle,
    "q23_csv_roundtrip"    -> q23Oracle)
}
