package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GroupConcat

/** Typed Aggregator parity (SURVEY A6/§2k) and the topics.regex union
  * fan-in (§2h — the reference's only union-like construct,
  * `s3_sink_connector_00.json` `"topics.regex": "pagila.public.(.*)"`).
  */
class AggregatorSpec extends AnyFunSuite with LocalSpark {

  private val sf = "/root/testdata/sf0.001"


  test("A6: typed GroupConcat Aggregator matches the built-in collect_list spelling") {
    val ss = spark; import ss.implicits._
    val gc = udaf(new GroupConcat(", "))
    val n = Tables.nation(spark, sf)
      .join(Tables.region(spark, sf), $"n_regionkey" === $"r_regionkey")
    val typed = n.groupBy($"r_name")
      .agg(gc($"n_name").as("nations"))
      .orderBy($"r_name")
      .collect().map(_.toString).toSeq
    val builtin = n.groupBy($"r_name")
      .agg(concat_ws(", ", array_sort(collect_list($"n_name"))).as("nations"))
      .orderBy($"r_name")
      .collect().map(_.toString).toSeq
    assert(typed === builtin && typed.nonEmpty)
  }

  test("A6: GroupConcat is partition-count invariant (partial-merge determinism)") {
    val ss = spark; import ss.implicits._
    val gc = udaf(new GroupConcat("|"))
    def run(parts: Int) = Tables.customer(spark, sf)
      .repartition(parts)
      .groupBy($"c_nationkey")
      .agg(gc($"c_name").as("names"))
      .collect().map(r => r.get(0).toString -> r.getString(1)).toMap
    assert(run(1) === run(7))
  }

  test("§2h: topics.regex fan-in via unionByName over topic dumps") {
    val ss = spark; import ss.implicits._
    def dump(df: org.apache.spark.sql.DataFrame, keyCol: String, topic: String) =
      df.select(
        col(keyCol).cast("string").as("key"),
        to_json(struct(df.columns.map(col): _*)).as("value"),
        lit(topic).as("topic"))
    val t1 = dump(Tables.nation(spark, sf), "n_nationkey", "pagila.public.nation")
    val t2 = dump(Tables.region(spark, sf), "r_regionkey", "pagila.public.region")
    // column order deliberately shuffled on one side: unionByName aligns
    val fanIn = t1.unionByName(t2.select($"topic", $"key", $"value"))
    assert(fanIn.count() === 30)
    assert(fanIn.groupBy($"topic").count().count() === 2)
    assert(fanIn.columns.toSeq === Seq("key", "value", "topic"))
  }
}
