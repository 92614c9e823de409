package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.IncrementalSource

/** High-watermark polling laws (SURVEY S7): consecutive polls partition
  * the stream — no re-reads, no gaps — including rows sharing one
  * timestamp (the case plain timestamp mode gets wrong and
  * timestamp+incrementing exists for).
  */
class IncrementalSourceSpec extends AnyFunSuite with LocalSpark {

  private val sf = "/root/testdata/sf0.001"


  test("polls partition a growing table: no re-reads, no gaps") {
    val ss = spark; import ss.implicits._
    val all = Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id").orderBy($"ts", $"event_id")
      .collect()
    val (h1, rest) = all.splitAt(all.length / 3)
    val (h2, h3) = rest.splitAt(rest.length / 3)

    // a "table" that grows between polls, like the connector's source DB
    var visible = h1.length
    def snapshot(): DataFrame = {
      val rows = all.take(visible).map(r =>
        (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
      rows.toSeq.toDF("event_id", "ts", "user_id")
    }
    val src = new IncrementalSource(snapshot _, "ts", Some("event_id"))

    val p1 = src.poll().collect().map(_.getLong(0)).toSet
    visible += h2.length
    val p2 = src.poll().collect().map(_.getLong(0)).toSet
    visible += h3.length
    val p3 = src.poll().collect().map(_.getLong(0)).toSet

    assert(p1 === h1.map(_.getLong(0)).toSet)
    assert(p2 === h2.map(_.getLong(0)).toSet)
    assert(p3 === h3.map(_.getLong(0)).toSet)
    assert((p1 & p2).isEmpty && (p2 & p3).isEmpty && (p1 & p3).isEmpty)
    // idle poll: nothing new
    assert(src.poll().count() === 0)
  }

  test("timestamp+incrementing splits WITHIN a shared timestamp without loss") {
    val ss = spark; import ss.implicits._
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = (1L to 6L).map(i => (i, t, i * 10))
    var visible = 3
    def snapshot(): DataFrame =
      rows.take(visible).toDF("event_id", "ts", "user_id")
    val src = new IncrementalSource(snapshot _, "ts", Some("event_id"))
    assert(src.poll().collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    visible = 6 // three more rows arrive with the SAME timestamp
    assert(src.poll().collect().map(_.getLong(0)).toSet === Set(4L, 5L, 6L))
    // plain timestamp mode would have skipped them: watermark == their ts
    val plain = new IncrementalSource(snapshot _, "ts", None)
    plain.poll()
    assert(plain.poll().count() === 0)
  }

  test("the incremental predicate pushes down to the parquet scan") {
    val src = new IncrementalSource(
      () => Tables.orders(spark, sf), "o_orderdate", Some("o_orderkey"))
    src.poll() // advances watermark to table max
    // poll() snapshots (localCheckpoint), so inspect the plan it
    // materializes, not the checkpoint scan it returns
    val plan = src.pendingBatch.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("o_orderdate"))
  }
}
