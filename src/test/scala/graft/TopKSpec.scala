package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TopK

/** Laws of the native top-k-per-key operator: exact equivalence with the
  * window row_number() spelling, and the physical plan the operator
  * exists to produce (two bounded-heap phases around one exchange, no
  * WindowExec, no sort).
  */
class TopKSpec extends AnyFunSuite with LocalSpark {

  private val sf = "/root/testdata/sf0.001"

  override protected def confs = Seq("spark.sql.legacy.parquet.nanosAsLong" -> "true")
  override protected def appName = "topk-spec"

  test("perKey(k) equals the window row_number <= k spelling exactly") {
    val ss = spark; import ss.implicits._
    val ev = Tables.events(spark, sf)
      .select($"event_id", $"user_id", $"ts", $"value")
    val native = TopK.perKey(ev,
        keys = Seq($"user_id"),
        order = Seq($"ts".desc, $"event_id".desc), k = 3)
      .collect().map(_.getLong(0)).sorted
    val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    val windowed = ev.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3).drop("rn")
      .collect().map(_.getLong(0)).sorted
    assert(native.nonEmpty)
    assert(native.toSeq === windowed.toSeq)
  }

  test("k larger than every group returns the whole input") {
    val ss = spark; import ss.implicits._
    val df = Seq((1, "a"), (1, "b"), (2, "c")).toDF("k", "v")
    val out = TopK.perKey(df, Seq($"k"), Seq($"v".asc), k = 10)
      .collect().map(r => (r.getInt(0), r.getString(1))).sorted
    assert(out.toSeq === Seq((1, "a"), (1, "b"), (2, "c")))
  }

  test("SortOrder ties break exactly as a sort would (stable under permutation)") {
    val ss = spark; import ss.implicits._
    // duplicate sort values: tie-break column included in the order makes
    // the result deterministic; permuting input must not change it
    val rows = Seq((1, 5, "x"), (1, 5, "y"), (1, 5, "z"), (1, 7, "w"))
    def run(seq: Seq[(Int, Int, String)]) =
      TopK.perKey(seq.toDF("k", "score", "id"),
          Seq($"k"), Seq($"score".desc, $"id".asc), k = 2)
        .collect().map(r => (r.getInt(1), r.getString(2))).sorted.toSeq
    assert(run(rows) === Seq((5, "x"), (7, "w")))
    assert(run(rows.reverse) === run(rows))
  }

  test("NULL sort values order exactly as the window spelling (NULLS LAST under desc)") {
    val ss = spark; import ss.implicits._
    val df = Seq((1, Some(5), "a"), (1, None, "b"), (1, Some(9), "c"),
        (2, None, "d"), (2, None, "e"))
      .toDF("k", "score", "id")
    val native = TopK.perKey(df, Seq($"k"), Seq($"score".desc, $"id".asc), k = 2)
      .collect().map(r => (r.getInt(0), r.getString(2))).sorted
    val w = Window.partitionBy($"k").orderBy($"score".desc, $"id".asc)
    val windowed = df.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 2).drop("rn")
      .collect().map(r => (r.getInt(0), r.getString(2))).sorted
    assert(native.toSeq === windowed.toSeq)
    assert(native.toSeq === Seq((1, "a"), (1, "c"), (2, "d"), (2, "e")))
  }

  test("physical plan: two TopKPerKeyExec phases, no WindowExec, no SortExec") {
    val ss = spark; import ss.implicits._
    val ev = Tables.events(spark, sf).select($"event_id", $"user_id", $"ts")
    val plan = TopK.perKey(ev, Seq($"user_id"), Seq($"ts".desc), k = 1)
      .queryExecution.executedPlan.toString
    // SparkPlan.nodeName strips the Exec suffix in plan strings
    assert("TopKPerKey".r.findAllIn(plan).length === 2)
    assert(plan.contains("Exchange hashpartitioning(user_id"))
    assert(!plan.contains("WindowExec") && !plan.contains("Window "))
    assert(!plan.toLowerCase.contains("sort "))
  }

  /** Leaf parquet scans' pruned schemas (FileSourceScanExec.requiredSchema
    * is what becomes the scan's ReadSchema — the columns physically read).
    * Recurses through the AQE wrapper, whose current physical plan is not
    * a `children` member.
    */
  private def scanColumns(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scans(p: SparkPlan): Seq[Seq[String]] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case f: FileSourceScanExec => Seq(f.requiredSchema.fieldNames.toSeq)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan)
  }

  test("column pruning: scan below a 2-column TopK.perKey reads only keys ∪ order ∪ projected") {
    val ss = spark; import ss.implicits._
    // events has 6 physical columns; the query needs only 3
    val pruned = graft.operators.TopK
      .perKey(Tables.events(spark, sf), Seq($"user_id"), Seq($"ts".desc), k = 3)
      .select($"user_id", $"value")
    val cols = scanColumns(pruned)
    assert(cols.nonEmpty)
    assert(cols.head.sorted === Seq("ts", "user_id", "value"),
      s"scan not pruned: ${cols.head.mkString(",")}")
    assert(pruned.count() > 0)
    // control: with no projection above, the node is output-preserving and
    // every column is (correctly) still read
    val full = graft.operators.TopK
      .perKey(Tables.events(spark, sf), Seq($"user_id"), Seq($"ts".desc), k = 3)
    assert(scanColumns(full).head.size === 6)
  }

  test("TopK.rankPerKey API equals the window rank spelling on real data") {
    val ss = spark; import ss.implicits._
    val ev = Tables.events(spark, sf)
      // value bucketed to force ties within a user
      .select($"event_id", $"user_id", (floor($"value" / 20) * 20).as("vb"))
    val native = graft.operators.TopK
      .rankPerKey(ev, Seq($"user_id"), Seq($"vb".desc), k = 2)
      .collect().map(_.getLong(0)).sorted
    val w = Window.partitionBy($"user_id").orderBy($"vb".desc)
    val windowed = ev.withColumn("rk", rank().over(w))
      .filter($"rk" <= 2).drop("rk")
      .collect().map(_.getLong(0)).sorted
    assert(native.nonEmpty && native.toSeq === windowed.toSeq)
    val dense = graft.operators.TopK
      .rankPerKey(ev, Seq($"user_id"), Seq($"vb".desc), k = 2, dense = true)
      .collect().map(_.getLong(0)).sorted
    val denseW = ev.withColumn("rk", dense_rank().over(w))
      .filter($"rk" <= 2).drop("rk")
      .collect().map(_.getLong(0)).sorted
    assert(dense.toSeq === denseW.toSeq)
  }

  test("optimizer rule rewrites row_number()<=k + drop(rank) into TopKPerKey") {
    withExtensionsSession("topk-rule-spec") { ext =>
      val ss = ext; import ss.implicits._
      val df = Seq((1, 10, "a"), (1, 20, "b"), (1, 30, "c"), (2, 5, "d"), (2, 9, "e"))
        .toDF("k", "score", "id")
      val w = Window.partitionBy($"k").orderBy($"score".desc, $"id")
      val idiom = df.withColumn("rn", row_number().over(w))
        .filter($"rn" <= 2).drop("rn")
      val plan = idiom.queryExecution.executedPlan.toString
      assert("TopKPerKey".r.findAllIn(plan).length === 2, s"not rewritten:\n$plan")
      assert(!plan.contains("Window"))
      val out = idiom.collect().map(r => (r.getInt(0), r.getString(2))).sorted
      assert(out.toSeq === Seq((1, "b"), (1, "c"), (2, "d"), (2, "e")))
      // control: rank kept in the output -> NOT rewritten (Window stays)
      val kept = df.withColumn("rn", row_number().over(w)).filter($"rn" <= 2)
      assert(kept.queryExecution.executedPlan.toString.contains("Window"))
      assert(kept.collect().length === 4)
    }
  }

  /** The rewrite fired ⟺ the executed plan contains the two top-k phases
    * and no Window node.
    */
  private def assertRewritten(df: org.apache.spark.sql.DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert("TopKPerKey".r.findAllIn(plan).length === 2, s"not rewritten:\n$plan")
    assert(!plan.contains("Window"), s"Window survived:\n$plan")
  }

  test("rule widening: reversed literal, conjunction split, aggregate parent") {
    withExtensionsSession("topk-shapes-spec") { ext =>
      val ss = ext; import ss.implicits._
      val df = Seq((1, 10, "a"), (1, 20, "b"), (1, 30, "c"), (2, 5, "d"), (2, 9, "e"))
        .toDF("k", "score", "id")
      val w = Window.partitionBy($"k").orderBy($"score".desc, $"id")

      // reversed comparison operands: lit(2) >= rn
      val reversed = df.withColumn("rn", row_number().over(w))
        .filter(lit(2) >= $"rn").drop("rn")
      assertRewritten(reversed)
      assert(reversed.collect().map(r => (r.getInt(0), r.getString(2))).sorted.toSeq
        === Seq((1, "b"), (1, "c"), (2, "d"), (2, "e")))

      // conjunction: the rank-free residual stays as a Filter above the top-k
      val conj = df.withColumn("rn", row_number().over(w))
        .filter($"rn" <= 2 && $"score" > 5).drop("rn")
      assertRewritten(conj)
      assert(conj.collect().map(r => (r.getInt(0), r.getString(2))).sorted.toSeq
        === Seq((1, "b"), (1, "c"), (2, "e")))

      // aggregate directly above the filter, rank unreferenced
      val agg = df.withColumn("rn", row_number().over(w))
        .filter($"rn" <= 2)
        .groupBy($"k").agg(count(lit(1)).as("n"))
        .orderBy($"k")
      assertRewritten(agg)
      assert(agg.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
        === Seq((1, 2L), (2, 2L)))
    }
  }

  test("rank()/dense_rank() rewrites keep boundary ties exactly like the window spelling") {
    withExtensionsSession("topk-rank-spec") { ext =>
      val ss = ext; import ss.implicits._
      // tie-heavy: scores (20,20,10,10,10,5) in group 1
      val df = Seq((1, 20, "a"), (1, 20, "b"), (1, 10, "c"), (1, 10, "d"),
          (1, 10, "e"), (1, 5, "f"), (2, 7, "g"), (2, 7, "h"))
        .toDF("k", "score", "id")
      val w = Window.partitionBy($"k").orderBy($"score".desc)

      def viaWindow(fn: org.apache.spark.sql.Column, limit: Int): Seq[(Int, String)] = {
        // expectation via the built-in window path: the rank column is KEPT
        // in the output here, so the rewrite cannot fire and WindowExec
        // computes the reference ranks
        df.withColumn("rk", fn.over(w)).collect()
          .filter(_.getAs[Int]("rk") <= limit)
          .map(r => (r.getAs[Int]("k"), r.getAs[String]("id"))).sorted.toSeq
      }

      val rankIdiom = df.withColumn("rk", rank().over(w))
        .filter($"rk" <= 3).drop("rk")
      assertRewritten(rankIdiom)
      assert(rankIdiom.collect().map(r => (r.getInt(0), r.getString(2))).sorted.toSeq
        === viaWindow(rank(), 3))
      // rank: 20,20 → rank 1,1; 10s → rank 3: all five of group 1 qualify

      val denseIdiom = df.withColumn("rk", dense_rank().over(w))
        .filter($"rk" <= 2).drop("rk")
      assertRewritten(denseIdiom)
      assert(denseIdiom.collect().map(r => (r.getInt(0), r.getString(2))).sorted.toSeq
        === viaWindow(dense_rank(), 2))

      // rank() = 1 keeps ALL tied-best rows — the shape that was unsound
      // to rewrite as row_number and is exact under the ties mode
      val top1 = df.withColumn("rk", rank().over(w))
        .filter($"rk" === 1).drop("rk")
      assertRewritten(top1)
      assert(top1.collect().map(r => (r.getInt(0), r.getString(2))).sorted.toSeq
        === Seq((1, "a"), (1, "b"), (2, "g"), (2, "h")))
    }
  }

  test("column pruning fires through the row_number spelling under GraftExtensions") {
    withExtensionsSession("topk-prune-ext-spec") { ext =>
      val ss = ext; import ss.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts".desc)
      val idiom = Tables.events(ext, sf)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3).drop("rn")
        .select($"user_id", $"value")
      val plan = idiom.queryExecution.executedPlan.toString
      assert("TopKPerKey".r.findAllIn(plan).length === 2, s"not rewritten:\n$plan")
      val cols = scanColumns(idiom)
      assert(cols.nonEmpty && cols.head.sorted === Seq("ts", "user_id", "value"),
        s"scan not pruned: $cols")
      assert(idiom.count() > 0)
    }
  }

  test("strategy is available via GraftExtensions session config too") {
    withExtensionsSession("topk-ext-spec") { ext =>
      val ss = ext; import ss.implicits._
      val df = Seq((1, 2), (1, 1), (2, 9)).toDF("k", "v")
      // go through the bridge API directly: no self-registration path
      val out = org.apache.spark.sql.graftbridge.TopKPerKeyApi
        .topKPerKey(df, Seq($"k"), Seq($"v".asc), 1)
        .collect().map(r => (r.getInt(0), r.getInt(1))).sorted
      assert(out.toSeq === Seq((1, 1), (2, 9)))
    }
  }
}
