package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Runtime Bloom-filter join pruning (`InjectRuntimeFilter`) — the third
  * runtime self-healing mechanism this engine leans on at 100 TB,
  * alongside AQE's skew split (SkewSpec) and bucket pruning
  * (BucketingSpec): when one join side is selective, Spark builds a
  * Bloom filter over its join keys and pushes a `might_contain` filter
  * into the OTHER side's scan, so the fact table drops non-joining rows
  * at the scan instead of shipping them through the shuffle. The
  * default thresholds (10 MB creation side, 10 GB application-side
  * scan) target exactly the cluster scale this engine designs for; the
  * spec shrinks them to fixture scale to pin the mechanism.
  */
class RuntimeFilterSpec extends AnyFunSuite with LocalSpark {

  private val sf = "/root/testdata/sf0.001"

  override protected def confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1") // SMJ, so the filter matters

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a selective dim side injects a might_contain filter into the fact scan") {
    val ss = spark; import ss.implicits._
    def join = Tables.lineitem(spark, sf)
      .join(
        Tables.orders(spark, sf).filter($"o_orderstatus" === "F"),
        $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"o_orderstatus", $"l_extendedprice")
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // fixture-scale thresholds; production keeps the 10MB/10GB defaults
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") {
      val filtered = join
      val plan = filtered.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"), plan.take(2000))
      assert(plan.contains("bloom_filter_agg"), plan.take(2000))
      // the probe lands on the FACT side's key, built from the dim's key
      assert(plan.contains("might_contain") && plan.contains("l_orderkey"), plan.take(2000))
      // pruning must never change the answer
      val a = filtered.collect().map(_.toString).sorted.toSeq
      withConf("spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false") {
        val control = join
        assert(!control.queryExecution.optimizedPlan.toString.contains("might_contain"))
        val b = control.collect().map(_.toString).sorted.toSeq
        assert(a === b && a.nonEmpty)
      }
    }
  }
}
