package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Skew

/** Salted-join laws: result identity with the plain join (inner and
  * left-outer, including unmatched rows), and actual fan-out of the hot
  * key across salt buckets.
  */
class SkewSpec extends AnyFunSuite with LocalSpark {

  test("salted join == plain join on a 90%-hot-key fact table") {
    val ss = spark; import ss.implicits._
    // 9000 rows on the hot key 1, 1000 spread over keys 2..11; dim misses key 11
    val fact = ((1 to 9000).map(i => (1L, i.toLong)) ++
      (1 to 1000).map(i => ((i % 10) + 2L, 100000L + i))).toDF("k", "row_id")
    val dim = (1L to 10L).map(k => (k, s"dim_$k")).toDF("k", "label")

    val plainInner = fact.join(dim, Seq("k"), "inner")
      .collect().map(_.toString).sorted.toSeq
    val saltedInner = Skew.saltedJoin(fact, dim, Seq("k"), $"row_id", 8)
      .select(plainCols: _*).collect().map(_.toString).sorted.toSeq
    assert(saltedInner === plainInner)

    val plainLeft = fact.join(dim, Seq("k"), "left_outer")
      .collect().map(_.toString).sorted.toSeq
    val saltedLeft = Skew.saltedJoin(fact, dim, Seq("k"), $"row_id", 8, "left_outer")
      .select(plainCols: _*).collect().map(_.toString).sorted.toSeq
    assert(saltedLeft === plainLeft) // key 11 rows survive with null label
  }

  private def plainCols = Seq(col("k"), col("row_id"), col("label"))

  test("adaptiveBuckets sizes the fan-out from observed skew; salted result unchanged") {
    val ss = spark; import ss.implicits._
    // 9000 rows on hot key 1 (90%), 1000 spread over keys 2..11
    val fact = ((1 to 9000).map(i => (1L, i.toLong)) ++
      (1 to 1000).map(i => ((i % 10) + 2L, 100000L + i))).toDF("k", "row_id")
    val dim = (1L to 10L).map(k => (k, s"dim_$k")).toDF("k", "label")

    // hottest key ≈ 9000 rows, target 1000/bucket → ≈ 9 buckets (CMS
    // over-estimation can only push it up; cap at 64 not reached)
    val buckets = Skew.adaptiveBuckets(fact, Seq("k"), targetRowsPerBucket = 1000L)
    assert(buckets >= 9 && buckets <= 12, s"got $buckets")

    // hot-key partition shrinks ~buckets×: max per-salt share of the hot
    // key is within 2× of the ideal 9000/buckets
    val salts = fact.filter($"k" === 1L)
      .withColumn("__salt", pmod(hash($"row_id"), lit(buckets)))
      .groupBy($"__salt").count().collect().map(_.getLong(1))
    assert(salts.length === buckets)
    assert(salts.max <= 2L * 9000L / buckets, s"max ${salts.max} for $buckets buckets")

    // and the adaptive join is still row-identical to the plain join
    val (joined, b2) = Skew.saltedJoinAdaptive(
      fact, dim, Seq("k"), $"row_id", targetRowsPerBucket = 1000L)
    assert(b2 === buckets)
    val plain = fact.join(dim, Seq("k"), "inner")
      .collect().map(_.toString).sorted.toSeq
    assert(joined.select(plainCols: _*).collect().map(_.toString).sorted.toSeq === plain)
  }

  test("adaptiveBuckets multi-key estimation keeps adversarial keys distinct") {
    val ss = spark; import ss.implicits._
    // ("a b", "c") and ("a", "b c") concatenate identically under a
    // space separator — a merged estimation key would see one 8000-row
    // hot key and over-split. The NUL separator keeps them distinct:
    // hottest is 4000 rows -> target 1000 => ~4 buckets, not ~8.
    val fact = ((1 to 4000).map(i => ("a b", "c", i.toLong)) ++
      (1 to 4000).map(i => ("a", "b c", 100000L + i)))
      .toDF("k1", "k2", "row_id")
    val buckets = Skew.adaptiveBuckets(fact, Seq("k1", "k2"), targetRowsPerBucket = 1000L)
    assert(buckets >= 4 && buckets <= 5, s"got $buckets")
    assert(buckets < 8, s"adversarial keys merged in estimation: got $buckets")
  }

  test("adaptiveBuckets returns 1 when no key clears the heavy-hitter support") {
    val ss = spark; import ss.implicits._
    // 10k distinct keys, one row each — no candidate above 1% support
    val uniform = (1 to 10000).map(i => (i.toLong, i.toLong)).toDF("k", "row_id")
    assert(Skew.adaptiveBuckets(uniform, Seq("k"), targetRowsPerBucket = 100L) === 1)
  }

  test("AQE skew-join splits the hot partition at runtime (the case manual salting need not cover)") {
    // Skew.saltedJoin's scaladoc claims it is the fallback for what AQE's
    // runtime skew split CANNOT reach (streaming micro-batches, skewed
    // aggs). This pins the complementary half: for a plain batch
    // sort-merge join, AQE alone detects the hot partition and splits it
    // — so at 100 TB the default plan self-heals and the salt is
    // reserved for the genuinely uncovered shapes.
    val ss = spark; import ss.implicits._
    def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
      val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // shrink the detection thresholds to fixture scale: a partition is
      // skewed if > max(threshold, factor x median) — the hot key's
      // partition clears both, the uniform ones clear neither
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      // keep AQE from pre-coalescing everything into one partition,
      // which would hide the skew from the detector
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val fact = ((1 to 80000).map(i => (1L, i.toLong)) ++
        (1 to 4000).map(i => ((i % 40) + 2L, 100000L + i))).toDF("k", "row_id")
      val other = (1L to 41L).flatMap(k => (1 to 50).map(i => (k, k * 1000 + i)))
        .toDF("k", "payload")
      val joined = fact.join(other, Seq("k"))
      // execute THIS QueryExecution (count() would build its own and
      // leave this AdaptiveSparkPlan un-finalized), then read the final
      // adaptive plan off it
      val qe = joined.queryExecution
      val n = qe.toRdd.count()
      assert(n === 80000L * 50 + 4000 * 50)
      val finalPlan = qe.executedPlan.toString
      assert(finalPlan.contains("isFinalPlan=true"), finalPlan.take(1000))
      assert(finalPlan.contains("skew=true"), finalPlan.take(4000))
    }
  }

  test("the hot key actually fans out across salt buckets") {
    val ss = spark; import ss.implicits._
    val fact = (1 to 9000).map(i => (1L, i.toLong)).toDF("k", "row_id")
    val salts = fact
      .withColumn("__salt", pmod(hash($"row_id"), lit(8)))
      .groupBy($"__salt").count().collect()
    assert(salts.length === 8) // every bucket sees a share of the hot key
    assert(salts.map(_.getLong(1)).max < 9000L * 0.25) // no bucket dominates
  }
}
