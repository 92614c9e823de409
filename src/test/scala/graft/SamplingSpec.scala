package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sampling

/** Laws for the shared deterministic uniform-hash primitive
  * ([[graft.operators.Sampling]]) that q36/q37/q56/q57 and their DuckDB
  * oracles are all built from: the Spark expression must agree with a
  * straight-line `MessageDigest` reference model, stay inside `[0, 2^60)`
  * / `[0, 1)`, and be a pure function of the VALUE — invariant under
  * repartitioning and re-evaluation (the reshard-stability property the
  * corpus pipeline's split/sample decisions rely on).
  */
class SamplingSpec extends AnyFunSuite with LocalSpark {

  /** Reference model: first 15 hex chars of md5(utf8 bytes) as a long. */
  private def refHash60(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    val hex = d.map(b => f"$b%02x").mkString.take(15)
    java.lang.Long.parseLong(hex, 16)
  }

  test("hash60 equals the MessageDigest reference model") {
    val ss = spark; import ss.implicits._
    val values = (0L until 500L) ++ Seq(Long.MaxValue, 0L, 42L)
    val got = values.toDF("v").select($"v", Sampling.hash60($"v").as("h"))
      .as[(Long, Long)].collect().toMap
    values.foreach { v =>
      assert(got(v) === refHash60(v.toString), s"hash60($v)")
    }
  }

  test("hash60 stays in [0, 2^60) and uniform01 in [0, 1)") {
    val ss = spark; import ss.implicits._
    val stats = (0L until 20000L).toDF("v")
      .select(Sampling.hash60($"v").as("h"), Sampling.uniform01($"v").as("u"))
      .agg(min($"h"), max($"h"), min($"u"), max($"u"), avg($"u"))
      .as[(Long, Long, Double, Double, Double)].head()
    assert(stats._1 >= 0L && stats._2 < Sampling.TwoPow60)
    assert(stats._3 >= 0.0 && stats._4 < 1.0)
    // 20k draws of a uniform hash: mean within 2% of 0.5 (≈10σ margin)
    assert(math.abs(stats._5 - 0.5) < 0.02, s"mean ${stats._5} not uniform")
  }

  test("hash60 is reshard-stable: identical under any repartitioning") {
    val ss = spark; import ss.implicits._
    val base = (0L until 5000L).toDF("v")
    def digest(parts: Int): Long =
      base.repartition(parts, $"v")
        .select(Sampling.hash60($"v").as("h"))
        .agg(sum(hash($"h").cast("long"))).as[Long].head()
    assert(digest(1) === digest(7) && digest(7) === digest(32))
  }

  test("retry determinism: re-executing a kept-set plan, at any partitioning, keeps the SAME rows") {
    val ss = spark; import ss.implicits._
    // the q37/q56 decision shape: keep iff uniform01(id) < rate. At
    // 100 TB this plan's tasks are retried and speculatively duplicated;
    // the engine is allowed to recompute ANY partition at ANY time, so
    // the kept set must be a pure function of row values — never of
    // execution (RNG state, partition index, evaluation order).
    val ids = (0L until 4000L).toDF("doc_id")
    def kept(parts: Int) = ids.repartition(parts, $"doc_id")
      .filter(Sampling.uniform01($"doc_id") < 0.3)
      .select($"doc_id").as[Long].collect().toSet
    val first = kept(32)
    assert(kept(32) === first, "same plan, second execution")  // re-run = retry
    assert(kept(1) === first, "single-partition execution")
    assert(kept(7) === first, "re-sharded execution")
    assert(first.nonEmpty && first.size < 4000)

    // the q57 shape: per-group cap keeping the K smallest hashes — the
    // rank decision must be just as execution-independent as the filter
    val grouped = ids.withColumn("src", ($"doc_id" % 5).cast("string"))
    def capped(parts: Int): Set[(String, Long)] = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"src").orderBy(Sampling.hash60($"doc_id"), $"doc_id")
      grouped.repartition(parts, $"doc_id")
        .withColumn("rk", row_number().over(w)).filter($"rk" <= 20)
        .select($"src", $"doc_id").as[(String, Long)].collect().toSet
    }
    val cap1 = capped(32)
    assert(capped(32) === cap1 && capped(3) === cap1)
    assert(cap1.size === 100) // 5 sources x 20 kept
  }

  test("string and long spellings of the same value hash identically") {
    val ss = spark; import ss.implicits._
    // hash60 casts to string: hashing doc_id (long) and its decimal
    // string must agree, so mixed-typed pipelines make the same decision
    val viaLong = Seq(123456789L).toDF("v").select(Sampling.hash60($"v")).head().getLong(0)
    val viaStr = Seq("123456789").toDF("v").select(Sampling.hash60($"v")).head().getLong(0)
    assert(viaLong === viaStr && viaLong === refHash60("123456789"))
  }
}
