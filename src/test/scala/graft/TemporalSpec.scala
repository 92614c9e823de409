package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TemporalQueries

/** Semantic laws of the temporal operators (exact fixture values are the
  * DuckDB gate's job).
  */
class TemporalSpec extends AnyFunSuite with LocalSpark {

  private val sf = "/root/testdata/sf0.001"

  override protected def confs = Seq("spark.sql.legacy.parquet.nanosAsLong" -> "true")

  test("as-of: signups match themselves, non-negative lag, nulls only before first signup") {
    val ss = spark; import ss.implicits._
    val out = TemporalQueries.q34AsofEnrich(spark, sf).cache()
    assert(out.count() === Tables.events(spark, sf).count())
    // a signup's latest at-or-before signup is itself (inclusive bound)
    val selfRows = out.filter($"event_type" === "signup")
    assert(selfRows.filter($"signup_event_id" =!= $"event_id").count() === 0)
    assert(selfRows.filter($"us_since_signup" =!= 0).count() === 0)
    // lag is never negative; null lag == null signup id, pairwise
    assert(out.filter($"us_since_signup" < 0).count() === 0)
    assert(out.filter($"signup_event_id".isNull =!= $"us_since_signup".isNull).count() === 0)
    // null only for events strictly before the user's first signup
    val firstSignup = Tables.events(spark, sf)
      .filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min(unix_micros($"ts")).as("first_su"))
    val joined = out
      .join(Tables.events(spark, sf).select($"event_id", unix_micros($"ts").as("ev_us")), "event_id")
      .join(firstSignup, Seq("user_id"), "left")
    assert(joined.filter($"signup_event_id".isNull && $"first_su".isNotNull &&
      $"ev_us" >= $"first_su").count() === 0)
    assert(joined.filter($"signup_event_id".isNotNull && $"first_su".isNotNull &&
      $"ev_us" < $"first_su").count() === 0)
    out.unpersist()
  }

  test("sessions: per-user partition of events, gap-separated, ends = last + gap") {
    val ss = spark; import ss.implicits._
    val gapUs = 6L * 3600 * 1000 * 1000
    val sess = TemporalQueries.q35SessionWindow(spark, sf)
      .collect().groupBy(_.getLong(0))
    val evCount = Tables.events(spark, sf).count()
    assert(sess.values.map(_.map(_.getLong(3)).sum).sum === evCount)
    sess.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      sorted.foreach { r =>
        assert(r.getLong(2) > r.getLong(1))          // end after start
        assert(r.getLong(3) >= 1)                    // non-empty
        assert(r.getLong(2) - r.getLong(1) >= gapUs) // end = last ts + gap >= start + gap
      }
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b.getLong(1) >= a.getLong(2)) // disjoint, ordered
        case _ =>
      }
    }
  }
}
