package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CdcMerge, CdcTable, InstantUnavailableException}

/** CDC lake lifecycle (SURVEY K10/S6/ST9): the `_ro`/`_rt` view contract,
  * compaction, cross-partition key moves, streaming foreachBatch upserts,
  * and the ScalaCheck merge laws (idempotence, last-write-wins,
  * incremental ≡ full merge) SURVEY §5 promised.
  */
class CdcLakeSpec extends AnyFunSuite with LocalSpark {

  // change image: (artist_id, name, nationality, __deleted, __source_ts_ms)
  private def img(rows: (Long, String, String, String, Long)*): DataFrame = {
    val ss = spark; import ss.implicits._
    rows.toDF("artist_id", "name", "nationality", "__deleted", "__source_ts_ms")
  }

  private def rowSet(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def newTable(root: Path = Files.createTempDirectory("cdc_lake")): CdcTable = new CdcTable(
    spark, root.toString,
    keyCols = Seq("artist_id"),
    orderingCols = Seq("__source_ts_ms"),
    partitionCol = "nationality")

  test("ro/rt contract: _ro is stale until compaction, _rt is always current (ipynb cells 7-20)") {
    val t = newTable()
    // seed mirroring the demo's artists (ids 201/266/299 updated, 568 deleted)
    t.bulkInsert(img(
      (201L, "A", "American", "false", 10L),
      (266L, "B", "British", "false", 10L),
      (299L, "C", "Canadian", "false", 10L),
      (568L, "D", "Danish", "false", 10L)))
    t.upsert(img(
      (201L, "A2", "American", "false", 20L),
      (266L, "B2", "British", "false", 20L),
      (299L, "C2", "Canadian", "false", 20L),
      (568L, "D", "Danish", "true", 20L)))

    t.registerViews("artists")
    // _ro: pre-update images
    val ro = spark.sql("SELECT name FROM artists_ro WHERE artist_id IN (201,266,299)")
      .collect().map(_.getString(0)).toSet
    assert(ro === Set("A", "B", "C"))
    // _rt: post-update images + queryable tombstone (rewrite mode)
    val rt = spark.sql("SELECT name FROM artists_rt WHERE artist_id IN (201,266,299)")
      .collect().map(_.getString(0)).toSet
    assert(rt === Set("A2", "B2", "C2"))
    val tomb = spark.sql("SELECT artist_id FROM artists_rt WHERE __deleted = 'true'")
      .collect().map(_.getLong(0)).toSet
    assert(tomb === Set(568L))
    // hard-delete read drops the tombstone
    assert(t.realTime(CdcMerge.Drop).filter(col("artist_id") === 568).count() === 0)

    // compaction folds the log: _ro catches up to _rt
    val before = rowSet(t.realTime())
    t.compact()
    assert(rowSet(t.readOptimized) === before)
    assert(rowSet(t.realTime()) === before)
  }

  test("cross-partition key move collapses to one row (GLOBAL_BLOOM semantics)") {
    val t = newTable()
    t.bulkInsert(img((7L, "X", "American", "false", 10L)))
    t.upsert(img((7L, "X", "French", "false", 20L)))
    val rows = t.realTime().filter(col("artist_id") === 7).collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[String]("nationality") === "French")
    t.compact()
    // after compaction the base holds it under the NEW partition dir only
    val moved = t.readOptimized.filter(col("artist_id") === 7).collect()
    assert(moved.length === 1 && moved.head.getAs[String]("nationality") === "French")
  }

  test("streaming CDC: foreachBatch upserts land in _rt (continuous DeltaStreamer model)") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t = newTable()
    t.bulkInsert(img((1L, "one", "American", "false", 1L)))

    val ms = MemoryStream[(Long, String, String, String, Long)]
    val stream = ms.toDF()
      .toDF("artist_id", "name", "nationality", "__deleted", "__source_ts_ms")
    ms.addData((1L, "one-v2", "American", "false", 5L), (2L, "two", "British", "false", 5L))
    val q = stream.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) => t.upsert(batch) }
      .start()
    q.awaitTermination()

    val rt = t.realTime().select($"artist_id", $"name")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rt === Map(1L -> "one-v2", 2L -> "two"))
  }

  test("additive schema evolution: new column null-back-fills, old-schema batch still merges") {
    val ss = spark; import ss.implicits._
    val t = newTable()
    t.bulkInsert(img(
      (1L, "A", "American", "false", 10L),
      (2L, "B", "British", "false", 10L)))
    // a later DeltaStreamer run evolves the changelog: `genre` appears
    t.upsert(Seq(
        (2L, "B2", "British", "false", 20L, "painting"),
        (3L, "C", "Canadian", "false", 20L, "sculpture"))
      .toDF("artist_id", "name", "nationality", "__deleted", "__source_ts_ms", "genre"))
    val rt = t.realTime()
    assert(rt.columns.contains("genre"))
    val byId = rt.select($"artist_id", $"name", $"genre").collect()
      .map(r => r.getLong(0) -> (r.getString(1), Option(r.getString(2)))).toMap
    // untouched row back-fills null; upserted/inserted rows carry values
    assert(byId === Map(
      1L -> (("A", None)),
      2L -> (("B2", Some("painting"))),
      3L -> (("C", Some("sculpture")))))

    // compaction folds the evolved schema into the base (compare under a
    // FIXED column projection: the hive-partitioned rewrite moves the
    // partition column last, so raw row strings reorder across compact)
    def canon(df: org.apache.spark.sql.DataFrame): Set[String] = rowSet(df.select(
      $"artist_id", $"name", $"nationality", $"__deleted", $"__source_ts_ms", $"genre"))
    val before = canon(t.realTime())
    t.compact()
    assert(t.readOptimized.columns.contains("genre"))
    assert(canon(t.realTime()) === before)

    // a batch still on the OLD schema (no genre) keeps merging: its
    // images read with genre = null — dropped-column tolerance
    t.upsert(img((2L, "B3", "British", "false", 30L)))
    val r2 = t.realTime().filter($"artist_id" === 2L)
      .select($"name", $"genre").head()
    assert(r2.getString(0) === "B3" && r2.isNullAt(1))

    // merge-critical columns (key/ordering/partition) can never be dropped
    intercept[IllegalArgumentException] {
      t.upsert(Seq((9L, "Z")).toDF("artist_id", "name"))
    }
  }

  test("snapshot isolation: a reader plan built before compact() still executes after it") {
    val t = newTable()
    t.bulkInsert(img(
      (1L, "A", "American", "false", 10L),
      (2L, "B", "British", "false", 10L)))
    t.upsert(img((1L, "A2", "American", "false", 20L)))

    // plans built BEFORE compaction: they resolved the (base version,
    // fold point) snapshot at construction and hold immutable files
    val rtBefore = t.realTime(CdcMerge.Drop)
    val roBefore = t.readOptimized
    val expectRt = Set(1L -> "A2", 2L -> "B")
    val expectRo = Set(1L -> "A", 2L -> "B")

    t.compact() // writes base_v2, retires base_v1 + delta (one-cycle grace)

    def ids(df: DataFrame): Set[(Long, String)] =
      df.select(col("artist_id"), col("name")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSet
    // the in-flight snapshots MUST still be fully readable — compaction
    // never unlinks a version a reader may hold
    assert(ids(rtBefore) === expectRt)
    assert(ids(roBefore) === expectRo)
    // and a fresh reader sees the compacted state
    assert(ids(t.readOptimized) === expectRt)

    // the cleaner's retain-one contract: the NEXT table-state change
    // garbage-collects the superseded version, so a snapshot older than
    // one compaction cycle is no longer guaranteed
    t.upsert(img((2L, "B2", "British", "false", 30L)))
    t.compact()
    assert(ids(t.readOptimized) === Set(1L -> "A2", 2L -> "B2"))
    intercept[Exception] { ids(roBefore) } // base_v1 is gone now
  }

  test("single-writer enforcement: a racing same-seq delta commit fails loudly, winner intact") {
    val t = newTable()
    t.bulkInsert(img((1L, "A", "American", "false", 10L)))
    // two writers list the same log state and both allocate seq 1 — the
    // race window upsert()'s seq computation leaves open. Writer A's
    // rename wins; writer B's must throw, NOT silently overwrite A.
    t.commitDelta(img((1L, "A2", "American", "false", 20L)), seq = 1L)
    val e = intercept[IllegalStateException] {
      t.commitDelta(img((1L, "LOST", "American", "false", 30L)), seq = 1L)
    }
    assert(e.getMessage.contains("concurrent writer"))
    // the winner's commit is untouched and fully readable
    val rt = t.realTime().filter(col("artist_id") === 1L).collect()
    assert(rt.length === 1 && rt.head.getAs[String]("name") === "A2")
    // no staging junk leaks into the merge path, and the NEXT honest
    // upsert allocates past the collision and lands cleanly
    t.upsert(img((1L, "A3", "American", "false", 40L)))
    assert(t.realTime().filter(col("artist_id") === 1L)
      .head().getAs[String]("name") === "A3")
  }

  test("timeline reads: incremental pull and as-of snapshots, retention-bounded by name") {
    val t = newTable()
    t.bulkInsert(img(
      (1L, "A", "American", "false", 10L),
      (2L, "B", "British", "false", 10L)))
    t.upsert(img((1L, "A2", "American", "false", 20L)))                // instant 1
    t.upsert(img((2L, "B2", "British", "false", 30L),
                 (3L, "C", "Canadian", "false", 30L)))                 // instant 2
    assert(t.latestCommit === 2L)

    def names(df: DataFrame): Map[Long, String] =
      df.select(col("artist_id"), col("name")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap

    // a consumer checkpointed at instant 1 sees ONLY instant 2's images
    assert(names(t.incremental(1, 2)) === Map(2L -> "B2", 3L -> "C"))
    // a pull spanning commits merges latest-wins across them
    t.upsert(img((3L, "C2", "Canadian", "false", 40L)))                // instant 3
    assert(names(t.incremental(0, 3)) === Map(1L -> "A2", 2L -> "B2", 3L -> "C2"))
    // as-of the newest instant ≡ realTime; as-of 1 excludes later commits
    assert(rowSet(t.asOf(t.latestCommit)) === rowSet(t.realTime()))
    assert(names(t.asOf(1)) === Map(1L -> "A2", 2L -> "B"))

    // delete visibility through the pull: Rewrite keeps the tombstone
    // image (the consumer propagates the delete), Drop hides the key
    t.upsert(img((2L, "B2", "British", "true", 50L)))                  // instant 4
    assert(t.incremental(3, 4).filter(col("__deleted") === "true")
      .count() === 1)
    assert(t.incremental(3, 4, CdcMerge.Drop).count() === 0)

    // instants beyond the timeline are refused by name
    intercept[InstantUnavailableException] { t.asOf(99) }
    intercept[InstantUnavailableException] { t.incremental(0, 99) }

    // retention bound: compaction advances the fold point, so pre-fold
    // as-ofs are refused immediately...
    t.compact() // fold point 4
    intercept[InstantUnavailableException] { t.asOf(3) }
    assert(rowSet(t.asOf(4)) === rowSet(t.realTime()))
    // ...and the NEXT pointer commit lets the retain-one cleaner collect
    // the previously-folded deltas: origin pulls are refused by name,
    // while a consumer whose checkpoint stayed within one compaction
    // cycle keeps reading (the just-folded delta has one cycle of grace)
    t.upsert(img((1L, "A3", "American", "false", 60L)))                // instant 5
    t.compact() // fold point 5; cleaner collects deltas ≤ 4
    val e = intercept[InstantUnavailableException] { t.incremental(0, 5) }
    assert(e.getMessage.contains("cleaner"))
    assert(names(t.incremental(4, 5)) === Map(1L -> "A3"))
  }

  test("bulkInsert reset is a timeline epoch: stale pulls refused by name, no base refused by name (ADVICE r16)") {
    val t = newTable()
    t.bulkInsert(img((1L, "A", "American", "false", 10L)))
    t.upsert(img((1L, "A2", "American", "false", 20L)))                // instant 1
    t.upsert(img((2L, "B", "British", "false", 30L)))                  // instant 2
    // a RESET discards (never folds) instants 1 and 2; their delta dirs
    // get one cleaner cycle of grace, but a pull covering them would
    // read change images the new base never absorbed — refuse by name
    t.bulkInsert(img((1L, "A9", "American", "false", 40L)))
    val e = intercept[InstantUnavailableException] { t.incremental(0, 2) }
    assert(e.getMessage.contains("reset"))
    intercept[InstantUnavailableException] { t.incremental(1, 2) }
    // post-reset commits pull normally from the reset floor
    t.upsert(img((2L, "B9", "British", "false", 50L)))                 // instant 3
    assert(t.incremental(2, 3).select(col("name")).head().getString(0) === "B9")
    // a never-bulkInserted table refuses base reads by name instead of
    // leaking a raw missing-path AnalysisException
    val fresh = newTable()
    intercept[InstantUnavailableException] { fresh.readOptimized }
    intercept[InstantUnavailableException] { fresh.realTime() }
    intercept[InstantUnavailableException] { fresh.asOf(0) }
  }

  test("CdcTable refuses a pointer no writer produces: a forged two-field _meta fails as unparseable") {
    val root = Files.createTempDirectory("cdc_lake")
    val t = newTable(root)
    t.bulkInsert(img((1L, "A", "American", "false", 10L)))
    // every pointer commit writes `version foldPoint epoch`; a pointer
    // missing the epoch must fail by name rather than be read under a
    // guessed epoch
    Files.writeString(root.resolve("_meta"), "1 0")
    val e = intercept[IllegalStateException](t.realTime())
    assert(e.getMessage.contains("pointer") && e.getMessage.contains("unparseable"),
      e.getMessage)
  }

  test("merge laws: idempotence, incremental == full, stale batch cannot regress") {
    val ss = spark; import ss.implicits._
    val rowGen = for {
      k <- Gen.choose(0L, 6L)
      ts <- Gen.choose(0L, 40L)
      v <- Gen.choose(0, 99)
      d <- Gen.oneOf("true", "false")
    } yield (k, ts, v.toString, d)
    val logGen: Gen[Seq[(Long, String, String, String, Long)]] =
      Gen.listOfN(24, rowGen).map(_.zipWithIndex.map { case ((k, ts, v, d), i) =>
        // uid makes the (ts, uid) ordering total, so LWW is well-defined
        (k, v, d, s"n$v", ts * 100 + i)
      }.map { case (k, v, d, n, ord) => (k, n, "American", d, ord) })

    def toDf(rows: Seq[(Long, String, String, String, Long)]): DataFrame =
      rows.toDF("artist_id", "name", "nationality", "__deleted", "__source_ts_ms")
    def merge(df: DataFrame): DataFrame =
      CdcMerge.mergeByKey(Seq("artist_id"), Seq("__source_ts_ms"),
        deleteMode = CdcMerge.Rewrite)(df)
    def merged(df: DataFrame): Set[String] = rowSet(merge(df))

    val prop = Prop.forAll(logGen) { rows =>
      val (a, b) = rows.splitAt(rows.size / 2)
      val full = merged(toDf(rows))
      // idempotence: re-merging the merge (and duplicated input) is a no-op
      val idem = merged(toDf(rows ++ rows)) == full
      // incremental == full: merge(a) upserted with b (the stored rows
      // unioned with the batch, then re-merged) == merge(a ∪ b)
      val incr = merged(merge(toDf(a)).unionByName(toDf(b))) == full
      // stale replay: upserting an old batch after the full merge changes nothing
      val stale = merged(merge(toDf(rows)).unionByName(toDf(a))) == full
      idem && incr && stale
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(result.passed, result.status.toString)
  }
}
