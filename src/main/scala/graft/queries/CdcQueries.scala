package graft.queries

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables
import graft.operators.{CdcMerge, CdcTable}

/** End-to-end CDC lake queries over [[graft.operators.CdcTable]] — the
  * bulk-insert → incremental-upsert → merged-snapshot lifecycle the
  * reference drives with DeltaStreamer (SURVEY K10/S6/ST9).
  *
  * Each step of the lifecycle has ONE spelling here, shared by every
  * gate: [[eventOp]] is the `event_type → __op` mapping (q12's Debezium
  * envelope calls it too), [[changelog]] the events changelog built from
  * it, [[freshTable]] the one `CdcTable` construction (key, ordering and
  * partition columns), [[staged]] a fresh table with third 0
  * bulk-inserted, [[lifecycle]] the two delta commits on top of it
  * (q24, q124, q125 and q126's upstream), [[streamUpserted]] the
  * file-stream upsert drive of q33 and q86 (q86 is q33 run with one
  * injected crash) and [[liveImages]] the `_rt` answer q24, q33, q86 and
  * q126 share. On the oracle side, [[latestImages]] is the one DuckDB
  * latest-image prelude of q12, q24, q124 and q125.
  */
object CdcQueries {

  /** The ONE `event_type → __op` mapping of the events changelog: a
    * signup creates the user's image, an error deletes it, any other
    * event updates it.
    */
  private[queries] def eventOp(eventType: Column): Column =
    when(eventType === "signup", "c")
      .when(eventType === "error", "d")
      .otherwise("u")

  /** The events-derived Debezium rewrite-mode changelog (q12's lineage):
    * one change image per event, delete images kept as
    * `__deleted='true'` rows, ordered by `(__source_ts_ms, event_id)`.
    */
  private def changelog(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val op = eventOp($"event_type")
    Tables.events(s, dir).select(
      $"user_id", $"event_id", $"value",
      op.as("__op"),
      when(op === "d", "true").otherwise("false").as("__deleted"),
      unix_millis($"ts").as("__source_ts_ms"),
      $"event_type")
  }

  /** Third `k` of the changelog, the deterministic `event_id % 3` split:
    * third 0 is the bulk insert, thirds 1 and 2 the two upserts.
    */
  private def third(changelog: DataFrame, k: Int): DataFrame =
    changelog.filter(col("event_id") % 3 === k)

  /** The ONE `CdcTable` of this family (keyed on `user_id`, latest wins by
    * `(__source_ts_ms, event_id)`, stored by `event_type`) at `path`,
    * after wiping it so every run stages a FRESH table (and, for the
    * streaming gates, a fresh checkpoint): a surviving dir would re-seat
    * the timeline (a re-staged bulkInsert's fold point advances past the
    * previous run's deltas, so the timeline gates' absolute instants 1
    * and 2 would not name THESE upserts' commits) or mark incoming-file
    * offsets as already committed.
    */
  private def freshTable(s: SparkSession, path: String): CdcTable = {
    FileUtils.deleteDirectory(new File(path))
    new CdcTable(s, path,
      keyCols = Seq("user_id"),
      orderingCols = Seq("__source_ts_ms", "event_id"),
      partitionCol = "event_type")
  }

  /** The changelog and a fresh table under gate `gate`'s scratch dir with
    * third 0 bulk-inserted as its base — the start every gate shares.
    */
  private def staged(s: SparkSession, dir: String, gate: String): (CdcTable, DataFrame) = {
    val cl = changelog(s, dir)
    val table = freshTable(s, SinkQueries.scratch(gate, dir))
    table.bulkInsert(third(cl, 0))
    (table, cl)
  }

  /** [[staged]] plus thirds 1 and 2 upserted as delta commits 1 and 2 —
    * the batch lifecycle q24 answers from and the timeline-read gates
    * travel over.
    */
  private def lifecycle(s: SparkSession, dir: String, gate: String): CdcTable = {
    val (table, cl) = staged(s, dir, gate)
    table.upsert(third(cl, 1)) // delta commit 1
    table.upsert(third(cl, 2)) // delta commit 2
    table
  }

  /** The `_rt` (real-time, base ∪ log) merged snapshot with hard-delete
    * visibility — the answer of q24 and of every gate that meets q24's
    * oracle (q33, q86, q126).
    */
  private def liveImages(table: CdcTable): DataFrame =
    table.realTime(CdcMerge.Drop)
      .select(col("user_id"), col("event_id"), col("value"), col("__op"))
      .orderBy(col("user_id"))

  /** The ONE latest-image oracle prelude (DuckDB window merge — the flat
    * oracle of a snapshot, pull or merge over the events `where`
    * selects): the latest change image per user, with [[eventOp]]'s
    * mapping and rewrite-mode `__deleted` flags, tombstones kept.
    */
  private[queries] def latestImages(where: String): String =
    s"""SELECT user_id, event_id, value, __op, __deleted FROM (
       |  SELECT user_id, event_id, value,
       |    CASE WHEN event_type='signup' THEN 'c'
       |         WHEN event_type='error'  THEN 'd' ELSE 'u' END AS __op,
       |    CASE WHEN event_type='error' THEN 'true' ELSE 'false' END AS __deleted,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY epoch_ms(CAST(ts AS TIMESTAMP)) DESC, event_id DESC) AS rn
       |  FROM events WHERE $where) t
       |WHERE rn = 1""".stripMargin

  /** q24 — CDC lake upsert lifecycle: the events-derived rewrite-mode
    * changelog (q12's lineage) is split into three deterministic batches;
    * batch 0 bulk-inserts the partitioned base, batches 1 and 2 land as
    * incremental upserts in the log, and the answer is the `_rt`
    * (real-time, base ∪ log) merged snapshot with hard-delete
    * visibility. The storage partition is `event_type`, which CHANGES
    * across a user's events — so the merge must collapse cross-partition
    * key moves (GLOBAL_BLOOM semantics) for the hash to match the
    * oracle's flat window merge over the full changelog.
    */
  def q24CdcLakeUpsert(s: SparkSession, dir: String): DataFrame =
    liveImages(lifecycle(s, dir, "q24"))

  val q24Oracle: String =
    s"""SELECT user_id, event_id, value, __op FROM (${latestImages("true")}) i
       |WHERE __deleted = 'false'
       |ORDER BY user_id""".stripMargin

  /** q33 — q24's lifecycle driven through Structured Streaming: the same
    * changelog thirds, but batches 1 and 2 arrive through a FILE STREAM
    * (the topic-dump stand-in: each third is appended to the incoming
    * directory as one file, and `maxFilesPerTrigger=1` makes each file
    * its own micro-batch) and land via the checkpointed
    * `foreachBatch → CdcTable.upsert` sink — the reference's continuous
    * DeltaStreamer model (`deltastreamer_jobs_bulk.sh --continuous`).
    * The answer is the same `_rt` snapshot, and the ORACLE IS q24's:
    * batch and streaming ingestion of the same changelog must converge
    * to the same table (the merge is micro-batch-boundary-invariant by
    * the CdcMerge laws). Fully distributed end to end — the incoming
    * thirds are written executor-side and re-enter through the real
    * FileStreamSource; no row ever passes through the driver. (The
    * per-third `coalesce(1)` only pins one file = one micro-batch for
    * the gate's determinism; production would stream the real topic.)
    */
  def q33CdcStreamUpsert(s: SparkSession, dir: String): DataFrame =
    liveImages(streamUpserted(s, dir, "q33", crashes = Seq.empty))

  /** q86 — the mid-batch crash applied to the TRANSACTIONAL-TABLE SINK:
    * q33's streaming CDC upsert pipeline, with the `foreachBatch` sink's
    * FIRST attempt of micro-batch 1 crashing AFTER `CdcTable.upsert` has
    * atomically published its delta but BEFORE the engine records the
    * batch commit — the DeltaStreamer production crash shape (process
    * dies between the table commit and the checkpoint acknowledgment).
    * This is a different exactly-once mechanism from the batch-keyed
    * parquet sinks the q70/q72/q76/q82/q83 gates crash: those are
    * idempotent by OVERWRITE (replay rewrites the same batch dir); an
    * append-only upsert log cannot overwrite — the restarted engine
    * replays batch 1 and the sink appends a SECOND delta carrying the
    * same row images. Idempotence here is SEMANTIC: the latest-wins
    * merge (CdcMerge, keyed on (user_id) ordered by (__source_ts_ms,
    * event_id)) collapses bit-identical duplicate images to one row, so
    * the `_rt` snapshot converges to the clean-run table — the
    * Hudi/DeltaStreamer crash-recovery argument, oracle-gated.
    *
    * Non-vacuity is REQUIRED three ways: run 1 must terminate
    * exceptionally with the injected message (the crash provably
    * fired), the log must hold THREE deltas afterwards (batch 0's,
    * batch 1's crashed-but-published attempt, and batch 1's replay —
    * the duplicate delta genuinely landed and the merge genuinely
    * collapsed it), and the final snapshot must meet q24's oracle
    * VERBATIM — a replay that skipped the batch would lose images, a
    * merge that failed to collapse duplicates would emit extra rows.
    */
  def q86CdcStreamUpsertCrash(s: SparkSession, dir: String): DataFrame =
    liveImages(streamUpserted(s, dir, "q86", crashes = Seq(1L)))

  /** The file-stream upsert drive of q33 and q86: a [[staged]] table,
    * thirds 1 and 2 appended to the incoming directory as one file each
    * (the topic-dump stand-in), read back as a file stream whose
    * `maxFilesPerTrigger=1` makes each file its own micro-batch, and
    * landed by the checkpointed `foreachBatch → CdcTable.upsert` sink.
    * Returns the table once a run has drained the stream.
    *
    * `crashes` is the crash schedule: the FIRST attempt of each listed
    * micro-batch throws AFTER its upsert has published the delta but
    * BEFORE the engine records the batch commit, which ends that run.
    * Each scheduled crash must provably fire — the run terminates with
    * the injected message in its cause chain and the marker file exists
    * — and the next run replays from the crashed batch. The run that
    * drains must process at least the batches from the last crash on
    * (both with no crash — the gates' point is per-micro-batch
    * ingestion, so fail loudly if the two incoming files ever collapse
    * into one batch), and the log must hold one delta per micro-batch
    * attempt, crashed ones included: a replayed duplicate genuinely
    * landed, so the merge genuinely collapsed it.
    */
  private def streamUpserted(
      s: SparkSession, dir: String, gate: String, crashes: Seq[Long]): CdcTable = {
    val (table, cl) = staged(s, dir, gate)
    val path = SinkQueries.scratch(gate, dir)
    // the incoming "topic": thirds 1 and 2 appended as one file each
    val incomingDir = s"$path/_incoming"
    Seq(1, 2).foreach(k => third(cl, k).coalesce(1).write.mode("append").parquet(incomingDir))
    def injected(id: Long) = s"$gate injected mid-batch failure (first attempt of batch $id)"
    def marker(id: Long) = Paths.get(path, s"_fail_injected_$id")
    def run() = s.readStream
      .schema(cl.schema)
      .option("maxFilesPerTrigger", "1") // one incoming file = one micro-batch
      .parquet(incomingDir)
      .writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$path/_checkpoint")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // the delta is durably PUBLISHED first: the crash lands between
        // the table commit and the engine's checkpoint acknowledgment
        table.upsert(batch)
        if (crashes.contains(id) && !Files.exists(marker(id))) {
          Files.createFile(marker(id))
          throw new RuntimeException(injected(id))
        }
      }
      .start()
    crashes.foreach { id =>
      val err = try { run().awaitTermination(); None } catch {
        case e: Throwable => Some(e)
      }
      val chain = err.iterator.flatMap(e =>
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).take(10)).toSeq
      require(chain.exists(t => Option(t.getMessage).exists(_.contains(injected(id)))),
        s"$gate run must terminate with the injected mid-batch failure at batch $id, got: " +
          err.fold("clean termination")(_.toString))
      require(Files.exists(marker(id)), s"$gate fault injection at batch $id did not fire")
    }
    val drain = run()
    drain.awaitTermination()
    StreamGateQueries.requireMultiBatch(drain, gate,
      min = (2 - crashes.lastOption.getOrElse(0L)).toInt)
    // delta seqs are dense from 1 on a fresh table, so the newest commit
    // counts the published deltas
    val deltas = 2 + crashes.size
    require(table.latestCommit == deltas,
      s"$gate expects $deltas published deltas (one per micro-batch attempt), got ${table.latestCommit}")
    table
  }

  /** q124 — INCREMENTAL PULL (the Hudi incremental query type; ref
    * `deltastreamer_jobs_cont_bkgd.sh` — a continuously-running
    * DeltaStreamer IS an incremental consumer, and chained Hudi
    * pipelines read each other this way): over q24's staged lifecycle
    * (bulk third 0; thirds 1 and 2 as delta commits 1 and 2), two pulls
    * are unioned under a `pull` tag — `(1, 2]` (a consumer checkpointed
    * at commit 1 sees ONLY commit 2's latest images) and `(0, 2]` (a
    * consumer from the timeline origin sees thirds 1 ∪ 2 merged
    * latest-wins, commit-2 images shadowing commit-1 images of the same
    * key). Rewrite mode keeps delete images as `__deleted='true'` rows —
    * the pull propagates deletes, so the oracle applies NO tombstone
    * filter. Each pull reads only its in-range delta commits — O(changes
    * since checkpoint), never O(table): the base is NEVER scanned, which
    * is the whole point of the read mode at 100 TB.
    */
  def q124CdcIncrementalPull(s: SparkSession, dir: String): DataFrame = {
    val table = lifecycle(s, dir, "q124")
    val until = table.latestCommit // 2: the consumer's next checkpoint
    tagged("pull_1_2", table.incremental(1, until))
      .unionByName(tagged("pull_0_2", table.incremental(0, until)))
      .orderBy(col("pull"), col("user_id"))
  }

  /** A timeline read's change images under a `pull` tag — the rows q124
    * and q125 union and their oracles' [[lifecycleOracle]] arms match.
    */
  private def tagged(tag: String, read: DataFrame): DataFrame =
    read.select(lit(tag).as("pull"),
      col("user_id"), col("event_id"), col("value"), col("__op"), col("__deleted"))

  /** The latest change image per key among the changelog thirds selected
    * by `residues`, tagged `tag` — the flat oracle for a pull or snapshot
    * covering exactly those thirds; a snapshot (`tombstones = false`)
    * hides keys whose latest image is a delete.
    */
  private def lifecycleOracle(tag: String, residues: String, tombstones: Boolean): String =
    s"""SELECT '$tag' AS pull, * FROM (${latestImages(s"event_id % 3 IN ($residues)")}) i""" +
      (if (tombstones) "" else "\nWHERE __deleted = 'false'")

  val q124Oracle: String =
    lifecycleOracle("pull_1_2", "2", tombstones = true) +
      "\nUNION ALL\n" +
      lifecycleOracle("pull_0_2", "1, 2", tombstones = true) +
      "\nORDER BY pull, user_id"

  /** q125 — TIME TRAVEL (the Hudi `as.of.instant` snapshot read): over
    * the same staged lifecycle, the merged table state at instant 1 (the
    * world BEFORE third 2's commit — thirds 0 ∪ 1 merged) and at instant
    * 2 (≡ `realTime`, q24's answer), unioned under an `asof` tag. Drop
    * mode, like q24: a snapshot read hides tombstoned keys. The two
    * snapshots resolve from the SAME live table — no rewind, no copy:
    * the timeline's immutable (base, delta) artifacts make any retained
    * instant reconstructible at read time.
    */
  def q125CdcTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val table = lifecycle(s, dir, "q125")
    tagged("asof_1", table.asOf(1, CdcMerge.Drop))
      .unionByName(tagged("asof_2", table.asOf(2, CdcMerge.Drop)))
      .orderBy(col("pull"), col("user_id"))
  }

  val q125Oracle: String =
    lifecycleOracle("asof_1", "0, 1", tombstones = false) +
      "\nUNION ALL\n" +
      lifecycleOracle("asof_2", "0, 1, 2", tombstones = false) +
      "\nORDER BY pull, user_id"

  /** q126 — the CHAINED INCREMENTAL PIPELINE: a downstream lake table
    * maintained PURELY from the upstream table's timeline reads — seeded
    * with `asOf(0)` (the upstream snapshot at the consumer's start
    * checkpoint) and then advanced one `incremental(ckpt, ckpt+1)` pull
    * per upstream commit, each landed as a downstream upsert. This is
    * the production pattern the read modes exist for (a
    * continuously-running DeltaStreamer is an incremental consumer and
    * multi-hop Hudi lakes chain tables this way — ref
    * `deltastreamer_jobs_cont_bkgd.sh`): each hop moves O(changes) per
    * cycle, never O(table), so a 100 TB upstream costs the downstream
    * only its delta stream.
    *
    * The final pull is then delivered a SECOND time — the at-least-once
    * crash shape (consumer dies between its upsert and its checkpoint
    * write, then replays the pull; q86's crash geometry, here at the
    * pull boundary). Convergence is semantic idempotence: the replayed
    * images are bit-identical, so the latest-wins merge collapses them.
    *
    * The ORACLE IS q24's: a downstream maintained by seeded snapshot +
    * per-commit incremental pulls + a duplicated replay must converge to
    * the upstream's own merged snapshot — the timeline-read analogue of
    * the batch/streaming/crash-replay convergence the q24/q33/q86 trio
    * pins.
    */
  def q126CdcChainedPipeline(s: SparkSession, dir: String): DataFrame = {
    val upstream = lifecycle(s, dir, "q126up")
    val downstream = freshTable(s, SinkQueries.scratch("q126dn", dir))
    downstream.bulkInsert(upstream.asOf(0))
    var ckpt = 0L // the consumer's durable position on the upstream timeline
    while (ckpt < upstream.latestCommit) {
      downstream.upsert(upstream.incremental(ckpt, ckpt + 1))
      ckpt += 1
    }
    // at-least-once replay of the final pull (crash before the
    // checkpoint write): the merge must collapse the duplicate images
    downstream.upsert(upstream.incremental(ckpt - 1, ckpt))
    liveImages(downstream)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q24_cdc_lake_upsert" -> (q24CdcLakeUpsert _),
    "q33_cdc_stream_upsert" -> (q33CdcStreamUpsert _),
    "q86_cdc_stream_upsert_crash" -> (q86CdcStreamUpsertCrash _),
    "q124_cdc_incremental_pull" -> (q124CdcIncrementalPull _),
    "q125_cdc_time_travel" -> (q125CdcTimeTravel _),
    "q126_cdc_chained_pipeline" -> (q126CdcChainedPipeline _))

  val oracles: Map[String, String] = Map(
    "q24_cdc_lake_upsert" -> q24Oracle,
    "q33_cdc_stream_upsert" -> q24Oracle,
    // batch ingestion, streaming ingestion, and CRASHED-AND-REPLAYED
    // streaming ingestion of the same changelog must converge to the
    // same table
    "q86_cdc_stream_upsert_crash" -> q24Oracle,
    "q124_cdc_incremental_pull" -> q124Oracle,
    "q125_cdc_time_travel" -> q125Oracle,
    // a downstream maintained by seeded snapshot + per-commit pulls +
    // a duplicated replay converges to the upstream's merged snapshot
    "q126_cdc_chained_pipeline" -> q24Oracle)
}
