package graft.queries

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.Confs.withConf
import graft.Tables
import graft.streaming.StreamJobs

/** Driver-gated streaming queries: the append-mode watermark path run
  * through the REAL streaming engine (MicroBatchExecution + StateStore),
  * not the batch-plan parity shortcut. q05 pins the window arithmetic in
  * batch; StreamingSpec pins eviction semantics in-process; this gate
  * makes the append path driver-visible — the result is hash-compared
  * against a DuckDB oracle that independently reproduces the
  * watermark-closed-window set.
  */
object StreamGateQueries {

  /** q49 — watermarked sliding-window aggregation under APPEND output
    * mode with `Trigger.AvailableNow` over the events topic dump
    * (ref `05_streaming_read_kafka_console_window.py:77-82` declares
    * exactly this watermark+window pair but runs it in complete mode,
    * where the watermark is inert and state grows forever — SURVEY ST1).
    * Append is the 100 TB path: the StateStore holds only OPEN windows,
    * each window is emitted exactly once when the watermark passes its
    * end, and closed state is evicted. The streaming engine executes the
    * file source in one data micro-batch, advances the watermark to
    * `max(ts) - 10 min` (floored to ms), then runs a no-data batch that
    * flushes every window with `window.end <= watermark` to the parquet
    * sink. The oracle recomputes that exact set: each event lands in its
    * two overlapping 10-minute windows, and only windows whose end is at
    * or before `max(ts) - 10 min` are kept — late-open windows (the last
    * 10 minutes of the stream) stay in state and are correctly absent
    * from both sides.
    *
    * Multi-batch harness ([[stageTimeSplit]]): the dump arrives as ≥ 4
    * time-ordered micro-batches, so open-window state accumulates across
    * batches and the watermark advance CLOSES windows mid-stream, batch
    * by batch — each window still emits exactly once, and the union of
    * per-batch emissions is the same final-watermark-closed set (windows
    * are disjoint per (start, type) and close monotonically), so the
    * oracle is unchanged.
    */
  def q49AppendWindowSales(s: SparkSession, dir: String): DataFrame = withConf(s,
    // events.ts is parquet TIMESTAMP(NANOS) (see Tables.events): the
    // streaming schema declares the nanos long and converts with an
    // integral div — ns-since-epoch exceeds double precision. Scoped:
    // the stream starts (and clones the conf) inside this block.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
    import s.implicits._
    val staged = stageTimeSplit(s, dir, "q49")
    val events = stagedStream(s, staged)
    val out = Files.createTempDirectory("graft-q49-out").toString
    val ck = Files.createTempDirectory("graft-q49-ck").toString
    val query = StreamJobs.slidingWindowSales(events)
      .select(
        date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
        date_format($"window.end", "yyyy-MM-dd HH:mm:ss").as("window_end"),
        $"event_type", $"sales", $"orders")
      .writeStream
      .queryName("q49_append_window_sales")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .format("parquet")
      .start(out)
    query.awaitTermination()
    requireMultiBatch(query, "q49")
    dropStaged(staged)
    s.read.parquet(out).orderBy($"window_start", $"event_type")
  }

  /** q05's oracle restricted to watermark-closed windows: the stream's
    * final watermark is `max(ts) - 10 min` and append emits windows with
    * `end <= watermark`. (Spark floors the watermark to whole
    * milliseconds; window ends are whole seconds, so the ms floor can
    * never flip the comparison and plain interval arithmetic is exact.)
    */
  val q49Oracle: String =
    """SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
      |  strftime(ws + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S') AS window_end,
      |  event_type,
      |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sales,
      |  count(*) AS orders
      |FROM (
      |  SELECT unnest([tb, tb - INTERVAL 5 MINUTE]) AS ws, event_type, value
      |  FROM (SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS tb,
      |               event_type, value FROM events) raw) t,
      |  (SELECT max(CAST(ts AS TIMESTAMP)) AS mx FROM events) m
      |WHERE ws + INTERVAL 10 MINUTE <= mx - INTERVAL 10 MINUTE
      |GROUP BY ws, event_type
      |ORDER BY window_start, event_type""".stripMargin

  /** q52 — watermarked stream–stream interval join through the REAL
    * streaming engine (`StreamingSymmetricHashJoin`), gating
    * [[StreamJobs.streamStreamCorrelate]] (whose state-eviction law lives
    * in StreamingSpec): every `purchase` is correlated with each same-user
    * `click` in the preceding 10 minutes. The reference only ever joins
    * stream-to-static (ref `08_streaming_read_kafka_join_window.py:94`);
    * correlating two live streams is the generalization a 100 TB
    * event pipeline needs (impression→conversion attribution).
    *
    * Harness: both sides stream the SAME staged time-split files
    * ([[stageTimeSplit]], ≥ 4 micro-batches), so unmatched rows are
    * genuinely BUFFERED ACROSS batches and evicted by the advancing
    * watermark. An inner match emits in the purchase's arrival batch —
    * `l_ts ≤ r_ts` and time-ordered files mean the click is already
    * buffered (its eviction horizon `wm − interval` can't have passed a
    * still-matchable click) or co-arrives — so every interval match
    * emits exactly once and the gated result equals the batch interval
    * join, which is exactly the DuckDB oracle.
    * The interval bound (`r_ts ∈ [l_ts, l_ts+10m]`)
    * plus both watermarks is what lets the join compute per-side state
    * watermarks and EVICT buffered rows — bounded state independent of
    * stream length, pinned separately by StreamingSpec's eviction law.
    *
    * Oracle parity: Spark reads the TIMESTAMP(NANOS) parquet as ns longs
    * and truncates to micros; the oracle mirrors by CASTing to DuckDB's
    * µs TIMESTAMP before any comparison, so boundary pairs landing in
    * the same microsecond agree bit-exactly on both sides.
    */
  def q52StreamStreamJoin(s: SparkSession, dir: String): DataFrame = withConf(s,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
    import s.implicits._
    val staged = stageTimeSplit(s, dir, "q52")
    def side(kind: String, p: String): DataFrame = stagedStream(s, staged)
      .filter($"event_type" === kind)
      .select(
        $"event_id".as(s"${p}_id"),
        $"user_id".as(s"${p}_k"),
        $"ts".as(s"${p}_ts"))
    val joined = StreamJobs.streamStreamCorrelate(
      side("click", "l"), side("purchase", "r"),
      window = "10 minutes", delay = "10 minutes")
    val out = Files.createTempDirectory("graft-q52-out").toString
    val ck = Files.createTempDirectory("graft-q52-ck").toString
    val query = joined
      .select(
        $"l_id".as("click_id"), $"r_id".as("purchase_id"),
        $"l_k".as("user_id"),
        date_format($"l_ts", "yyyy-MM-dd HH:mm:ss").as("click_time"),
        date_format($"r_ts", "yyyy-MM-dd HH:mm:ss").as("purchase_time"))
      .writeStream
      .queryName("q52_stream_stream_join")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .format("parquet")
      .start(out)
    query.awaitTermination()
    requireMultiBatch(query, "q52")
    dropStaged(staged)
    s.read.parquet(out).orderBy($"click_id", $"purchase_id")
  }

  val q52Oracle: String =
    """SELECT a.event_id AS click_id, b.event_id AS purchase_id,
      |  a.user_id AS user_id,
      |  strftime(CAST(a.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS click_time,
      |  strftime(CAST(b.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS purchase_time
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
      | AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 10 MINUTE
      |WHERE a.event_type = 'click' AND b.event_type = 'purchase'
      |ORDER BY click_id, purchase_id""".stripMargin

  /** q54 — q52's LEFT-OUTER twin: every click, converted or not. Outer
    * emission timing is the interesting semantics (pinned in-process by
    * StreamingSpec's outer-emission law): an unmatched click emits
    * null-padded only when the watermark proves no purchase can still
    * match, i.e. `l_ts + window <= final watermark`. The global
    * watermark is the MIN over both input watermarks — each side
    * advances to its own `max(side ts) - delay`, so under the
    * AvailableNow harness the final watermark is
    * `least(max click ts, max purchase ts) - delay` (at sf0.001 the
    * click side lags the purchase side by ~4 h and is the binding one).
    * The gated set is: all inner matches, plus null-padded rows exactly
    * for unmatched clicks whose interval closed — later clicks stay
    * withheld in state, correctly absent from both sides. The oracle
    * reproduces that set with a plain LEFT JOIN filtered by the same
    * boundary arithmetic (the q49 pattern lifted to joins).
    */
  def q54StreamStreamLeftOuter(s: SparkSession, dir: String): DataFrame = withConf(s,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
    import s.implicits._
    val staged = stageTimeSplit(s, dir, "q54")
    def side(kind: String, p: String): DataFrame = stagedStream(s, staged)
      .filter($"event_type" === kind)
      .select(
        $"event_id".as(s"${p}_id"),
        $"user_id".as(s"${p}_k"),
        $"ts".as(s"${p}_ts"))
    val joined = StreamJobs.streamStreamCorrelate(
      side("click", "l"), side("purchase", "r"),
      window = "10 minutes", delay = "10 minutes", joinType = "left_outer")
    val out = Files.createTempDirectory("graft-q54-out").toString
    val ck = Files.createTempDirectory("graft-q54-ck").toString
    val query = joined
      .select(
        $"l_id".as("click_id"), $"r_id".as("purchase_id"),
        $"l_k".as("user_id"),
        date_format($"l_ts", "yyyy-MM-dd HH:mm:ss").as("click_time"))
      .writeStream
      .queryName("q54_stream_stream_left_outer")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .format("parquet")
      .start(out)
    query.awaitTermination()
    requireMultiBatch(query, "q54")
    dropStaged(staged)
    s.read.parquet(out).orderBy($"click_id", $"purchase_id")
  }

  /** Matched rows always emit; null-padded rows only for clicks whose
    * interval is closed by the final GLOBAL watermark — the min of the
    * two per-side watermarks, `least(max click, max purchase) - 10 min`.
    */
  val q54Oracle: String =
    """SELECT a.event_id AS click_id, b.event_id AS purchase_id,
      |  a.user_id AS user_id,
      |  strftime(CAST(a.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS click_time
      |FROM (SELECT * FROM events WHERE event_type = 'click') a
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      |  ON a.user_id = b.user_id
      | AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
      | AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 10 MINUTE,
      |  (SELECT least(
      |     max(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END),
      |     max(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END))
      |     AS wm_base FROM events) m
      |WHERE b.event_id IS NOT NULL
      |   OR CAST(a.ts AS TIMESTAMP) + INTERVAL 10 MINUTE
      |      <= m.wm_base - INTERVAL 10 MINUTE
      |ORDER BY click_id, purchase_id""".stripMargin

  /** q55 — the FULL-outer stream–stream interval join: every click and
    * every purchase, matched where possible. Pins BOTH eviction
    * boundaries at once (q54 pins only the left's): an unmatched click
    * emits null-padded when `l_ts + window <= watermark` (no future
    * purchase can land inside its interval), an unmatched purchase when
    * `r_ts <= watermark` (any future click would carry `l_ts >
    * watermark > r_ts` and the join needs `r_ts >= l_ts`). Watermark =
    * min of the per-side watermarks, as q54 established. Output order
    * coalesces the nullable ids (Spark sorts NULLS FIRST, DuckDB NULLS
    * LAST — never ORDER BY a nullable column in a gate).
    */
  def q55StreamStreamFullOuter(s: SparkSession, dir: String): DataFrame = withConf(s,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
    import s.implicits._
    val staged = stageTimeSplit(s, dir, "q55")
    def side(kind: String, p: String): DataFrame = stagedStream(s, staged)
      .filter($"event_type" === kind)
      .select(
        $"event_id".as(s"${p}_id"),
        $"user_id".as(s"${p}_k"),
        $"ts".as(s"${p}_ts"))
    val joined = StreamJobs.streamStreamCorrelate(
      side("click", "l"), side("purchase", "r"),
      window = "10 minutes", delay = "10 minutes", joinType = "full_outer")
    val out = Files.createTempDirectory("graft-q55-out").toString
    val ck = Files.createTempDirectory("graft-q55-ck").toString
    val query = joined
      .select(
        $"l_id".as("click_id"), $"r_id".as("purchase_id"),
        coalesce($"l_k", $"r_k").as("user_id"))
      .writeStream
      .queryName("q55_stream_stream_full_outer")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .format("parquet")
      .start(out)
    query.awaitTermination()
    requireMultiBatch(query, "q55")
    dropStaged(staged)
    s.read.parquet(out)
      .orderBy(coalesce($"click_id", lit(-1L)), coalesce($"purchase_id", lit(-1L)))
  }

  val q55Oracle: String =
    """SELECT a.event_id AS click_id, b.event_id AS purchase_id,
      |  coalesce(a.user_id, b.user_id) AS user_id
      |FROM (SELECT * FROM events WHERE event_type = 'click') a
      |FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      |  ON a.user_id = b.user_id
      | AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
      | AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 10 MINUTE,
      |  (SELECT least(
      |     max(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END),
      |     max(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END))
      |     AS wm_base FROM events) m
      |WHERE (a.event_id IS NOT NULL AND b.event_id IS NOT NULL)
      |   OR (b.event_id IS NULL
      |       AND CAST(a.ts AS TIMESTAMP) + INTERVAL 10 MINUTE
      |           <= m.wm_base - INTERVAL 10 MINUTE)
      |   OR (a.event_id IS NULL
      |       AND CAST(b.ts AS TIMESTAMP) <= m.wm_base - INTERVAL 10 MINUTE)
      |ORDER BY coalesce(click_id, -1), coalesce(purchase_id, -1)""".stripMargin

  /** The events topic-dump schema shared by every gate here — staged
    * files carry ts already normalized to TimestampType (µs, UTC) by
    * [[stageTimeSplit]], whatever spelling the source dump used.
    */
  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Staged source dirs not yet cleaned by [[dropStaged]] — the shutdown
    * hook is only the CRASH backstop (a gate that throws before its own
    * cleanup): each dir holds a full copy of the SF's events dump, and a
    * 16-gate sweep that deferred all cleanup to JVM exit would hold ~17
    * dump copies on disk simultaneously mid-sweep.
    */
  private val stagedDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  locally {
    sys.addShutdownHook {
      stagedDirs.asScala.foreach(p => try deleteTree(p) catch { case _: Throwable => () })
    }
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally st.close()
    }

  /** Delete a gate's staged source dir(s) NOW: once the streaming query
    * has terminated the source files have all been read, and the gate's
    * read-back DataFrame scans only the SINK dir — so the dump copy is
    * dead weight for the rest of the sweep (ADVICE r9). Best-effort: a
    * cleanup IO error must not fail a gate whose run and read-back
    * already succeeded — the dir stays queued for the shutdown hook.
    */
  private def dropStaged(paths: String*): Unit = paths.foreach { p =>
    val path = Paths.get(p)
    try {
      deleteTree(path)
      stagedDirs.remove(path)
    } catch { case _: java.io.IOException => () }
  }

  /** Stage the events topic dump as `n` TIME-ORDERED, NON-OVERLAPPING
    * parquet files under a fresh directory, named and modification-stamped
    * in ascending event-time order so `FileStreamSource` +
    * `maxFilesPerTrigger=1` delivers them oldest-first, ONE FILE PER
    * MICRO-BATCH — q33's trickle harness (and the reference's drip
    * producer, `04_incremental_sales_kafka.py:17,91`) lifted to the
    * stateful gates, so cross-batch state accumulation and per-batch
    * watermark advance are exercised under the SAME oracles.
    *
    * Splitting at `approxQuantile` boundaries of the sort key keeps every
    * split non-empty (≥ n data micro-batches at every SF — enforced by
    * the one-file-per-slice `require` below: an empty slice yields no
    * file and fails loudly) and non-overlapping in event time, which is
    * the invariant the oracles lean on: slice assignment is monotone in
    * the sort key (1 + #cuts strictly below), so a later file can never
    * deliver a row at or below the watermark established by an earlier
    * one, nothing is late-dropped, and the final emitted set is decided
    * by the FINAL watermark alone — batch-layout-invariant. The quantile
    * probe is one map-side pass (Greenwald-Khanna partial aggregation);
    * the global one-partition `ntile` sort it replaces was the sweep's
    * wall-clock/memory hotspot at larger SFs (ADVICE r9).
    */
  private def stageTimeSplit(
      s: SparkSession, dir: String, tag: String, n: Int = 4,
      jitterMinutes: Int = 0): String = {
    import s.implicits._
    val staged = Files.createTempDirectory(s"graft-$tag-src")
    // jitterMinutes > 0 staggers the split: each event's FILE assignment
    // is decided by `ts − (event_id % 3) · jitter`, so consecutive files
    // OVERLAP by up to 2·jitter of event time and the stream arrives
    // genuinely OUT OF ORDER — but an event in file k+1 still carries
    // `ts ≥ maxSortKey(file k) ≥ max ts(files ≤ k) − 2·jitter`, so as
    // long as 2·jitter < the watermark delay nothing is ever dropped:
    // the real production shape (disorder bounded by the tolerance),
    // with the same watermark-determined result set
    // sort key in epoch-µs long space (exact in a double up to ~2255:
    // µs-since-epoch ~1.7e15 < 2^53); staged files carry ts already
    // normalized to TimestampType, so every downstream reader — the
    // file stream, phase-2 read-backs — is spelling-free
    val jitterUs = jitterMinutes * 60L * 1000000L
    val tsUs = unix_micros($"ts")
    val sortKey =
      if (jitterMinutes == 0) tsUs
      else tsUs - ($"event_id" % 3) * lit(jitterUs)
    // ONE shuffle-free slicing pass: quantile cuts are compared in double
    // space on both sides (a consistent cast yields a monotone,
    // deterministic assignment — slices only need to be non-overlapping
    // and non-empty); hash-distributing on _slice then sends each slice
    // to exactly one task, and partitionBy peels the column off, so each
    // _slice=<i> dir holds exactly one data file of event columns
    val src = Tables.normalizeTs(
        s.read.option("basePath", dir).parquet(s"$dir/events*.parquet"))
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
      .withColumn("_k", sortKey.cast("double"))
    sliceByKey(staged, tag, src, n, filePrefix = "events")
    staged.toString
  }

  /** The shared quantile slicer behind [[stageTimeSplit]] (events, keyed
    * by event time) and [[stageDocSplit]] (documents, keyed by doc_id):
    * splits `src` — which must carry a `_k` double sort-key column — at
    * `approxQuantile` boundaries into `n` non-empty, non-overlapping,
    * key-ordered files under `staged`, named and modification-stamped
    * ascending so `FileStreamSource` + `maxFilesPerTrigger=1` delivers
    * them in key order, one file per micro-batch.
    */
  private def sliceByKey(
      staged: java.nio.file.Path, tag: String, src: DataFrame, n: Int,
      filePrefix: String): Unit = {
    import src.sparkSession.implicits._
    val scratch = Files.createTempDirectory(s"graft-$tag-part")
    val cuts = src.stat.approxQuantile(
      "_k", (1 until n).map(_.toDouble / n).toArray, 0.001)
    // coinciding cuts (a sort key where one value holds > 1/n of the
    // mass) would yield an empty slice and a confusing one-file require
    // failure downstream — name the real cause instead
    require(cuts.distinct.length == cuts.length,
      s"$tag: $filePrefix sort key too skewed for an $n-way split (duplicate quantile cuts)")
    // distinct cuts still leave the TOP slice empty when the highest cut
    // equals the dataset max (skewed tail): require a row strictly above
    // the last cut — one extra agg on the already-computed _k column
    val kMax = src.agg(max($"_k")).head.getDouble(0)
    require(kMax > cuts.last,
      s"$tag: $filePrefix sort key too skewed for an $n-way split " +
        s"(top slice empty: max sort key $kMax ≤ top cut ${cuts.last})")
    val slice = cuts.foldLeft(lit(1)) { (acc, c) =>
      acc + when($"_k" > c, 1).otherwise(0) }
    writeSlices(staged, scratch, src.withColumn("_slice", slice).drop("_k"),
      n, filePrefix)
  }

  /** The shared one-file-per-slice writer behind [[sliceByKey]] and
    * [[stageDocHashSplit]]: `src` must carry an int `_slice` column in
    * 1..n; each slice lands as exactly one parquet file, named and
    * modification-stamped ascending so `FileStreamSource` +
    * `maxFilesPerTrigger=1` delivers slice i as micro-batch i−1. An
    * empty slice is a loud failure by default; `allowEmpty` (the soak
    * gate's long-thin staging — 50 hash groups over a few hundred docs
    * make the occasional empty group a certainty, not a bug) writes a
    * schema-only parquet file instead, which the file source still
    * delivers as a zero-row micro-batch, keeping slice i = batch i−1.
    */
  private[graft] def writeSlices(
      staged: java.nio.file.Path, scratch: java.nio.file.Path,
      src: DataFrame, n: Int, filePrefix: String,
      allowEmpty: Boolean = false): Unit = {
    import src.sparkSession.implicits._
    src.repartition(n, $"_slice")
      .write.mode("overwrite").partitionBy("_slice").parquet(scratch.toString)
    // schema-only template for empty slices, written once on demand —
    // same column set the partitioned write produces (no _slice)
    lazy val emptyTemplate: java.nio.file.Path = {
      val tDir = scratch.resolve("_empty_template")
      src.drop("_slice").limit(0).coalesce(1)
        .write.mode("overwrite").parquet(tDir.toString)
      tDir.toFile.listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
        .head.toPath
    }
    (1 to n).foreach { i =>
      val sliceDir = scratch.resolve(s"_slice=$i").toFile
      val parts = Option(sliceDir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      require(parts.length == 1 || (parts.isEmpty && allowEmpty),
        s"slice $i must be exactly one file, got ${parts.length}")
      val dst = staged.resolve(f"$filePrefix-$i%04d.parquet")
      if (parts.length == 1) Files.move(parts.head.toPath, dst)
      else Files.copy(emptyTemplate, dst)
      // deterministic strictly-increasing mod times: FileStreamSource
      // orders new files by timestamp, so file i IS micro-batch i
      Files.setLastModifiedTime(dst, FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    deleteTree(scratch) // only empty _slice dirs + _SUCCESS remain
    stagedDirs.add(staged)
  }

  /** Stage q73's INCOMING document batch (the content-hash uniform split
    * `u < 0.3` — [[graft.operators.Sampling]], reshard/retry-stable) as
    * `n` doc_id-ordered files, one per micro-batch: the arriving-batch
    * trickle for the streaming ingest-admission gate (q84). Only
    * (doc_id, text) is staged — fingerprints are computed IN the stream,
    * map-side, which is where an ingest pipeline computes them.
    */
  private def stageDocSplit(
      s: SparkSession, dir: String, tag: String, n: Int = 4): String = {
    import s.implicits._
    val staged = Files.createTempDirectory(s"graft-$tag-src")
    val src = Tables.documents(s, dir)
      .filter(graft.operators.Sampling.uniform01($"doc_id") < 0.3)
      .select($"doc_id", $"text")
      .withColumn("_k", $"doc_id".cast("double"))
    sliceByKey(staged, tag, src, n, filePrefix = "docs")
    staged.toString
  }

  /** q108's event-time geometry as a column over an id and the staged
    * `_slice` (1-based): batch k's events live in
    * `[T0 + (k−1)·step, T0 + (k−1)·step + jmax]` with a content-hash
    * jitter — data-derived max-events and watermarks, never degenerate
    * constants, and `step > 2·jmax` keeps the watermark-window
    * arithmetic batch-exact (the window law). The ONE spelling shared
    * by the doc and vector stagings and StreamBench's wmfold fixture.
    */
  private[graft] def wmEventTs(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    timestamp_millis(lit(WmT0) +
      (col("_slice") - 1).cast("long") * WmStepMs +
      graft.operators.Sampling.hash60(
        concat(lit("t"), id.cast("string"))) % (WmJitterMax + 1))

  /** Stage the incoming documents (the content-hash split `u < 0.3`) as
    * `n` HASH-GROUP files — doc → micro-batch `hash60('g' || doc_id) % n`
    * — for the streamed NEAR-dup fold gates (q96/q97). Unlike
    * [[stageDocSplit]]'s quantile slicing (whose `approxQuantile` cuts
    * no SQL engine reproduces), the hash assignment is itself
    * oracle-expressible, which the near-dup gates REQUIRE: the fuzzy
    * fold recurrence is batch-layout-dependent (q91's scaladoc), so its
    * oracle must pin the exact layout. The salt `'g'` decorrelates the
    * batch assignment from the `u` corpus split (different md5 input).
    */
  private def stageDocHashSplit(
      s: SparkSession, dir: String, tag: String, n: Int,
      eventTs: Boolean = false, allowEmpty: Boolean = false): String = {
    import s.implicits._
    val staged = Files.createTempDirectory(s"graft-$tag-src")
    val scratch = Files.createTempDirectory(s"graft-$tag-part")
    val grp = graft.operators.Sampling.hash60(
      concat(lit("g"), $"doc_id".cast("string"))) % n
    val base = Tables.documents(s, dir)
      .filter(graft.operators.Sampling.uniform01($"doc_id") < 0.3)
      .select($"doc_id", $"text")
      .withColumn("_slice", (grp + 1).cast("int"))
    // eventTs (q108): a REAL event-time column, deterministic per doc —
    // batch k's events live in [T0 + (k−1)·step, T0 + (k−1)·step + jmax]
    // (a content-hash jitter inside each batch, so max-event and
    // watermark values are data-derived, not degenerate constants). The
    // jitter is strictly inside the step (step > 2·jmax), which is what
    // makes the watermark-window arithmetic batch-exact — see
    // [[q108WatermarkExpiringFold]]'s window law.
    val src = if (!eventTs) base
      else base.withColumn("event_ts", wmEventTs($"doc_id"))
    writeSlices(staged, scratch, src, n, filePrefix = "docs",
      allowEmpty = allowEmpty)
    staged.toString
  }

  /** File-stream over a staged time-split dir: one file per micro-batch
    * (staged ts is already TimestampType — see [[stageTimeSplit]]).
    */
  private def stagedStream(s: SparkSession, staged: String): DataFrame =
    s.readStream
      .schema(eventsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)

  /** A multi-batch gate must actually exercise cross-batch state: require
    * ≥ 3 micro-batches WITH INPUT ROWS in the executed query's progress
    * (a regression to single-batch delivery fails the gate loudly, not by
    * silently weakening what it proves).
    */
  private[queries] def requireMultiBatch(
      query: StreamingQuery, name: String, min: Int = 3): Unit = {
    val dataBatches = query.recentProgress.count(_.numInputRows > 0)
    require(dataBatches >= min,
      s"$name must process >= $min data micro-batches, got $dataBatches")
  }

  /** q58 — custom-state streaming sessionization through the REAL engine
    * (`FlatMapGroupsWithStateExec` + event-time timeout), gating
    * [[StreamJobs.sessionize]] — the one stateful operator whose
    * streaming path previously met only an in-process law (StreamingSpec;
    * the gated q35 covers batch `session_window`, a different code path).
    *
    * Emission model under the MULTI-BATCH harness (events staged as ≥ 4
    * time-ordered files, one per micro-batch — [[stageTimeSplit]]): a
    * user's session EXTENDS ACROSS BATCHES through its state row; a
    * session closed by an in-batch gap emits in that batch; and the
    * per-batch watermark advance can fire a session's timeout MID-STREAM.
    * All three paths land on the batch gaps-and-islands split because the
    * staged files don't overlap in time: a timeout fires only when
    * `last + gap < wm ≤ max(delivered ts) − delay`, and every later event
    * for that user carries `ts > wm > last + gap` — so a mid-stream
    * timer close IS an island boundary, and conversely a continuing
    * session (`ts' − last ≤ gap`) can never see its timer fire first
    * (that would need `ts' ≤ last + gap < wm`, i.e. a late row, which
    * time-ordered files exclude). After the last file the watermark
    * reaches `max(ts) − 10 min` (ms-floored) and the no-data batch fires
    * remaining timeouts STRICTLY below it (Spark evicts on
    * `timeoutTimestamp < watermark`), closing final sessions with
    * `last + gap < watermark`; later final sessions stay open in state,
    * correctly absent from both sides. The oracle reproduces exactly
    * that set with gaps-and-islands SQL: every non-final island, plus
    * final islands whose timeout the watermark passed — the result is
    * batch-layout-invariant, and the gate requires ≥ 3 data micro-batches
    * so the cross-batch paths are actually taken.
    *
    * Precision: [[StreamJobs.UserSession]] bounds are `java.sql.Timestamp`
    * built from `getTime` (whole ms), and the timeout clock is ms too, so
    * the oracle works entirely in `epoch_ms` — the same ns→µs→ms floor on
    * both sides.
    */
  def q58StreamingSessionize(s: SparkSession, dir: String): DataFrame = withConf(s,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
    import s.implicits._
    val staged = stageTimeSplit(s, dir, "q58")
    val events = stagedStream(s, staged)
      .select($"user_id", $"ts", $"value")
      .withWatermark("ts", "10 minutes")
    val sessions = StreamJobs.sessionize(events, gapMinutes = 360)
    val out = Files.createTempDirectory("graft-q58-out").toString
    val ck = Files.createTempDirectory("graft-q58-ck").toString
    val query = sessions.toDF()
      .select($"user_id",
        unix_millis($"session_start").as("session_start_ms"),
        unix_millis($"session_end").as("session_end_ms"),
        $"events".as("n_events"))
      .writeStream
      .queryName("q58_streaming_sessionize")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .format("parquet")
      .start(out)
    query.awaitTermination()
    requireMultiBatch(query, "q58")
    dropStaged(staged)
    s.read.parquet(out).orderBy($"user_id", $"session_start_ms")
  }

  private val GapMs = 360L * 60000    // 6-hour session gap
  private val DelayMs = 10L * 60000   // watermark delay

  val q58Oracle: String =
    s"""WITH e AS (
      |  SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms FROM events),
      |m AS (
      |  SELECT user_id, ms,
      |    CASE WHEN lag(ms) OVER w IS NULL
      |           OR ms - lag(ms) OVER w > $GapMs THEN 1 ELSE 0 END AS brk
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
      |sess AS (
      |  SELECT user_id, ms,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY ms
      |                   ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM m),
      |g AS (
      |  SELECT user_id, sid,
      |    min(ms) AS session_start_ms, max(ms) AS session_end_ms,
      |    count(*) AS n_events,
      |    max(sid) OVER (PARTITION BY user_id) AS last_sid
      |  FROM sess GROUP BY user_id, sid),
      |w AS (SELECT max(epoch_ms(CAST(ts AS TIMESTAMP))) - $DelayMs AS wm FROM events)
      |SELECT user_id, session_start_ms, session_end_ms, n_events
      |FROM g, w
      |WHERE sid < last_sid OR session_end_ms + $GapMs < wm
      |ORDER BY user_id, session_start_ms""".stripMargin

  /** q62 — q58's sessionization re-run through Spark 4's arbitrary-state
    * v2 engine path: `transformWithState` (`TransformWithStateExec`,
    * explicit event-time timers) on the RocksDB state store provider —
    * the memory-bounded, changelog-checkpointed backend a 100 TB
    * deployment would run, and the provider TWS requires. Same oracle as
    * q58: two independent state APIs and two state backends must land on
    * byte-identical session sets, or one of them is wrong. Expired-timer
    * semantics pinned in passing: TWS timers fire strictly below the
    * eviction watermark, matching `GroupStateTimeout`'s boundary. Runs
    * q58's multi-batch harness too, so explicit-timer state survives
    * REAL RocksDB commit/load cycles between micro-batches (q58's
    * scaladoc carries the layout-invariance argument).
    */
  def q62SessionizeTws(s: SparkSession, dir: String): DataFrame = withConf(s,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
    import s.implicits._
    val staged = stageTimeSplit(s, dir, "q62")
    val events = stagedStream(s, staged)
      .select($"user_id", $"ts", $"value")
      .withWatermark("ts", "10 minutes")
    val sessions = StreamJobs.sessionizeTws(events, gapMinutes = 360)
    val out = Files.createTempDirectory("graft-q62-out").toString
    val ck = Files.createTempDirectory("graft-q62-ck").toString
    val query = sessions.toDF()
      .select($"user_id",
        unix_millis($"session_start").as("session_start_ms"),
        unix_millis($"session_end").as("session_end_ms"),
        $"events".as("n_events"))
      .writeStream
      .queryName("q62_sessionize_tws")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .format("parquet")
      .start(out)
    query.awaitTermination()
    requireMultiBatch(query, "q62")
    dropStaged(staged)
    s.read.parquet(out).orderBy($"user_id", $"session_start_ms")
  }

  /** q59 — the RIGHT-outer stream–stream interval join, completing the
    * join-mode quartet (inner q52, left q54, full q55): every purchase,
    * attributed or not. An unmatched purchase emits null-padded when
    * `r_ts <= watermark` — any future click carries `l_ts > watermark ≥
    * r_ts` and the join needs `r_ts >= l_ts`, so no partner can still
    * arrive (the boundary q55 pinned on its right side, now isolated).
    * Watermark = min of the per-side watermarks, as q54 established.
    */
  def q59StreamStreamRightOuter(s: SparkSession, dir: String): DataFrame = withConf(s,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
    import s.implicits._
    val staged = stageTimeSplit(s, dir, "q59")
    def side(kind: String, p: String): DataFrame = stagedStream(s, staged)
      .filter($"event_type" === kind)
      .select(
        $"event_id".as(s"${p}_id"),
        $"user_id".as(s"${p}_k"),
        $"ts".as(s"${p}_ts"))
    val joined = StreamJobs.streamStreamCorrelate(
      side("click", "l"), side("purchase", "r"),
      window = "10 minutes", delay = "10 minutes", joinType = "right_outer")
    val out = Files.createTempDirectory("graft-q59-out").toString
    val ck = Files.createTempDirectory("graft-q59-ck").toString
    val query = joined
      .select(
        $"l_id".as("click_id"), $"r_id".as("purchase_id"),
        $"r_k".as("user_id"),
        date_format($"r_ts", "yyyy-MM-dd HH:mm:ss").as("purchase_time"))
      .writeStream
      .queryName("q59_stream_stream_right_outer")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .format("parquet")
      .start(out)
    query.awaitTermination()
    requireMultiBatch(query, "q59")
    dropStaged(staged)
    s.read.parquet(out)
      .orderBy(coalesce($"click_id", lit(-1L)), $"purchase_id")
  }

  /** Matched rows always emit; null-padded rows only for purchases at or
    * below the final global watermark (q55's right-side clause, mirrored
    * from q54's left-side one).
    */
  val q59Oracle: String =
    """SELECT a.event_id AS click_id, b.event_id AS purchase_id,
      |  b.user_id AS user_id,
      |  strftime(CAST(b.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS purchase_time
      |FROM (SELECT * FROM events WHERE event_type = 'click') a
      |RIGHT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      |  ON a.user_id = b.user_id
      | AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
      | AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 10 MINUTE,
      |  (SELECT least(
      |     max(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END),
      |     max(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END))
      |     AS wm_base FROM events) m
      |WHERE a.event_id IS NOT NULL
      |   OR CAST(b.ts AS TIMESTAMP) <= m.wm_base - INTERVAL 10 MINUTE
      |ORDER BY coalesce(click_id, -1), purchase_id""".stripMargin

  /** q60 — CHAINED stateful operators in one streaming query: the q52
    * interval join feeding a tumbling-window aggregation, the shape of
    * every real attribution pipeline (correlate impression→conversion,
    * then aggregate conversions per window) and the composition nothing
    * previously exercised. Spark 3.4+ supports this in append mode via
    * per-operator watermark propagation: the join's OUTPUT watermark is
    * the min of its per-side state-eviction watermarks — here the left
    * side may buffer rows back to `wm − 10 min`, so the downstream agg
    * sees `wm − 10 min` and closes windows with
    * `end <= least(max click, max purchase) − 10 min − 10 min`. The
    * oracle reproduces that boundary; the gate additionally requires the
    * runtime to report BOTH stateful operators (symmetric hash join +
    * streaming agg) in the executed query's progress.
    *
    * Multi-batch harness: both sides stream the SAME staged time-split
    * files ([[stageTimeSplit]]), each side paced to one file per
    * micro-batch, so join state (buffered unmatched rows) and agg state
    * (open windows) genuinely carry ACROSS batches while the watermark
    * advances per batch. Layout-invariance: a match emits in the
    * purchase's arrival batch (`l_ts ≤ r_ts` and files are time-ordered,
    * so the click is already buffered or co-arrives), where
    * `r_ts > current wm ≥ the agg's propagated watermark` — the row's
    * window is still open, nothing is ever late at the second stateful
    * operator, and the final closed-window set is decided by the final
    * watermark alone, same as the single-batch run.
    */
  def q60JoinThenWindow(s: SparkSession, dir: String): DataFrame = withConf(s,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
    import s.implicits._
    val staged = stageTimeSplit(s, dir, "q60")
    def side(kind: String, p: String, extra: Column*): DataFrame = stagedStream(s, staged)
      .filter($"event_type" === kind)
      .select(Seq(
        $"event_id".as(s"${p}_id"),
        $"user_id".as(s"${p}_k"),
        $"ts".as(s"${p}_ts")) ++ extra: _*)
    val joined = StreamJobs.streamStreamCorrelate(
      side("click", "l"),
      side("purchase", "r", $"value".as("r_value")),
      window = "10 minutes", delay = "10 minutes")
    val agg = joined
      .groupBy(window($"r_ts", "10 minutes"))
      .agg(
        count(lit(1)).as("n_attributed"),
        sum($"r_value".cast(DecimalType(12, 2))).cast("double").as("attributed_value"))
      .select(
        date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
        date_format($"window.end", "yyyy-MM-dd HH:mm:ss").as("window_end"),
        $"n_attributed", $"attributed_value")
    val out = Files.createTempDirectory("graft-q60-out").toString
    val ck = Files.createTempDirectory("graft-q60-ck").toString
    val query = agg.writeStream
      .queryName("q60_join_then_window")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .format("parquet")
      .start(out)
    query.awaitTermination()
    val stateful = Option(query.lastProgress)
      .map(_.stateOperators.map(_.operatorName).toSeq).getOrElse(Seq.empty)
    require(stateful.size == 2,
      s"q60 must execute two chained stateful operators, got $stateful")
    requireMultiBatch(query, "q60")
    dropStaged(staged)
    s.read.parquet(out).orderBy($"window_start")
  }

  val q60Oracle: String =
    """WITH j AS (
      |  SELECT b.ts AS r_ts, b.value AS r_value
      |  FROM (SELECT * FROM events WHERE event_type = 'click') a
      |  JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      |    ON a.user_id = b.user_id
      |   AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
      |   AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 10 MINUTE),
      |m AS (SELECT least(
      |    max(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END),
      |    max(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END))
      |    AS wm_base FROM events)
      |SELECT strftime(tb, '%Y-%m-%d %H:%M:%S') AS window_start,
      |  strftime(tb + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S') AS window_end,
      |  count(*) AS n_attributed,
      |  CAST(sum(CAST(r_value AS DECIMAL(12,2))) AS DOUBLE) AS attributed_value
      |FROM (SELECT time_bucket(INTERVAL '10 minutes', CAST(r_ts AS TIMESTAMP)) AS tb,
      |             r_value FROM j) t, m
      |WHERE tb + INTERVAL 10 MINUTE <= m.wm_base - INTERVAL 20 MINUTE
      |GROUP BY tb
      |ORDER BY window_start""".stripMargin

  /** q63 — THREE chained stateful operators in one append-mode query:
    * at-least-once ingest dedup (`dropDuplicatesWithinWatermark` on the
    * purchase id) → stream–stream interval join → tumbling-window
    * aggregation. This is the canonical shape of a production
    * attribution pipeline (dedup re-deliveries at ingest, correlate,
    * aggregate) and extends q60's two-operator composition to the full
    * chain. On the driver's exactly-once topic dump the dedup stage is a
    * SEMANTIC no-op (event ids are unique), which is precisely what
    * makes the oracle expressible: the result must equal q60's — while
    * the runtime must now report all THREE stateful operators, and the
    * dedup's output watermark must propagate through the join unchanged
    * (dedup adds no event-time delay, so the q60 window boundary holds
    * verbatim; a propagation bug shifts the closed-window set and fails
    * the hash).
    */
  def q63DedupJoinWindow(s: SparkSession, dir: String): DataFrame = withConf(s,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
    import s.implicits._
    val staged = stageTimeSplit(s, dir, "q63")
    def side(kind: String, p: String, extra: Column*): DataFrame = stagedStream(s, staged)
      .filter($"event_type" === kind)
      .select(Seq(
        $"event_id".as(s"${p}_id"),
        $"user_id".as(s"${p}_k"),
        $"ts".as(s"${p}_ts")) ++ extra: _*)
    val clicks = side("click", "l").withWatermark("l_ts", "10 minutes")
    val purchases = side("purchase", "r", $"value".as("r_value"))
      .withWatermark("r_ts", "10 minutes")
      .dropDuplicatesWithinWatermark("r_id") // stateful op 1: ingest dedup
    val joined = clicks.join(purchases, expr( // stateful op 2: interval join
      "l_k = r_k AND r_ts >= l_ts AND r_ts <= l_ts + INTERVAL 10 minutes"))
    val agg = joined // stateful op 3: windowed aggregation
      .groupBy(window($"r_ts", "10 minutes"))
      .agg(
        count(lit(1)).as("n_attributed"),
        sum($"r_value".cast(DecimalType(12, 2))).cast("double").as("attributed_value"))
      .select(
        date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
        date_format($"window.end", "yyyy-MM-dd HH:mm:ss").as("window_end"),
        $"n_attributed", $"attributed_value")
    val out = Files.createTempDirectory("graft-q63-out").toString
    val ck = Files.createTempDirectory("graft-q63-ck").toString
    val query = agg.writeStream
      .queryName("q63_dedup_join_window")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .format("parquet")
      .start(out)
    query.awaitTermination()
    val stateful = Option(query.lastProgress)
      .map(_.stateOperators.map(_.operatorName).toSeq).getOrElse(Seq.empty)
    require(stateful.size == 3,
      s"q63 must execute three chained stateful operators, got $stateful")
    requireMultiBatch(query, "q63")
    dropStaged(staged)
    s.read.parquet(out).orderBy($"window_start")
  }

  /** q61 — streaming ingest dedup via `dropDuplicatesWithinWatermark`
    * (ST7's streaming-NATIVE form: the reference dedups downstream with
    * the W3 latest-wins window over a batch read — ref
    * `07_batch_read_kafka_kafka_dedupe.py:65-75` — which re-reads the
    * whole topic; the streaming form keeps one state row per key inside
    * the watermark horizon and drops re-deliveries at ingest, the right
    * shape for at-least-once sources at 100 TB). Each distinct key emits
    * exactly once per state lifetime. Only the KEY columns are
    * projected: which physical row emits first is
    * arrival-order-dependent, the key itself is not.
    *
    * Multi-batch harness + HORIZON SIZING: the dump arrives as ≥ 4
    * time-ordered micro-batches ([[stageTimeSplit]]), so dedup state
    * genuinely persists and suppresses re-deliveries ACROSS batches while
    * the watermark advances between them. The horizon is the operator's
    * one real tuning knob, and it must cover the source's maximum
    * re-delivery lag: a key's state lives until the watermark passes its
    * first-seen ts + delay, and a duplicate arriving after that EMITS
    * AGAIN (the eviction boundary StreamingSpec pins in-process with
    * controlled per-batch watermarks). The fixture's duplicates span the
    * dump's whole 29-day window, so the gate sets a 35-day horizon —
    * under-sizing it would make the emitted set depend on which batch
    * boundary the watermark crossed first, i.e. not oracle-expressible.
    * State stays horizon-bounded, never stream-length-bounded: at 100 TB
    * you size the delay to the producer's re-delivery window, not to the
    * topic's retention.
    */
  def q61StreamDedup(s: SparkSession, dir: String): DataFrame = withConf(s,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
    import s.implicits._
    val staged = stageTimeSplit(s, dir, "q61")
    val deduped = stagedStream(s, staged)
      .select($"user_id", $"event_type", $"ts")
      .withWatermark("ts", "35 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select($"user_id", $"event_type")
    val out = Files.createTempDirectory("graft-q61-out").toString
    val ck = Files.createTempDirectory("graft-q61-ck").toString
    val query = deduped.writeStream
      .queryName("q61_stream_dedup")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .format("parquet")
      .start(out)
    query.awaitTermination()
    requireMultiBatch(query, "q61")
    dropStaged(staged)
    s.read.parquet(out).orderBy($"user_id", $"event_type")
  }

  val q61Oracle: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /** q64 — the MapState/ListState profile processor ([[StreamJobs
    * .profileTws]]) driver-gated, so every arbitrary-state v2 primitive
    * is oracle-checked (q62 covers ValueState + timers): per-user
    * event-type counts from `MapState` and running top-3 values from
    * `ListState`, on RocksDB. Update-mode output can't hit the parquet
    * sink directly, so the gate writes through `foreachBatch` (the
    * topic-sink pattern); under AvailableNow all data lands in one
    * batch, so each user emits exactly one snapshot — the final profile
    * — which the oracle recomputes with plain grouped SQL. The map
    * explodes to (event_type, n_type) rows and the top-k list flattens
    * to columns, keeping the comparison in exact scalar types.
    *
    * Multi-batch harness: with the staged time-split feed, update mode
    * re-emits a user's snapshot in EVERY batch that touches the user —
    * the topic-sink re-emission stream. The sink tags each snapshot with
    * its batch id, and the read-back keeps only each user's LATEST
    * snapshot (the W3 latest-wins window — exactly the downstream
    * compaction the reference's summary-topic consumers run, `07_batch_
    * read_kafka_kafka_dedupe.py:65-75`). A user's last snapshot carries
    * the full accumulated MapState/ListState profile, so the compacted
    * set equals the final profile — the same oracle, now proven through
    * cross-batch state accumulation AND re-emission semantics at once.
    */
  def q64UserProfile(s: SparkSession, dir: String): DataFrame = withConf(s,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
    import s.implicits._
    val staged = stageTimeSplit(s, dir, "q64")
    val events = stagedStream(s, staged)
      .select($"user_id", $"event_type", $"value")
    val profiles = StreamJobs.profileTws(events)
    val out = Files.createTempDirectory("graft-q64-out").toString
    val ck = Files.createTempDirectory("graft-q64-ck").toString
    val query = profiles.toDF().writeStream
      .queryName("q64_user_profile")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      // foreachBatch is AT-LEAST-ONCE: a retried micro-batch re-invokes
      // the function with the same batchId, so the write must be
      // idempotent — each batch overwrites its OWN batch-keyed dir
      // (Spark's documented exactly-once recipe; a plain append would
      // leave duplicate same-batch_id snapshots and a duplicate-row
      // oracle diff on retry — ADVICE r9)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch
          .select($"user_id", $"n_events",
            explode($"type_counts").as(Seq("event_type", "n_type")),
            // try_element_at: a user with fewer than k events has a short
            // top_values list, and ANSI element_at would throw where the
            // oracle's (array_agg(...))[k] yields NULL
            try_element_at($"top_values", lit(1)).as("top1"),
            try_element_at($"top_values", lit(2)).as("top2"),
            try_element_at($"top_values", lit(3)).as("top3"))
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(f"$out/batch_$batchId%06d")
      }
      .start()
    query.awaitTermination()
    requireMultiBatch(query, "q64")
    dropStaged(staged)
    // latest-wins compaction over the re-emission stream: each user's
    // newest snapshot IS the profile (W3 over the topic dump)
    val latest = max($"batch_id").over(Window.partitionBy($"user_id"))
    s.read.parquet(s"$out/batch_*")
      .withColumn("_latest", latest).filter($"batch_id" === $"_latest")
      .select($"user_id", $"event_type", $"n_type", $"n_events",
        $"top1", $"top2", $"top3")
      .orderBy($"user_id", $"event_type")
  }

  val q64Oracle: String =
    """WITH tv AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |    (array_agg(value ORDER BY value DESC))[1] AS top1,
      |    (array_agg(value ORDER BY value DESC))[2] AS top2,
      |    (array_agg(value ORDER BY value DESC))[3] AS top3
      |  FROM events GROUP BY user_id),
      |tc AS (
      |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_type
      |  FROM events GROUP BY user_id, event_type)
      |SELECT tc.user_id, tc.event_type, tc.n_type, tv.n_events,
      |  tv.top1, tv.top2, tv.top3
      |FROM tc JOIN tv ON tv.user_id = tc.user_id
      |ORDER BY tc.user_id, tc.event_type""".stripMargin

  /** q66 — q49's append-mode windowed aggregation over a DISORDERED
    * multi-batch feed: the staged split is jittered so consecutive files
    * overlap by up to 6 minutes of event time — events genuinely arrive
    * out of order across micro-batches, late relative to the stream's
    * high-water mark but INSIDE the 10-minute watermark tolerance. This
    * is the production shape the time-ordered gates can't exercise, and
    * it pins the tolerance semantics themselves: a within-tolerance late
    * event carries `ts ≥ watermark`, so the windows it lands in satisfy
    * `end > ts ≥ watermark` — still OPEN, by construction un-closeable
    * before the event arrives — and it is counted, never dropped. The
    * emitted set therefore stays exactly the final-watermark-closed set:
    * q49's oracle, verbatim, over a shuffled feed. (Disorder BEYOND the
    * tolerance is the complementary case: those rows drop, pinned by
    * StreamingSpec's late-data law where per-batch watermarks are
    * controllable.)
    */
  def q66DisorderedWindowSales(s: SparkSession, dir: String): DataFrame = withConf(s,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
    import s.implicits._
    val staged = stageTimeSplit(s, dir, "q66", jitterMinutes = 3)
    val events = stagedStream(s, staged)
    val out = Files.createTempDirectory("graft-q66-out").toString
    val ck = Files.createTempDirectory("graft-q66-ck").toString
    val query = StreamJobs.slidingWindowSales(events)
      .select(
        date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
        date_format($"window.end", "yyyy-MM-dd HH:mm:ss").as("window_end"),
        $"event_type", $"sales", $"orders")
      .writeStream
      .queryName("q66_disordered_window_sales")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .format("parquet")
      .start(out)
    query.awaitTermination()
    requireMultiBatch(query, "q66")
    dropStaged(staged)
    s.read.parquet(out).orderBy($"window_start", $"event_type")
  }

  /** q68 — custom-state sessionization over the DISORDERED feed: the
    * hardest disorder case, because FMGWS state is ORDER-SENSITIVE
    * (unlike q66's commutative aggregation and q67's set-shaped join).
    * A within-tolerance late event can be OLDER than its open session's
    * first event, and the session must extend BACKWARDS (`min` on start
    * — the bug this gate guards; StreamingSpec pins the deterministic
    * two-batch repro on both state APIs). Correct island structure under
    * bounded disorder: a same-island pair can never be separated by a
    * timer (the timer needs `wm > last + gap`, and the late member
    * carries `ts ≤ last + gap < wm` — a dropped row, excluded by the
    * no-drop bound), and different islands can never merge (that needs
    * arrival disorder ≥ the 6 h gap; the staged feed's is ≤ 6 min). So
    * q58's oracle holds verbatim over the shuffled feed.
    */
  def q68DisorderedSessionize(s: SparkSession, dir: String): DataFrame = withConf(s,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
    import s.implicits._
    val staged = stageTimeSplit(s, dir, "q68", jitterMinutes = 3)
    val events = stagedStream(s, staged)
      .select($"user_id", $"ts", $"value")
      .withWatermark("ts", "10 minutes")
    val sessions = StreamJobs.sessionize(events, gapMinutes = 360)
    val out = Files.createTempDirectory("graft-q68-out").toString
    val ck = Files.createTempDirectory("graft-q68-ck").toString
    val query = sessions.toDF()
      .select($"user_id",
        unix_millis($"session_start").as("session_start_ms"),
        unix_millis($"session_end").as("session_end_ms"),
        $"events".as("n_events"))
      .writeStream
      .queryName("q68_disordered_sessionize")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .format("parquet")
      .start(out)
    query.awaitTermination()
    requireMultiBatch(query, "q68")
    dropStaged(staged)
    s.read.parquet(out).orderBy($"user_id", $"session_start_ms")
  }

  /** q69 — q65's growing-topic restart on the OTHER state API and
    * backend: `transformWithState` sessionization on RocksDB, stopped
    * and restarted between micro-batches. Run 2 must reload every open
    * session's ValueState row AND its registered event-time timer from
    * the RocksDB checkpoint (changelog/snapshot load path, not the
    * in-memory provider's map), resume the watermark, and process only
    * the admitted files — the two-run union meets q58's oracle verbatim.
    * Completes the restart matrix: q65 = FMGWS/HDFS-backed, q69 =
    * TWS/RocksDB; StreamingSpec pins the same restore in-process with a
    * key that emits in run 2 PURELY from a run-1 timer.
    */
  def q69RestartSessionizeTws(s: SparkSession, dir: String): DataFrame = withConf(s,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
    import s.implicits._
    val staged = Paths.get(stageTimeSplit(s, dir, "q69", n = 6))
    val live = Files.createTempDirectory("graft-q69-live")
    stagedDirs.add(live) // crash backstop; dropStaged cleans after run 2
    val names = {
      val st = Files.list(staged)
      try st.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      finally st.close()
    }
    val out = Files.createTempDirectory("graft-q69-out").toString
    val ck = Files.createTempDirectory("graft-q69-ck").toString
    def runOnce(tag: String): Unit = {
      val events = stagedStream(s, live.toString)
        .select($"user_id", $"ts", $"value")
        .withWatermark("ts", "10 minutes")
      val query = StreamJobs.sessionizeTws(events, gapMinutes = 360).toDF()
        .select($"user_id",
          unix_millis($"session_start").as("session_start_ms"),
          unix_millis($"session_end").as("session_end_ms"),
          $"events".as("n_events"))
        .writeStream
        .queryName(s"q69_restart_sessionize_tws_$tag")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .format("parquet")
        .start(out)
      query.awaitTermination()
      requireMultiBatch(query, s"q69 $tag")
    }
    val (first, rest) = names.splitAt(3)
    first.foreach(n => Files.move(staged.resolve(n), live.resolve(n)))
    runOnce("run1")
    rest.foreach(n => Files.move(staged.resolve(n), live.resolve(n)))
    runOnce("run2")
    dropStaged(staged.toString, live.toString)
    s.read.parquet(out).orderBy($"user_id", $"session_start_ms")
  }

  /** q67 — the q60 attribution chain (stream–stream interval join →
    * tumbling-window agg) over the DISORDERED feed, extending q66's
    * within-tolerance disorder to BOTH stateful-operator shapes at once.
    * No match can be missed under bounded disorder: when the purchase
    * arrives, `wm < r_ts ≤ l_ts + interval`, so its click is still
    * buffered (left eviction needs `wm ≥ l_ts + interval`); the
    * symmetric argument covers a click arriving after its purchase. And
    * no joined row is ever late at the agg (`r_ts > wm ≥ propagated
    * watermark` at emission). The final watermark is jitter-invariant
    * (max per-side ts unchanged), so q60's closed-window oracle holds
    * verbatim over the shuffled feed, and the runtime must still report
    * both stateful operators.
    */
  def q67DisorderedAttribution(s: SparkSession, dir: String): DataFrame = withConf(s,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
    import s.implicits._
    val staged = stageTimeSplit(s, dir, "q67", jitterMinutes = 3)
    def side(kind: String, p: String, extra: Column*): DataFrame = stagedStream(s, staged)
      .filter($"event_type" === kind)
      .select(Seq(
        $"event_id".as(s"${p}_id"),
        $"user_id".as(s"${p}_k"),
        $"ts".as(s"${p}_ts")) ++ extra: _*)
    val joined = StreamJobs.streamStreamCorrelate(
      side("click", "l"),
      side("purchase", "r", $"value".as("r_value")),
      window = "10 minutes", delay = "10 minutes")
    val agg = joined
      .groupBy(window($"r_ts", "10 minutes"))
      .agg(
        count(lit(1)).as("n_attributed"),
        sum($"r_value".cast(DecimalType(12, 2))).cast("double").as("attributed_value"))
      .select(
        date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
        date_format($"window.end", "yyyy-MM-dd HH:mm:ss").as("window_end"),
        $"n_attributed", $"attributed_value")
    val out = Files.createTempDirectory("graft-q67-out").toString
    val ck = Files.createTempDirectory("graft-q67-ck").toString
    val query = agg.writeStream
      .queryName("q67_disordered_attribution")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .format("parquet")
      .start(out)
    query.awaitTermination()
    val stateful = Option(query.lastProgress)
      .map(_.stateOperators.map(_.operatorName).toSeq).getOrElse(Seq.empty)
    require(stateful.size == 2,
      s"q67 must execute two chained stateful operators, got $stateful")
    requireMultiBatch(query, "q67")
    dropStaged(staged)
    s.read.parquet(out).orderBy($"window_start")
  }

  /** q65 — CHECKPOINT RESTART through the multi-batch harness: the q58
    * sessionization pipeline run as TWO separate streaming queries over
    * the SAME checkpoint and sink, with the topic growing between them —
    * the deterministic restart shape (no kill-timing races): 6 staged
    * time-split files, 3 admitted before run 1 (AvailableNow drains them
    * and terminates), 3 more moved in before run 2. Run 2 must restore
    * offsets, the event-time WATERMARK, and every open session's
    * FMGWS state row + timeout from the checkpoint, process only the new
    * files, and emit exactly the remaining sessions — the gated union of
    * both runs meets q58's oracle verbatim. Exactly-once end to end: the
    * source's seen-files log dedups input across restarts and the parquet
    * sink's `_spark_metadata` manifest commits output batches atomically
    * (the read-back honors it). Timer-vs-restart commutes for the same
    * reason mid-stream timers do (q58's scaladoc): run 1's final no-data
    * batch fires timeouts below `max(run-1 ts) − delay`, and every run-2
    * event is above that watermark, so a restart boundary can never split
    * a session the batch oracle keeps whole.
    */
  def q65RestartSessionize(s: SparkSession, dir: String): DataFrame = withConf(s,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
    import s.implicits._
    val staged = Paths.get(stageTimeSplit(s, dir, "q65", n = 6))
    val live = Files.createTempDirectory("graft-q65-live")
    stagedDirs.add(live) // crash backstop; dropStaged cleans after run 2
    val names = {
      val st = Files.list(staged)
      try st.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      finally st.close()
    }
    val out = Files.createTempDirectory("graft-q65-out").toString
    val ck = Files.createTempDirectory("graft-q65-ck").toString
    def runOnce(tag: String): Unit = {
      val events = stagedStream(s, live.toString)
        .select($"user_id", $"ts", $"value")
        .withWatermark("ts", "10 minutes")
      val query = StreamJobs.sessionize(events, gapMinutes = 360).toDF()
        .select($"user_id",
          unix_millis($"session_start").as("session_start_ms"),
          unix_millis($"session_end").as("session_end_ms"),
          $"events".as("n_events"))
        .writeStream
        .queryName(s"q65_restart_sessionize_$tag")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .format("parquet")
        .start(out)
      query.awaitTermination()
      requireMultiBatch(query, s"q65 $tag")
    }
    val (first, rest) = names.splitAt(3)
    first.foreach(n => Files.move(staged.resolve(n), live.resolve(n)))
    runOnce("run1")
    rest.foreach(n => Files.move(staged.resolve(n), live.resolve(n)))
    runOnce("run2")
    dropStaged(staged.toString, live.toString)
    s.read.parquet(out).orderBy($"user_id", $"session_start_ms")
  }

  /** q70 — EXACTLY-ONCE through a MID-BATCH FAILURE: the q58
    * sessionization pipeline run into a `foreachBatch` sink whose FIRST
    * attempt of data batch 2 crashes AFTER writing the batch's output
    * but BEFORE the engine records the batch as committed — the
    * production crash shape (process dies with a micro-batch in flight:
    * sink write landed, offset-log commit entry missing, state-store
    * version uncommitted) that the clean-boundary restart gates
    * (q65/q69) never exercise. The reference analogue is the
    * supervised-restart DeltaStreamer daemons (`hudi/debezium_hudi_demo/
    * deltastreamer_jobs_bulk.sh`, `--continuous` mode), which are killed
    * and resumed mid-stream as a matter of course.
    *
    * Recovery contract, end to end: run 1 terminates EXCEPTIONALLY (the
    * gate requires it — the failure is provably injected, not skipped);
    * run 2 against the same checkpoint finds batch 2's offsets in the
    * WAL without a commit entry, REPLAYS the batch from the last
    * committed state-store version (batch 1's — the failed attempt's
    * state writes were never committed) over the same source files (the
    * seen-files log pins them), re-invokes the sink with the SAME batch
    * id, and continues. The sink is Spark's documented exactly-once
    * recipe — foreachBatch is at-least-once, so each batch OVERWRITES
    * its own batch-keyed dir, making the replay idempotent: the crashed
    * attempt's partial/full output is simply rewritten. The union of all
    * batch dirs must meet q58's oracle VERBATIM: a double-commit of
    * batch 2 would surface duplicate session rows, a skipped replay
    * would lose them, and a wrong restored state version would shift
    * session boundaries — each a hash mismatch.
    *
    * Determinism: the replay re-derives identical emissions because the
    * batch's inputs (offsets → files) and starting state (committed
    * version) are pinned by the checkpoint, and the watermark used by
    * batch 2 is the one recorded in its offset-log entry — nothing
    * depends on wall clock. q58's scaladoc carries the layout-invariance
    * argument for why the final emitted set is the batch oracle's.
    */
  def q70MidBatchFailure(s: SparkSession, dir: String): DataFrame = withConf(s,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
    midBatchFailureGate(s, dir, "q70", sessionPipeline(s, tws = false),
      sortCols = Seq("user_id", "session_start_ms"), statefulOps = 1)
  }

  /** The q58 sessionization pipeline over a staged time-split dir — the
    * subject the single-operator crash gates (q70, q72) replay.
    */
  private def sessionPipeline(s: SparkSession, tws: Boolean)(staged: String): DataFrame = {
    import s.implicits._
    val events = stagedStream(s, staged)
      .select($"user_id", $"ts", $"value")
      .withWatermark("ts", "10 minutes")
    val sessions =
      if (tws) StreamJobs.sessionizeTws(events, gapMinutes = 360)
      else StreamJobs.sessionize(events, gapMinutes = 360)
    sessions.toDF()
      .select($"user_id",
        unix_millis($"session_start").as("session_start_ms"),
        unix_millis($"session_end").as("session_end_ms"),
        $"events".as("n_events"))
  }

  /** The ONE sink-with-injection → drive → stateful-operator-count →
    * read-back skeleton behind every foreachBatch crash gate: the
    * mid-batch-failure gates (q70/q72/q76/q82/q83), streaming admission
    * (q84/q87) and every fold gate ([[foldGate]]), so the injection
    * verification discipline (cause-chain walk, injected-message
    * matching, marker checks, restart accounting) can never drift per
    * gate. Each micro-batch's `sink` output OVERWRITES its own
    * batch-keyed dir — Spark's exactly-once recipe for the at-least-once
    * foreachBatch — and only then does the FIRST attempt of each batch
    * in `crashes` die: after the durable write, before the engine's
    * commit (q70's crash shape). Each run must either terminate CLEAN
    * (ending the drive) or die with ONE of the scheduled injections; the
    * drive requires exactly `crashes.size` restarts against the same
    * checkpoint, every marker fired, the final run multi-batch (the
    * replayed batch plus the undelivered files), and the final query to
    * report exactly `statefulOps` stateful operators (`why` says which).
    * An empty schedule is the clean single-run drive, whose real failure
    * propagates raw. Drops the staged source; returns the union of the
    * batch dirs.
    */
  private def crashGate(
      s: SparkSession, tag: String, staged: String, ck: String,
      crashes: Seq[Long], statefulOps: Int, why: String,
      outputMode: String = "append")(
      stream: DataFrame)(sink: (DataFrame, Long) => Option[DataFrame]): DataFrame = {
    val out = Files.createTempDirectory(s"graft-$tag-out").toString
    // driver-side first-attempt markers: underscore-prefixed, outside the
    // batch_* read-back glob, so the replay of a crashed batch completes
    def marker(b: Long) = Paths.get(out, f"_fail_injected_$b%06d")
    def injected(b: Long) = s"$tag injected mid-batch failure (first attempt of batch $b)"
    def runOnce(run: String): StreamingQuery = stream.writeStream
      .queryName(s"${gateName(tag)}_$run")
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(batch, batchId).foreach(
          _.write.mode("overwrite").parquet(f"$out/batch_$batchId%06d"))
        if (crashes.contains(batchId) && !Files.exists(marker(batchId))) {
          Files.createFile(marker(batchId))
          throw new RuntimeException(injected(batchId))
        }
      }
      .start()
    var restarts = 0
    var query = runOnce("run1")
    var terminated = false
    while (!terminated) {
      val err = try { query.awaitTermination(); None } catch {
        case e: Throwable => Some(e)
      }
      err match {
        case None => terminated = true
        case Some(e) if crashes.isEmpty =>
          throw e // a clean drive's real failure propagates raw
        case Some(e) =>
          val chain = Iterator.iterate[Throwable](e)(_.getCause)
            .takeWhile(_ != null).take(10).toSeq
          if (!chain.exists(t => Option(t.getMessage).exists(m =>
              crashes.exists(b => m.contains(injected(b))))))
            throw new IllegalStateException(
              s"$tag run ${restarts + 1} must terminate with an injected " +
                s"mid-batch failure, got: $e", e)
          restarts += 1
          require(restarts <= crashes.size,
            s"$tag crashed more times ($restarts) than injected (${crashes.size})")
          query = runOnce(s"run${restarts + 1}")
      }
    }
    require(restarts == crashes.size,
      s"$tag must survive ${crashes.size} crash-replay cycle(s), got $restarts")
    crashes.foreach { b =>
      require(Files.exists(marker(b)), s"$tag fault injection did not fire: ${injected(b)}")
    }
    requireMultiBatch(query, if (crashes.isEmpty) tag else s"$tag final run")
    val stateful = Option(query.lastProgress)
      .map(_.stateOperators.map(_.operatorName).toSeq).getOrElse(Seq.empty)
    require(stateful.size == statefulOps,
      s"$tag must run $statefulOps stateful operator(s) ($why), got $stateful")
    dropStaged(staged)
    s.read.parquet(s"$out/batch_*")
  }

  /** The query-name prefix of a [[crashGate]] run (`<prefix>_run<k>`) —
    * what [[plannedWatermarkMs]] finds the live query by.
    */
  private def gateName(tag: String): String = s"${tag}_gate"

  /** Shared fault-injection harness for the mid-batch-failure gates, so
    * the state-API gates (q70 FMGWS, q72 TWS) and the chained-pipeline
    * gate (q76, TWO state stores restored to the same committed version)
    * can never drift apart. See q70's scaladoc for the recovery contract
    * and determinism argument; `statefulOps` pins how many stateful
    * operators the replayed query must report — the chained case is the
    * harder replay (join buffers AND window state must restore
    * consistently to batch 1's commit).
    */
  private def midBatchFailureGate(
      s: SparkSession, dir: String, tag: String,
      pipeline: String => DataFrame,
      sortCols: Seq[String],
      statefulOps: Int): DataFrame = {
    val staged = stageTimeSplit(s, dir, tag, n = 6)
    val ck = Files.createTempDirectory(s"graft-$tag-ck").toString
    crashGate(s, tag, staged, ck, crashes = Seq(2L), statefulOps,
        why = "the replay must restore them")(pipeline(staged))(
        (batch, _) => Some(batch))
      .orderBy(sortCols.map(col): _*)
  }

  /** q72 — q70's mid-batch failure on the OTHER state API and backend:
    * `transformWithState` sessionization on RocksDB, crashed on the
    * first attempt of data batch 2 after the sink write, restarted
    * against the same checkpoint. Completes the failure matrix the way
    * q69 completed q65's restart matrix (q70 = FMGWS/HDFS-backed,
    * q72 = TWS/RocksDB): the replay must reload batch 2's STARTING
    * state from the RocksDB commit of batch 1 (snapshot/changelog load
    * path — the failed attempt's uncommitted RocksDB writes must be
    * discarded), re-register every open session's event-time timer,
    * re-derive identical emissions, and the batch-dir union must meet
    * q58's oracle verbatim. See q70's scaladoc for the recovery
    * contract and determinism argument.
    */
  def q72MidBatchFailureTws(s: SparkSession, dir: String): DataFrame = withConf(s,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
    midBatchFailureGate(s, dir, "q72", sessionPipeline(s, tws = true),
      sortCols = Seq("user_id", "session_start_ms"), statefulOps = 1)
  }

  /** q76 — the mid-batch crash applied to the CHAINED pipeline: q60's
    * interval join → tumbling-window aggregation run through
    * [[midBatchFailureGate]]'s injected sink-side crash (first attempt
    * of data batch 2 dies after its durable batch-keyed write, before
    * the commit). This is the harder replay case the single-operator
    * crash gates (q70/q72) cannot see: TWO state stores — the join's
    * per-side buffered-row state and the aggregation's open-window
    * state — must BOTH restore to batch 1's committed version (a
    * mixed-version restore would attribute purchases against a
    * click-buffer from the wrong batch, or re-emit/lose closed
    * windows), the join's output watermark must be re-derived from the
    * restored per-side watermarks, and the replayed batch must emit
    * identical rows into its overwritten batch dir. The harness
    * additionally requires the replayed query to report BOTH stateful
    * operators; the batch-dir union must meet q60's oracle VERBATIM —
    * any inconsistency between the two restored stores shifts either
    * `n_attributed` or the closed-window set and fails the hash.
    */
  def q76MidBatchFailureChained(s: SparkSession, dir: String): DataFrame = withConf(s,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
    import s.implicits._
    def pipeline(staged: String): DataFrame = {
      def side(kind: String, p: String, extra: Column*): DataFrame =
        stagedStream(s, staged)
          .filter($"event_type" === kind)
          .select(Seq(
            $"event_id".as(s"${p}_id"),
            $"user_id".as(s"${p}_k"),
            $"ts".as(s"${p}_ts")) ++ extra: _*)
      StreamJobs.streamStreamCorrelate(
          side("click", "l"),
          side("purchase", "r", $"value".as("r_value")),
          window = "10 minutes", delay = "10 minutes")
        .groupBy(window($"r_ts", "10 minutes"))
        .agg(
          count(lit(1)).as("n_attributed"),
          sum($"r_value".cast(DecimalType(12, 2))).cast("double").as("attributed_value"))
        .select(
          date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
          date_format($"window.end", "yyyy-MM-dd HH:mm:ss").as("window_end"),
          $"n_attributed", $"attributed_value")
    }
    midBatchFailureGate(s, dir, "q76", pipeline,
      sortCols = Seq("window_start"), statefulOps = 2)
  }

  /** q71 — the beyond-tolerance DROP path, oracle-gated: every staged
    * feed so far is constructed so NOTHING drops (that is what makes the
    * oracles layout-invariant); this gate makes the complementary
    * semantic — late rows beyond the watermark tolerance are dropped,
    * on-time rows are not — driver-visible. Deterministic two-phase
    * layout: phase 1 drains the first 3 time-split files and terminates,
    * PINNING the checkpointed watermark at `max(file-3 ts) − 10 min` (no
    * kill-timing races — AvailableNow ran to completion). Phase 2 then
    * admits (a) a LATE file — file 1's rows with event time shifted down
    * 40 days, wholly below any watermark the stream can ever hold — and
    * (b) the final on-time file. Run 2 restores the watermark, DROPS
    * every late row at the stateful operator's late-data filter (they
    * never enter window state), then processes the on-time file and
    * closes the remaining windows.
    *
    * The gate requires the drop to be REAL, not vacuous, and EXACT:
    * `numRowsDroppedByWatermark` is incremented at the state-store
    * stage, AFTER the map-side partial aggregate has collapsed the late
    * input rows into their (window, event_type) groups — so the gate
    * computes the distinct late group count with a plain batch aggregate
    * over the late file (each event lands in its two sliding windows)
    * and requires the streamed drop count to equal it, with ZERO drops
    * in run 1 (every on-time group survives). The oracle is q49's: the
    * final watermark is unchanged by the late file (watermarks are
    * monotone; the late rows' event times are 40 days in the past), so
    * the emitted set is exactly the closed-window set over the ORIGINAL
    * events — the oracle says precisely which input rows were kept (all
    * on-time) and which were excluded (each late-file row). A failure to
    * drop would open 40-day-old windows whose immediate closure emits
    * rows the oracle does not contain — a loud hash mismatch.
    */
  def q71LateDropWindow(s: SparkSession, dir: String): DataFrame = withConf(s,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
    import s.implicits._
    lateDropGate(s, dir, "q71",
      pipeline = live => StreamJobs.slidingWindowSales(stagedStream(s, live))
        .select(
          date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
          date_format($"window.end", "yyyy-MM-dd HH:mm:ss").as("window_end"),
          $"event_type", $"sales", $"orders"),
      // the exact drop count the stream must report: distinct late
      // (window, event_type) groups (see scaladoc — the engine counts
      // dropped GROUPS post-partial-aggregation, not raw input rows)
      expectedDrops = late => s.read.parquet(late)
        .select($"ts", $"event_type")
        .groupBy(window($"ts", StreamJobs.SalesWindow, StreamJobs.SalesSlide), $"event_type")
        .count().count(),
      dropUnit = "late groups",
      sortCols = Seq($"window_start", $"event_type"))
  }

  /** Shared two-phase beyond-tolerance-drop harness (see q71's scaladoc
    * for the layout and determinism argument): phase 1 drains the first
    * 3 time-split files, PINNING the checkpointed watermark; phase 2
    * admits a wholly-late copy of file 1 (event times shifted down 40
    * days — staged ts is TimestampType, so the shift is interval
    * arithmetic), mod-time-ordered BEFORE the final on-time file so it
    * is judged against the restored watermark, not a later one. The
    * gate requires ZERO drops in run 1, `numRowsDroppedByWatermark` ==
    * the caller-computed EXACT count in run 2, and the read-back to
    * meet the original clean-run oracle. ONE implementation for the
    * aggregation gate (q71) and the join gate (q77), so the two
    * stateful shapes' drop semantics can never drift apart.
    */
  private def lateDropGate(
      s: SparkSession, dir: String, tag: String,
      pipeline: String => DataFrame,
      expectedDrops: String => Long,
      dropUnit: String,
      sortCols: Seq[Column]): DataFrame = {
    import s.implicits._
    val staged = Paths.get(stageTimeSplit(s, dir, tag, n = 4))
    val live = Files.createTempDirectory(s"graft-$tag-live")
    stagedDirs.add(live) // crash backstop; dropStaged cleans after run 2
    val names = {
      val st = Files.list(staged)
      try st.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      finally st.close()
    }
    val out = Files.createTempDirectory(s"graft-$tag-out").toString
    val ck = Files.createTempDirectory(s"graft-$tag-ck").toString
    def runOnce(run: String): StreamingQuery =
      pipeline(live.toString)
        .writeStream
        .queryName(s"${tag}_late_drop_$run")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .format("parquet")
        .start(out)
    // phase 1: drain the first 3 files — the checkpoint now holds the
    // pinned watermark derived from file 3's event times
    def droppedByWatermark(q: StreamingQuery): Long = q.recentProgress
      .map(p => p.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
    val (first, rest) = names.splitAt(3)
    first.foreach(n => Files.move(staged.resolve(n), live.resolve(n)))
    val run1 = runOnce("run1")
    run1.awaitTermination()
    requireMultiBatch(run1, s"$tag run1")
    require(droppedByWatermark(run1) == 0,
      s"$tag run 1 is wholly on-time and must drop nothing")
    // phase 2a: the late file
    val expected = {
      val lateTmp = Files.createTempDirectory(s"graft-$tag-late")
      s.read.parquet(live.resolve(names.head).toString)
        .withColumn("ts", $"ts" - expr("INTERVAL 40 DAYS"))
        .coalesce(1).write.mode("overwrite").parquet(lateTmp.toString)
      val part = lateTmp.toFile.listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).head
      val dst = live.resolve("events-9999-late.parquet")
      Files.move(part.toPath, dst)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(1700000000000L + 3 * 60000L + 30000L))
      deleteTree(lateTmp)
      expectedDrops(dst.toString)
    }
    // phase 2b: the final on-time file, then run 2
    rest.foreach(n => Files.move(staged.resolve(n), live.resolve(n)))
    val run2 = runOnce("run2")
    run2.awaitTermination()
    requireMultiBatch(run2, s"$tag run2", min = 2) // late batch + on-time batch
    val dropped = droppedByWatermark(run2)
    require(dropped == expected,
      s"$tag must drop exactly $expected $dropUnit, dropped $dropped")
    dropStaged(staged.toString, live.toString)
    s.read.parquet(out).orderBy(sortCols: _*)
  }

  /** q77 — the beyond-tolerance drop at the LAST stateful shape: q52's
    * stream–stream interval join through [[lateDropGate]]'s two-phase
    * layout. The join's late-data filter drops each beyond-tolerance
    * INPUT ROW before it reaches join state (no partial-agg collapse
    * here, unlike q71 — the exact expected count is the late file's
    * click + purchase rows, each side's filtered stream contributing its
    * rows to the shared `numRowsDroppedByWatermark`). The drop is
    * observable in the output too, not just the metric: the late file's
    * clicks and purchases are shifted by the SAME 40 days, so their
    * intervals still align — an engine that failed to drop them would
    * emit spurious duplicate attribution pairs at 40-day-old times and
    * miss q52's oracle, which contains only the original events' pairs.
    */
  def q77LateDropJoin(s: SparkSession, dir: String): DataFrame = withConf(s,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
    import s.implicits._
    lateDropGate(s, dir, "q77",
      pipeline = { live =>
        def side(kind: String, p: String): DataFrame = stagedStream(s, live)
          .filter($"event_type" === kind)
          .select(
            $"event_id".as(s"${p}_id"),
            $"user_id".as(s"${p}_k"),
            $"ts".as(s"${p}_ts"))
        StreamJobs.streamStreamCorrelate(
            side("click", "l"), side("purchase", "r"),
            window = "10 minutes", delay = "10 minutes")
          .select(
            $"l_id".as("click_id"), $"r_id".as("purchase_id"),
            $"l_k".as("user_id"),
            date_format($"l_ts", "yyyy-MM-dd HH:mm:ss").as("click_time"),
            date_format($"r_ts", "yyyy-MM-dd HH:mm:ss").as("purchase_time"))
      },
      // each late row reaching a join side is dropped individually
      expectedDrops = late => s.read.parquet(late)
        .filter($"event_type".isin("click", "purchase")).count(),
      dropUnit = "late join-input rows",
      sortCols = Seq($"click_id", $"purchase_id"))
  }

  /** q82 — the mid-batch crash at the stream–stream JOIN shape, the one
    * stateful state layout the failure matrix had not crashed (q70/q72 =
    * per-key session state, q76 = join + window chained): q52's interval
    * join run through [[midBatchFailureGate]]. The join's state is the
    * TWO-SIDED buffered-row store (`StreamingSymmetricHashJoin` keeps
    * every not-yet-evictable input row per side), so the replay contract
    * differs from the aggregation shapes in kind: run 2 must restore
    * BOTH side buffers to batch 1's committed version and RE-PROBE the
    * replayed batch's rows against them — a buffer restored one version
    * ahead would re-emit pairs already committed by batch 1's sink call
    * (duplicates in the batch-dir union), one behind would miss
    * cross-batch matches (a purchase in batch 2 joining a click buffered
    * in batch 1). Either way the union misses q52's oracle, which holds
    * each interval pair EXACTLY once. Same injected sink-side crash:
    * first attempt of data batch 2 dies after its durable batch-keyed
    * write, before the commit; the idempotent overwrite makes the replay
    * invisible.
    */
  def q82MidBatchFailureJoin(s: SparkSession, dir: String): DataFrame = withConf(s,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
    import s.implicits._
    def pipeline(staged: String): DataFrame = {
      def side(kind: String, p: String): DataFrame = stagedStream(s, staged)
        .filter($"event_type" === kind)
        .select(
          $"event_id".as(s"${p}_id"),
          $"user_id".as(s"${p}_k"),
          $"ts".as(s"${p}_ts"))
      StreamJobs.streamStreamCorrelate(
          side("click", "l"), side("purchase", "r"),
          window = "10 minutes", delay = "10 minutes")
        .select(
          $"l_id".as("click_id"), $"r_id".as("purchase_id"),
          $"l_k".as("user_id"),
          date_format($"l_ts", "yyyy-MM-dd HH:mm:ss").as("click_time"),
          date_format($"r_ts", "yyyy-MM-dd HH:mm:ss").as("purchase_time"))
    }
    midBatchFailureGate(s, dir, "q82", pipeline,
      sortCols = Seq("click_id", "purchase_id"), statefulOps = 1)
  }

  /** q83 — the mid-batch crash at the streaming-DEDUP shape, completing
    * the failure matrix across all four stateful state layouts (per-key
    * session state q70/q72, chained join+window q76, two-sided join
    * buffer q82, and the key-presence store here): q61's
    * `dropDuplicatesWithinWatermark` pipeline through
    * [[midBatchFailureGate]]. Dedup is the shape where a WRONG restored
    * state version is most directly visible in the output: each key
    * emits exactly once per state lifetime, so a replay that restored
    * state one version AHEAD (i.e. kept the failed attempt's
    * uncommitted key-presence writes) would suppress the replayed
    * batch's first-seen keys entirely — they were already overwritten
    * out of the crashed attempt's batch dir — losing rows; a restore
    * one BEHIND would re-emit keys batch 1 committed, duplicating rows
    * in the union. Both miss q61's DISTINCT oracle. The 35-day horizon
    * (q61's sizing rule) spans the fixture, so the emitted key set is
    * batch-layout- and crash-invariant.
    */
  def q83MidBatchFailureDedup(s: SparkSession, dir: String): DataFrame = withConf(s,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
    import s.implicits._
    def pipeline(staged: String): DataFrame =
      stagedStream(s, staged)
        .select($"user_id", $"event_type", $"ts")
        .withWatermark("ts", "35 days")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select($"user_id", $"event_type")
    midBatchFailureGate(s, dir, "q83", pipeline,
      sortCols = Seq("user_id", "event_type"), statefulOps = 1)
  }

  /** q84 — STREAMING ingest admission: the per-ingest corpus-dedup shape
    * (q73) run through the REAL streaming engine, which is where a
    * production pipeline actually runs it — documents arrive
    * continuously; each is admitted iff its bag fingerprint is absent
    * from the STANDING corpus index. The arriving batch trickles in as
    * ≥ 4 doc_id-ordered files ([[stageDocSplit]], one per micro-batch);
    * fingerprints are computed map-side IN the stream; the probe is a
    * stream–static LEFT-ANTI join against the corpus's fingerprint
    * index — stateless on the stream side (the static index is the
    * state, exactly the standing-index discipline of the batch gates;
    * at 100 TB the static side is the fingerprint-bucketed index
    * BucketingSpec plan-verifies, and the stream side broadcasts
    * per-batch or bucket-routes). Within-batch first-wins (q73's
    * smallest-id rule) is the one genuinely STATEFUL step: an
    * update-mode `groupBy(fingerprint).agg(min(doc_id), count)` whose
    * state row per admitted fingerprint accumulates ACROSS micro-batches
    * — a later-arriving in-batch duplicate must fold into the group its
    * earlier twin opened two batches ago, not emit a second admission.
    *
    * Sink + read-back: update mode re-emits a fingerprint's row in every
    * batch that touches it (the topic-sink contract, q64's shape), so
    * the `foreachBatch` sink tags rows with their batch id and the
    * read-back keeps each fingerprint's LATEST snapshot (W3
    * latest-wins) — the final min/count, which is a pure function of
    * the full stream contents, batch-layout-invariant. The oracle is
    * q73's VERBATIM: the streaming spelling must land on byte-identical
    * admissions with the batch spelling. State is fingerprint-count-
    * bounded; at 100 TB you bound its lifetime with the dedup horizon
    * (q61's sizing rule) — admission state only needs to span the
    * window within which one logical batch's duplicates can arrive.
    */
  def q84StreamingAdmission(s: SparkSession, dir: String): DataFrame =
    streamingAdmissionGate(s, dir, "q84", failAt = None)

  /** q87 — the mid-batch crash at the streaming-ADMISSION shape: q84's
    * pipeline with the sink's FIRST attempt of data batch 2 dying after
    * its durable batch-keyed write, before the commit (the q70
    * injection). This crashes the one stateful state layout the matrix
    * had not (the update-mode min/count admission agg) AND the one
    * READ-BACK discipline it had not: the other crash gates union
    * append-mode batch dirs, while q84's update-mode sink re-emits a
    * fingerprint's row in every batch that touches it and the read-back
    * keeps each fingerprint's LATEST snapshot. A replay from the wrong
    * restored state version is directly visible through that window: one
    * version behind loses the crashed batch's in-batch duplicates from
    * `batch_dups` (the min/count state would re-fold from stale
    * values); a skipped replay loses admissions outright. The batch-dir
    * compaction must meet q73's oracle verbatim, as in q84.
    */
  def q87MidBatchFailureAdmission(s: SparkSession, dir: String): DataFrame =
    streamingAdmissionGate(s, dir, "q87", failAt = Some(2L))

  /** Shared harness behind q84 (clean run) and q87 (crashed + replayed
    * run) — one implementation of the pipeline, sink, and read-back, so
    * the two gates can never drift. See q84's scaladoc for the
    * admission semantics and q70's for the injection contract.
    */
  private def streamingAdmissionGate(
      s: SparkSession, dir: String, tag: String, failAt: Option[Long]): DataFrame = {
    import s.implicits._
    // the crash variant stages 6 files so the replay run still covers
    // ≥ 3 data micro-batches (replayed batch 2 + files 3-5), q70's layout
    val staged = stageDocSplit(s, dir, tag, n = if (failAt.isDefined) 6 else 4)
    val ck = Files.createTempDirectory(s"graft-$tag-ck").toString
    val stream = s.readStream
      .schema(StructType(docFields))
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)
      .select($"doc_id", fingerprint($"text"))
      .join(fingerprintCorpus(s, dir), Seq("fingerprint"), "left_anti")
      .groupBy($"fingerprint")
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("batch_dups"))
    val latest = Window.partitionBy($"fingerprint").orderBy($"_batch".desc)
    crashGate(s, tag, staged, ck, failAt.toSeq, statefulOps = 1,
        why = "the admission agg; the stream-static probe is stateless",
        outputMode = "update")(stream)(
        (batch, batchId) => Some(batch.withColumn("_batch", lit(batchId))))
      .withColumn("_rn", row_number().over(latest))
      .filter($"_rn" === 1)
      .select($"doc_id", $"fingerprint", $"batch_dups")
      .orderBy($"doc_id")
  }

  /** q91 — CONTINUOUS ingest with PER-BATCH INDEX FOLDS: the streaming
    * realization of q89's admit → fold → admit-again cycle, the full
    * analog of the reference's continuous DeltaStreamer loop (ref
    * `demonstration_notes.md` "Run Hudi DeltaStreamer Continuously",
    * `deltastreamer_jobs_cont_bkgd.sh` — each cycle upserts arrivals
    * into the standing table the NEXT cycle reads). Incoming docs
    * trickle in as ≥ 4 doc_id-ordered files; each micro-batch probes
    * the standing fingerprint index (corpus segment + every EARLIER
    * batch's folded admissions), keeps the smallest-id holder per
    * fingerprint within the batch, sinks its admissions to a
    * batch-keyed dir, and FOLDS them into the index as segment
    * `batchId + 1` — so a later batch rejects docs duplicating an
    * earlier batch's admission through the INDEX, not through operator
    * state. The query is fully STATELESS (`stateOperators` empty is
    * required): the standing index IS the cross-batch state — the
    * complement of q84, which carries the same semantics in an
    * update-mode agg's state store.
    *
    * Because staged files are doc_id-ordered, first-wins-across-batches
    * equals global smallest-id-wins, so the admitted set is exactly
    * q73's (its oracle minus the in-batch dup count, which fold-based
    * rejection deliberately does not accumulate across batches).
    *
    * Modality choice, deliberate: this gate runs the EXACT-fingerprint
    * modality because exact matching is an equivalence relation — the
    * fold-admitted set equals the batch-layout-invariant "smallest id
    * per fingerprint" regardless of where micro-batch boundaries fall,
    * which is what makes a DuckDB oracle possible. Fuzzy fold-admission
    * (fold only ADMITTED docs' band keys, as q89 does for two batches)
    * is a sequential greedy recurrence under a NON-transitive similarity:
    * its result depends on batch boundaries, so a streamed N-batch
    * near-dup fold has no boundary-FREE oracle. q96/q97 close that
    * modality gap anyway by pinning the boundaries INTO the oracle: a
    * hash-group batch layout both engines can spell, with the recurrence
    * unrolled over exactly those groups (the two-batch u-threshold shape
    * stays gated by q89/q90).
    *
    * Scale: each probe is an anti-join against bucketed index segments
    * (zero-exchange on the index side — BucketingSpec's maintained-index
    * law); each fold is O(batch) ([[graft.operators.StandingIndex]];
    * measured flat across two corpus decades, q89_fold_probe); segment
    * count is bounded by compaction off the ingest path.
    */
  def q91StreamingFold(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q91", Fingerprints, Schedule(4))

  /** q92 — the mid-batch crash at the INDEX-FOLD shape: q91's pipeline
    * with the sink's first attempt of data batch 2 dying AFTER both its
    * durable effects (the batch-keyed admissions dir AND the index fold
    * of segment 3) but before the engine records the commit. This
    * crashes the one exactly-once mechanism the matrix had not: the
    * replayed batch re-probes and re-folds — and the probe reads only
    * STRICTLY-EARLIER segments (`segId ≤ batchId`), so the replay never
    * sees its own crashed fold (probing it would reject every replayed
    * doc against itself and silently lose the batch's admissions — the
    * failure this gate exists to catch); the re-fold is the batch-keyed
    * idempotent overwrite ([[graft.operators.StandingIndex.foldAt]]),
    * deterministically rewriting segment 3 with identical content. The
    * batch-dir union must meet q91's oracle verbatim.
    */
  def q92MidBatchFailureFold(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q92", Fingerprints, Schedule(6, crashes = Seq(2L)))

  /** q94 — COMPACTION DURING CONTINUOUS INGEST: q91's streaming fold
    * pipeline with a compaction injected at the head of batch 2 —
    * strictly after batch 1's COMMIT, bounded to committed folds
    * (`compact(coverAtMost = 2)`) — the shape the reference actually
    * deploys: Hudi compaction running alongside DeltaStreamer
    * `--continuous` upserts, planning only COMMITTED file slices (ref
    * `hudi/debezium_hudi_demo/demonstration_notes.md` "Run Hudi
    * DeltaStreamer Continuously"; MoR's `_ro`/`_rt` views exist
    * precisely so readers survive it). The mechanism is
    * [[graft.operators.StandingIndex]]'s coverage metadata: the merged
    * generation records the max fold id it SUBSUMES, and
    * `segmentsUpTo(batchId)` selects by coverage, not physical id, so
    * batch 2's strictly-earlier probe still resolves the merged segment
    * (ids 0..2) while later batches fold and probe right through it.
    * The head-of-batch bounded placement is itself load-bearing:
    * compacting inside batch 1 after its sink would open a crash window
    * (compact durable, batch 1's commit not) whose replay finds no
    * segment covering ≤ 1 and wedges the stream permanently — with the
    * bounded head-of-batch-2 spelling, every crash replays the same
    * compact idempotently (see q95). The gate's claim is q93's
    * compaction invisibility lifted to the STREAMING shape: the result
    * must meet q91's oracle VERBATIM — a compaction that loses, dups,
    * or double-counts index keys shifts some batch's admissions and
    * fails the hash.
    */
  def q94CompactedStreamingFold(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q94", Fingerprints, Schedule(4, cadence = Cadence.AtBatch2))

  /** q95 — q94's mid-stream compaction COMPOSED with q92's mid-batch
    * crash: batch 2's first attempt compacts (bounded, covers ≤ 2),
    * probes, folds segment 3, sinks — then dies before the commit. The
    * replay re-runs the SAME bounded compact (idempotent: it merges the
    * first attempt's generation into a new one with identical content —
    * the crashed fold at cover 3 > 2 is never subsumed), then must
    * probe `segmentsUpTo(2)` = the merged generation ALONE — the
    * coverage selection has to simultaneously keep the compacted corpus
    * visible AND keep the replay's own crashed fold invisible, the two
    * failure modes that pull in opposite directions — and re-folds
    * segment 3 idempotently. Batch-dir union meets q91's oracle
    * verbatim.
    */
  def q95CompactedFoldCrash(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q95", Fingerprints,
      Schedule(6, cadence = Cadence.AtBatch2, crashes = Seq(2L)))

  /** q111 — the COMPACTION-CADENCE POLICY as code: q91's continuous fold
    * loop over a LONG horizon (10 micro-batches) where compaction fires
    * from [[graft.operators.StandingIndex.compactIfOver]] — merge the
    * committed prefix whenever the live segment count exceeds k = 4 —
    * not from the harness. This moves the Θ(corpus/batch) cadence rule
    * from COVERAGE prose into the operator: the policy alone must keep
    * the probe fan-out bounded (asserted ≤ k at every batch's probe
    * point) while firing ≥ 2 times across the run (asserted — a policy
    * that never fires silently degrades this gate to q91), and the
    * admitted set must STILL meet q91's oracle verbatim — cadence is a
    * pure cost knob, never a semantics knob. Scale: this is the index's
    * steady-state shape on an infinite stream — segment count sawtooths
    * in [1, k+1] forever, each compact bounded to committed covers so a
    * crash anywhere replays it idempotently (q95's law).
    */
  def q111PolicyCompactedFold(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q111", Fingerprints, Schedule(10, cadence = Cadence.Policy(4)))

  /** The ONE streaming fold-gate driver behind all 32 fold gates
    * (q91–q123): a gate is a [[FoldModality]] (what is folded) run on a
    * [[Schedule]] (how long, on which clock, compacted when, crashed
    * where). The driver stages the modality's incoming rows as
    * `schedule.n` files (one per micro-batch), inits the standing index
    * with the corpus stamped at the clock's pre-batch-0 stamp, streams
    * the modality's in-stream projection (with `withWatermark` on the
    * watermark clock), and runs each micro-batch through [[FoldStep]] —
    * compaction cadence, then the clock's expiry, then the modality's
    * admit-and-fold — into [[crashGate]]'s batch-keyed sink with the
    * schedule's injected crashes. Fences, on top of the skeleton's drive
    * and STATELESS checks: the watermark window law and advancing engine
    * watermarks on the watermark clock (q108), ≥ 2 policy firings on a
    * policy cadence (q111), the modality's non-vacuity fence, and a
    * gate's own `soak` fences (q123). Each gate's scaladoc carries its
    * semantics; q91's the fold law, q70's the injection contract, q94's
    * the coverage argument, q98's and q108's the two expiry clocks,
    * q111's the cadence policy.
    */
  private[graft] def foldGate(
      s: SparkSession, dir: String, tag: String, m: FoldModality,
      schedule: Schedule, soak: Option[Soak] = None): DataFrame = {
    val wm = schedule.clock == Clock.Watermark
    if (wm) requireWmWindowLaw(tag)
    val staged = m.stage(s, dir, tag, schedule.n, schedule.clock,
      allowEmpty = soak.isDefined)
    val corpus = m.corpus(s, dir, tag, expiring = schedule.clock != Clock.Never)
    val ix = new graft.operators.StandingIndex(
      s, foldIxName(tag, m), buckets = 4, keys = m.keys)
    ix.init(corpus.rows, maxEventMs = schedule.clock.corpusStamp)
    val ck = Files.createTempDirectory(s"graft-$tag-ck").toString
    val step = new FoldStep(s, ix, schedule.clock, schedule.cadence, ck,
      gateName(tag), corpus.admit)
    val eventTs = if (wm) Seq(StructField("event_ts", TimestampType)) else Nil
    val read = s.readStream
      .schema(StructType(m.fields ++ eventTs))
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)
      .select(m.incoming ++ eventTs.map(f => col(f.name)): _*)
    val stream =
      if (wm) read.withWatermark("event_ts", s"${WmDelayMs / 1000} seconds") else read
    val result = crashGate(s, tag, staged, ck, schedule.crashes, statefulOps = 0,
        why = "STATELESS: the standing index is the cross-batch state; " +
          "the watermark operator holds no store")(stream) { (batch, batchId) =>
        def folded = step(batch, batchId).map(_.select(col(m.id),
          lit(batchId + 1).cast("int").as("batch"), col(m.out)))
        soak.fold(folded)(_.around(batchId)(folded))
      }
      .select(m.resultCols(schedule.clock).map(col): _*)
      .orderBy(m.id)
    // the engine must actually have reported advancing watermarks — a
    // silently-absent watermark would leave every expire() a no-op and
    // collapse the gate into the never-expiring shape (q108's fence)
    if (wm) require(step.sawWm.get >= schedule.n - 2,
      s"$tag: the engine must report a committed event-time watermark " +
        s"from batch 2 on, got ${step.sawWm.get} reports")
    // q111's non-vacuity fence: a policy that never fired would silently
    // degrade the gate to its harness-free twin and prove nothing
    schedule.cadence match {
      case Cadence.Policy(_) => require(step.policyFired.get >= 2,
        s"$tag: the cadence policy must fire >= 2 compactions across the " +
          s"run, got ${step.policyFired.get}")
      case _ =>
    }
    soak.foreach(_.check(step.policyFired.get))
    corpus.fence(result, schedule.n)
    result
  }

  private[graft] def foldIxName(tag: String, m: FoldModality): String =
    s"${tag}_${m.name}_ix"

  /** The clock a fold [[Schedule]] stamps folds with and expires on. The
    * two expiring clocks run the SAME horizon recurrence (q108's window
    * law makes the ms clock batch-exact), so their oracles and fences
    * coincide.
    */
  private[graft] sealed trait Clock {
    /** The stamp the corpus is folded with, before batch 0. */
    def corpusStamp: Long
  }
  private[graft] object Clock {
    /** Never expires: corpus and every fold stamped `Long.MaxValue`. */
    case object Never extends Clock { def corpusStamp = Long.MaxValue }
    /** q98's batch-position clock: folds stamped `batchId`, expiry at
      * `batchId − H` before the probe; the corpus, stamped −1, expires
      * exactly when batch H's threshold passes it.
      */
    case object BatchHorizon extends Clock { def corpusStamp = -1L }
    /** q108's production clock: folds stamped with the batch's max event
      * time, expiry at `committedWatermark − horizonMs`; the corpus is
      * stamped one step before batch 0's events.
      */
    case object Watermark extends Clock { def corpusStamp = WmT0 - WmStepMs }
  }

  /** When a fold [[Schedule]] compacts the standing index — always at
    * the head of a batch and bounded to committed folds
    * (`coverAtMost = batchId`): compacting inside a batch after its sink
    * would open a crash window (compact durable, batch commit not) whose
    * replay finds no segment covering the earlier batch and wedges;
    * here a crash anywhere in the batch replays the same bounded compact
    * idempotently, and a crashed replay fold (cover `batchId + 1`) can
    * never be subsumed — Hudi's async-compaction discipline.
    */
  private[graft] sealed trait Cadence
  private[graft] object Cadence {
    case object Never extends Cadence
    /** q94's harness-scheduled compact at the head of batch 2, strictly
      * after batch 1's COMMIT.
      */
    case object AtBatch2 extends Cadence
    /** q111's policy: `compactIfOver(k)` at every batch head, with live
      * segments ≤ k asserted at every probe point.
      */
    final case class Policy(k: Int) extends Cadence
  }

  /** A fold gate's run: `n` staged files (one per micro-batch), the
    * index clock, the compaction cadence, and the batches whose first
    * attempt crashes after all durable effects.
    */
  private[graft] final case class Schedule(
      n: Int, clock: Clock = Clock.Never, cadence: Cadence = Cadence.Never,
      crashes: Seq[Long] = Nil)

  /** ONE micro-batch of a fold schedule — the cadence's compaction, then
    * the clock's expiry and stamp, then the modality's admit-and-fold
    * (`admit(batch, ix, batchId, stampMs)`) — shared by [[foldGate]] and
    * StreamBench's fold subjects, so bench and gate measure one
    * spelling. Returns the admitted frame, or None for a rowless
    * watermark-clock batch (nothing arrived, nothing to probe or fold).
    * `policyFired` and `sawWm` count for the gates' non-vacuity fences.
    */
  private[graft] final class FoldStep(
      s: SparkSession, ix: graft.operators.StandingIndex,
      clock: Clock, cadence: Cadence, ck: String, qn: String,
      admit: (DataFrame, graft.operators.StandingIndex, Long, Long) => DataFrame) {
    val policyFired = new java.util.concurrent.atomic.AtomicInteger(0)
    val sawWm = new java.util.concurrent.atomic.AtomicInteger(0)

    def apply(batch: DataFrame, batchId: Long): Option[DataFrame] = {
      cadence match {
        case Cadence.AtBatch2 => if (batchId == 2L) ix.compact(coverAtMost = batchId)
        case Cadence.Policy(k) =>
          // the bounded-fan-out law from the SAME pointer read the
          // decision used (one read per batch on the no-fire path)
          val (fired, live) = ix.compactIfOverCounted(k, coverAtMost = batchId)
          if (fired) policyFired.incrementAndGet()
          require(live <= k,
            s"$qn: the cadence policy must bound live segments to <= $k " +
              s"at every probe point, got $live at batch $batchId")
        case Cadence.Never =>
      }
      // expiry first (q98's ordering): entries behind the horizon stop
      // blocking BEFORE this batch probes
      val (src, stampMs) = clock match {
        case Clock.Never => (batch, Some(Long.MaxValue))
        case Clock.BatchHorizon =>
          ix.expire(expireBeforeMs = batchId - ExpiryHorizon)
          (batch, Some(batchId))
        case Clock.Watermark =>
          // record + expire BEFORE the checkpoint: the record must be the
          // step's FIRST durable act — a crash during the (multi-second)
          // checkpoint must still find the planning watermark recorded,
          // or the replay (whose restarted query has a null lastProgress)
          // could never re-derive this batch's expiry threshold
          plannedWatermarkMs(s, ck, qn, batchId).foreach { wm =>
            if (wm > 0L) sawWm.incrementAndGet()
            ix.expire(expireBeforeMs = wm - WmHorizonMs)
          }
          // CHECKPOINT the batch once: foreachBatch re-executes the whole
          // micro-batch plan per action with no column pruning through
          // it, so a second raw action (the stamp aggregate) cost one
          // full extra batch execution (+3.7 s/batch measured at the 100×
          // decade)
          val src = batch.localCheckpoint()
          val maxRow = src.agg(max(unix_millis(col("event_ts")))).head
          (src, if (maxRow.isNullAt(0)) None else Some(maxRow.getLong(0)))
      }
      stampMs.map(admit(src.drop("event_ts"), ix, batchId, _))
    }
  }

  /** One run's corpus side of a [[FoldModality]]: the index rows folded
    * before batch 0, the existing per-batch admit-and-fold call over
    * them, and the modality's non-vacuity fence over the gate's result
    * (and its `n`).
    */
  private[graft] final case class FoldCorpus(
      rows: DataFrame,
      admit: (DataFrame, graft.operators.StandingIndex, Long, Long) => DataFrame,
      fence: (DataFrame, Int) => Unit)

  /** What a fold gate folds: the staging split, the staged schema and
    * its in-stream projection, the index keys, the corpus side
    * ([[FoldCorpus]]), and the sink's `(id, batch, out)` columns.
    */
  private[graft] sealed abstract class FoldModality(
      val name: String, val id: String, val out: String, val keys: Seq[String]) {
    def stage(s: SparkSession, dir: String, tag: String, n: Int, clock: Clock,
        allowEmpty: Boolean): String
    def fields: Seq[StructField]
    def incoming: Seq[Column] = fields.map(f => col(f.name))
    def resultCols(clock: Clock): Seq[String] = Seq(id, "batch", out)
    def corpus(s: SparkSession, dir: String, tag: String, expiring: Boolean): FoldCorpus
  }

  /** The exact bag-fingerprint modality (q91/q98/q108): the index holds
    * fingerprints, a batch admits the smallest-id holder per fingerprint
    * absent from every strictly-earlier segment
    * ([[LlmQueries.admitAndFold]]).
    */
  private[graft] case object Fingerprints
      extends FoldModality("fp", "doc_id", "fingerprint", Seq("fingerprint")) {
    // never-expiring: doc_id-ordered quantile files, so first wins across
    // batches = smallest id wins (q91's boundary-free oracle); expiring:
    // the oracle-pinned hash groups the windowed recurrence needs (q98)
    def stage(s: SparkSession, dir: String, tag: String, n: Int, clock: Clock,
        allowEmpty: Boolean): String =
      if (clock == Clock.Never) stageDocSplit(s, dir, tag, n)
      else stageDocHashSplit(s, dir, tag, n, eventTs = clock == Clock.Watermark,
        allowEmpty = allowEmpty)
    def fields: Seq[StructField] = docFields
    override def incoming: Seq[Column] = Seq(col("doc_id"), fingerprint(col("text")))
    // q91's oracle is q73's admitted set, which has no batch column
    override def resultCols(clock: Clock): Seq[String] =
      if (clock == Clock.Never) Seq(id, out) else super.resultCols(clock)
    def corpus(s: SparkSession, dir: String, tag: String,
        expiring: Boolean): FoldCorpus = {
      val fps = fingerprintCorpus(s, dir)
      FoldCorpus(fps, LlmQueries.admitAndFold(_, _, _, _), (result, _) =>
        // non-vacuity fence: expiry must have RE-OPENED at least one
        // corpus-blocked fingerprint (an admission the never-expiring
        // gate would reject) — otherwise the gate silently collapses into
        // q91 and proves nothing about the horizon
        if (expiring) require(result.join(fps, "fingerprint").count() > 0,
          s"$tag must admit at least one post-expiry corpus duplicate, got none"))
    }
  }

  /** The text NEAR-DUP modality (q96/q104/q115): the index holds MinHash
    * band keys, a batch admits by q75's exact-Jaccard semantics against
    * strictly-earlier segments with blocker shingles served from the
    * full document store by id — the point lookup a bucket-pruned doc
    * store (q53) serves at 100 TB ([[LlmQueries.neardupAdmitAndFold]]).
    */
  private[graft] case object NearDups
      extends FoldModality("band", "doc_id", "n_shingles", Seq("band", "bk")) {
    def stage(s: SparkSession, dir: String, tag: String, n: Int, clock: Clock,
        allowEmpty: Boolean): String =
      stageDocHashSplit(s, dir, tag, n, eventTs = clock == Clock.Watermark,
        allowEmpty = allowEmpty)
    def fields: Seq[StructField] = docFields
    def corpus(s: SparkSession, dir: String, tag: String,
        expiring: Boolean): FoldCorpus = {
      import s.implicits._
      // the confirm step's doc store: every blocker's shingles fetched by
      // id (one checkpointed frame shared by all batches)
      val docStoreSh = LlmQueries.shingleDocs(Tables.documents(s, dir))
        .localCheckpoint()
      val corpusBands = {
        val b = LlmQueries.minhashBands(docStoreSh
            .filter(graft.operators.Sampling.uniform01($"doc_id") >= 0.3))
          .select($"doc_id", $"band", $"bk")
        // the expiring fence below re-probes against the corpus index
        if (expiring) b.localCheckpoint() else b
      }
      FoldCorpus(corpusBands, LlmQueries.neardupAdmitAndFold(_, _, _, docStoreSh, _),
        (result, _) => if (expiring) {
          // non-vacuity fence: expiry must have RE-OPENED at least one
          // corpus-blocked doc — a late admission with a CONFIRMED corpus
          // near-duplicate (band-candidate + exact Jaccard >= 0.8), which
          // the never-expiring gate would reject; otherwise the expiring
          // gate silently collapses into q96
          val lateSh = docStoreSh
            .join(result.filter($"batch" > ExpiryHorizon).select($"doc_id"), "doc_id")
            .localCheckpoint()
          val lateCand = LlmQueries.minhashBands(lateSh)
            .select($"doc_id", $"band", $"bk")
            .join(corpusBands.select($"doc_id".as("blocker"), $"band", $"bk"),
              Seq("band", "bk"))
            .select($"doc_id", $"blocker").distinct()
          val reopened = lateCand
            .join(lateSh.select($"doc_id", $"sh".as("sh_i")), "doc_id")
            .join(docStoreSh.select($"doc_id".as("blocker"), $"sh".as("sh_b")), "blocker")
            .withColumn("common", size(array_intersect($"sh_i", $"sh_b")))
            .filter($"common".cast("double") /
              (size($"sh_i") + size($"sh_b") - $"common") >= 0.8)
            .select($"doc_id").distinct().count()
          require(reopened > 0,
            s"$tag must admit at least one post-expiry corpus near-duplicate, got none")
        })
    }
  }

  /** The EMBEDDING modality (q100/q102/q117): the index holds sign-LSH
    * bucketed sketch rows, a batch admits by q80's exact
    * integer-scaled-cosine semantics against strictly-earlier segments
    * ([[LlmQueries.vectorAdmitAndFold]]).
    */
  private[graft] case object Vectors
      extends FoldModality("vec", "vec_id", "bucket", Seq("bucket")) {
    def stage(s: SparkSession, dir: String, tag: String, n: Int, clock: Clock,
        allowEmpty: Boolean): String =
      stageVecHashSplit(s, dir, tag, n, eventTs = clock == Clock.Watermark,
        allowEmpty = allowEmpty)
    def fields: Seq[StructField] = Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)))
    def corpus(s: SparkSession, dir: String, tag: String,
        expiring: Boolean): FoldCorpus = {
      import s.implicits._
      val corpusFrame = LlmQueries.vectorIndexRows(
          LlmQueries.vectorSketch(Tables.embeddings(s, dir))
            .filter(graft.operators.Sampling.uniform01($"vec_id") >= 0.5))
        .localCheckpoint() // reused by the non-vacuity fences below
      FoldCorpus(corpusFrame, LlmQueries.vectorAdmitAndFold(_, _, _, _), (result, n) =>
        if (!expiring) {
          // non-vacuity fence (never-expiring shape): at least one
          // rejection must be attributable to a FOLD (an earlier batch's
          // admission), not the corpus or the in-batch self-join —
          // otherwise the gate silently collapses into a streamed q80 and
          // proves nothing about index maintenance. The no-fold baseline
          // replays each batch's admission against the corpus segment
          // ALONE; strictly more admissions there means a fold blocked
          // somebody here.
          val grpCol = (graft.operators.Sampling.hash60(
            concat(lit("g"), $"vec_id".cast("string"))) % n + 1).cast("int")
          val stagedSv = LlmQueries.vectorSketch(Tables.embeddings(s, dir)
              .filter(graft.operators.Sampling.uniform01($"vec_id") < 0.5))
            .withColumn("g", grpCol).localCheckpoint()
          val noFold = (1 to n).map { k =>
            LlmQueries.admitByVectorSegments(
              stagedSv.filter($"g" === k).drop("g"), Seq(corpusFrame)).count()
          }.sum
          val admittedCount = result.count()
          require(noFold > admittedCount,
            s"$tag: folds must block at least one vector " +
              s"(no-fold admissions $noFold vs admitted $admittedCount)")
        } else {
          // non-vacuity fence (expiring shape): expiry must have
          // RE-OPENED at least one corpus-blocked vector — an admission
          // in a batch past the horizon whose confirmed corpus
          // near-duplicate would have rejected it under the
          // never-expiring gate; otherwise the gate collapses into q100
          val lateSv = LlmQueries.vectorSketch(Tables.embeddings(s, dir))
            .join(result.filter($"batch" > ExpiryHorizon).select($"vec_id"), "vec_id")
          val reopened = lateSv.join(corpusFrame, "bucket")
            .withColumn("cosine", graft.operators.VectorOps.cosineFromParts(
              graft.operators.VectorOps.dotL($"v", $"bv"), $"nsq", $"bn"))
            .filter($"cosine" >= 0.4)
            .select($"vec_id").distinct().count()
          require(reopened > 0,
            s"$tag must admit at least one post-expiry corpus near-duplicate, got none")
        })
    }
  }

  /** The doc staging schema of the text modalities. */
  private val docFields = Seq(
    StructField("doc_id", LongType), StructField("text", StringType))

  /** A doc's bag fingerprint — q73's spelling. */
  private def fingerprint(text: Column): Column =
    graft.operators.TextOps.bagFingerprint(
      graft.operators.TextOps.normText(text)).as("fingerprint")

  /** q73's corpus side (`u ≥ 0.3`) as fingerprints. */
  private def fingerprintCorpus(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(graft.operators.Sampling.uniform01(col("doc_id")) >= 0.3)
      .select(fingerprint(col("text")))

  /** q91/q92's oracle: q73's admitted set (smallest-id holder per
    * non-corpus-blocked fingerprint) without the in-batch dup count —
    * see q91's scaladoc for why fold-based rejection makes the two
    * spellings coincide on doc_id-ordered batches.
    */
  private val foldGateOracle: String = {
    val u = graft.operators.Sampling.duckUniform01("CAST(doc_id AS VARCHAR)")
    s"""WITH f AS (
       |  SELECT doc_id,
       |    md5(array_to_string(list_sort(list_distinct(string_split(
       |      lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '))), ' ')) AS fingerprint,
       |    $u AS u
       |  FROM documents)
       |SELECT min(i.doc_id) AS doc_id, i.fingerprint
       |FROM f i
       |WHERE i.u < 0.3 AND NOT EXISTS (
       |  SELECT 1 FROM f c WHERE c.u >= 0.3 AND c.fingerprint = i.fingerprint)
       |GROUP BY i.fingerprint
       |ORDER BY doc_id""".stripMargin
  }

  /** q96 — the streamed NEAR-DUP fold: q91's continuous-ingest loop on
    * the FUZZY modality, closing the asymmetry q91's scaladoc documents
    * (exact fingerprints stream-gated at N batches; near-dup previously
    * only at the two-batch shape q89/q90). Each micro-batch of arriving
    * docs is shingled and banded IN the stream (one banding pass — the
    * checkpointed frame serves probe and fold, [[LlmQueries
    * .admitByBandFrame]]), admitted by q75's exact semantics against the
    * standing band index's strictly-earlier segments, and the ADMITTED
    * docs' band keys fold in as segment `batchId + 1` — so a later batch
    * rejects docs near-duplicating an earlier batch's admission through
    * the INDEX. The N-batch greedy recurrence has no batch-layout-FREE
    * oracle (non-transitive similarity — q91's argument stands), so the
    * gate pins the layout itself into the oracle: docs land in
    * micro-batch `hash60('g' || doc_id) % n` ([[stageDocHashSplit]] —
    * deterministic, DuckDB-reproducible), and the oracle unrolls the
    * recurrence over exactly those groups
    * ([[LlmQueries.neardupSequentialOracle]]). The exact-confirm's
    * blocker shingles are served from the full document store by id —
    * the point-lookup a bucket-pruned doc store (q53) serves at 100 TB.
    *
    * Scale: identical to q89's story — O(batch) folds, per-segment
    * zero-exchange band probes (BucketingSpec law), candidates bounded
    * by the batch's band collisions; the stream is fully STATELESS (the
    * index is the cross-batch state).
    */
  def q96StreamingNeardupFold(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q96", NearDups, Schedule(4))

  /** q97 — q96's pipeline crashed on the first attempt of batch 2 after
    * both durable effects (admissions dir + band-key fold), then
    * replayed: q92's recovery contract at the NEAR-dup shape — the
    * replay probes strictly-earlier segments only (its own crashed fold,
    * cover 3, stays invisible) and re-folds segment 3 idempotently with
    * byte-identical band keys (banding is deterministic per doc). The
    * batch-dir union meets q96's oracle for the 6-batch layout verbatim.
    */
  def q97NeardupFoldCrash(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q97", NearDups, Schedule(6, crashes = Seq(2L)))

  /** q109 — q94's MID-STREAM COMPACTION on the NEAR-DUP modality: q96's
    * continuous banded-fold loop with the bounded head-of-batch compact
    * injected at batch 2, gating the matrix cell the round-13 spanning
    * ARGUMENT covered (compact moves whole segments without inspecting
    * key schema) with an end-to-end oracle: the merged band-key
    * generation must keep every in-flight `segmentsUpTo` probe resolving
    * the same candidates, so the admitted set meets q96's sequential
    * oracle VERBATIM — a compaction that loses, dups, or re-keys band
    * rows shifts some batch's candidate set and fails the hash.
    */
  def q109CompactedNeardupFold(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q109", NearDups, Schedule(4, cadence = Cadence.AtBatch2))

  /** q96/q97's oracle: the sequential near-dup recurrence unrolled over
    * the gate's exact hash-group batch layout (see q96's scaladoc).
    * With `horizon` set, q104/q105's expiring variant of the same
    * generator.
    */
  private def neardupGateOracle(n: Int, horizon: Option[Long] = None): String = {
    val u = graft.operators.Sampling.duckUniform01("CAST(doc_id AS VARCHAR)")
    val gh = graft.operators.Sampling.duckHash60("'g' || CAST(doc_id AS VARCHAR)")
    LlmQueries.neardupSequentialOracle(
      s"CASE WHEN $u >= 0.3 THEN 0 ELSE 1 + ($gh % $n) END", n, horizon)
  }

  /** q104 — streamed EXPIRING dedup on the NEAR-DUP modality: q98's
    * horizon recurrence through q96's pipeline, closing the last
    * modality-specific surface the mechanism × modality matrix argument
    * left open (the near-dup cycle's stamp plumb-through — q102's
    * vector twin pinned the other one). Per micro-batch: expire
    * segments stamped behind `batchId − H` (H = 2), then the shared
    * shingle-and-band-once cycle ([[LlmQueries.neardupAdmitAndFold]])
    * probes the SURVIVING strictly-earlier band segments with the
    * exact-Jaccard confirm and folds the admitted band keys stamped at
    * the batch position (corpus stamped pre-batch-0). A doc whose only
    * blocker is a corpus near-duplicate flips to ADMITTED from batch
    * H+1 on — measured post-expiry corpus re-admissions 2/7/51 at the
    * three SFs (5-batch shape; 2/5/67 at the 6-batch crash shape),
    * enforced by an in-gate fence. Oracle =
    * [[LlmQueries.neardupSequentialOracle]] with windowed blocker arms
    * — the SAME generator as q89/q96/q97.
    */
  def q104ExpiringNeardupFold(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q104", NearDups, Schedule(5, Clock.BatchHorizon))

  /** q105 — q104's pipeline crashed on the first attempt of batch 2
    * after its durable effects (expire + fold + sink), then replayed:
    * idempotent expire, probe of surviving strictly-earlier segments
    * only (the crashed fold, cover 3, stays invisible), byte-identical
    * stamped re-fold of the deterministic band keys.
    */
  def q105ExpiringNeardupCrash(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q105", NearDups,
      Schedule(6, Clock.BatchHorizon, crashes = Seq(2L)))

  /** q115 — q104's expiring NEAR-DUP fold with the expiry clock spelled
    * the way a production deployment spells it (q108's watermark clock
    * on the near-dup modality): the staged docs carry a REAL event-time
    * column with q108's geometry, the stream declares
    * `withWatermark(event_ts, 15s)`, folds are stamped with the batch's
    * MAX EVENT TIME, and each batch expires at
    * `committedWatermark − horizonMs` read from the engine's own
    * committed progress — recorded durably per batch
    * ([[plannedWatermarkMs]]) so a replay can re-derive the identical
    * threshold. The window law (q108's scaladoc) makes the ms-clock
    * recurrence batch-exact, so q104's windowed sequential oracle
    * applies VERBATIM — which is the point: the stamp plumb-through in
    * [[LlmQueries.neardupAdmitAndFold]] was the one modality-specific
    * expiry surface the watermark clock had gates on only by argument
    * (a mis-plumbed stamp shifts some blocker's lifetime and fails the
    * hash). Fences: advancing engine watermarks (sawWm ≥ n−2) and ≥ 1
    * post-expiry corpus re-admission, exactly q104's.
    */
  def q115WatermarkNeardupFold(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q115", NearDups, Schedule(5, Clock.Watermark))

  /** q116 — q115's pipeline crashed on the first attempt of batch 2
    * after ALL durable effects (the recorded planning watermark, the
    * expiry it drove, the max-event-stamped band fold, the sink), then
    * replayed: q112's recovery discipline on the NEAR-DUP modality. The
    * restarted query has no progress to read, so the replay re-derives
    * batch 2's expiry threshold from the RECORDED planning watermark,
    * re-expires idempotently, probes the surviving strictly-earlier
    * band segments only, and re-folds segment 3 with byte-identical
    * band keys AND the identical max-event stamp.
    */
  def q116WatermarkNeardupCrash(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q116", NearDups,
      Schedule(6, Clock.Watermark, crashes = Seq(2L)))

  /** q119 — q113's FULLY-COMPOSED PRODUCTION LOOP on the NEAR-DUP
    * modality: q115's watermark-clocked expiring band fold with
    * compaction fired by the CADENCE POLICY (`compactIfOver`, k = 2)
    * instead of the harness. Under the watermark clock every band fold
    * carries a distinct max-event stamp, so a policy firing is always a
    * MIXED-STAMP merge (q106's entry-level `_g_stamp` machinery on the
    * band-key schema), and the expire right after filter-rewrites the
    * merged generation when its stamp range straddles the threshold —
    * with k = 2 that partial arm is exercised repeatedly. The policy is
    * a cost knob, never a semantics knob: the admitted set meets q115's
    * windowed sequential oracle VERBATIM, while in-gate fences require
    * ≥ 2 policy firings, live segments ≤ k at every probe point,
    * advancing engine watermarks, and ≥ 1 post-expiry corpus
    * re-admission.
    */
  def q119PolicyNeardupFold(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q119", NearDups,
      Schedule(5, Clock.Watermark, Cadence.Policy(2)))

  /** q120 — q119's pipeline crashed on the first attempt of batch 2
    * after ALL durable effects, then replayed: q114's crash cell on the
    * NEAR-DUP modality. The first attempt's policy compact committed
    * before the crash (head-of-batch, bounded to committed covers), so
    * the replay's policy re-reads the compacted state and correctly
    * does NOT re-fire; it re-derives the expiry threshold from the
    * RECORDED planning watermark, re-expires idempotently, probes the
    * surviving strictly-earlier segments, and re-folds byte-identical
    * stamped band keys. The ≥ 2-firings fence spans the whole drive.
    */
  def q120PolicyNeardupCrash(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q120", NearDups,
      Schedule(6, Clock.Watermark, Cadence.Policy(2), crashes = Seq(2L)))


  /** q98 — streamed EXPIRING dedup: q91's continuous fold loop with a
    * DEDUP HORIZON enforced by [[graft.operators.StandingIndex.expire]],
    * the index-lifetime bound an infinite stream needs (q61's
    * state-sizing rule lifted from the dedup operator's state store to
    * the standing index). Each fold is stamped with its batch position
    * as the index's clock (the staged docs carry no event time; a real
    * deployment stamps `max(event_time)` and expires at `watermark −
    * horizon` — the LAW is identical), and each micro-batch first
    * retires every segment wholly beyond `batchId − H` (H = 2), so a
    * fingerprint stops blocking H batches after it folded: a duplicate
    * arriving within the horizon is rejected; one arriving after its
    * blocker expired is ADMITTED AGAIN and re-folds, blocking the next
    * horizon — the sliding-window dedup semantics bounded-state systems
    * actually ship. The corpus segment is stamped BEFORE batch 0, so
    * corpus fingerprints stop blocking from batch H on — which is what
    * makes the gate bite: every corpus-duplicate doc in a late batch
    * must flip from rejected to admitted. The recurrence is
    * batch-layout-dependent (like q96), so the gate uses the
    * oracle-pinned hash-group staging and unrolls admission windows per
    * batch in SQL ([[expiringFoldOracle]]). Expired segments get
    * retain-one grace and are reclaimed by the next fold — index state
    * is O(horizon × batch), never O(stream).
    */
  def q98ExpiringFold(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q98", Fingerprints, Schedule(5, Clock.BatchHorizon))

  /** q99 — q98's pipeline crashed on the first attempt of batch 2 after
    * its durable effects (expire + fold + sink), then replayed. The
    * replay's expire is idempotent (the first attempt's fold already
    * reclaimed what it retired; the surviving set re-derives
    * identically), its probe reads strictly-earlier unexpired segments
    * only (the crashed fold, cover 3, stays invisible), and the re-fold
    * overwrites segment 3 with identical content and stamp — crash
    * recovery composed with horizon expiry, the last pairing of the
    * exactly-once matrix.
    */
  def q99ExpiringFoldCrash(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q99", Fingerprints,
      Schedule(6, Clock.BatchHorizon, crashes = Seq(2L)))

  /** Batches a fold blocks for in the expiring gates (see q98). */
  private val ExpiryHorizon = 2L

  /** q106 — COMPACTION UNDER EXPIRING CONTINUOUS INGEST: q98's horizon
    * recurrence with q94's head-of-batch bounded compaction injected at
    * batch 2 — the one mechanism×mechanism composition the matrix had
    * not run, and the exact deployment shape the reference models (Hudi
    * cleaning and compaction coexisting under continuous DeltaStreamer
    * upsert — ref `hudi/debezium_hudi_demo/base.properties` cleaner
    * retention beside compaction settings, `demonstration_notes.md`
    * "Run Hudi DeltaStreamer Continuously"). In an expiring deployment
    * EVERY fold carries a distinct stamp (its batch position), so the
    * compact at the head of batch 2 necessarily merges MIXED-stamp
    * segments (corpus −1, fold-1 0, fold-2 1): the mechanism under test
    * is [[graft.operators.StandingIndex.compact]]'s entry-level stamps —
    * each merged row keeps its source segment's stamp, and the very next
    * `expire(batchId − H)` must retire exactly the horizon's ENTRIES
    * from the merged generation (a filter-rewrite at the same cover),
    * never stretch or truncate a neighbor batch's lifetime. The result
    * must meet q98's expiring oracle VERBATIM: a compact that stretched
    * the corpus's lifetime suppresses re-admissions from batch H+1 on;
    * one that truncated fold-2's lifetime leaks duplicates into batch 3
    * — both shift admissions and fail the hash.
    */
  def q106ExpiringCompactedFold(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q106", Fingerprints,
      Schedule(5, Clock.BatchHorizon, Cadence.AtBatch2))

  /** q107 — q106's pipeline crashed on the first attempt of batch 2
    * after ALL its durable effects (the bounded compact, the expiry
    * rewrite of the merged generation, the stamped fold, the sink), then
    * replayed: the replay re-runs the SAME bounded compact — now over
    * the already-expired generation alone, idempotently (the crashed
    * fold at cover 3 > 2 is never subsumed) — re-expires (no-op: the
    * surviving range is already inside the horizon), re-probes the
    * merged generation alone, and re-folds segment 3 with identical
    * content AND stamp. Crash recovery composed with compaction AND
    * expiry at once — the full maintenance stack under one failure.
    */
  def q107ExpiringCompactCrash(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q107", Fingerprints,
      Schedule(6, Clock.BatchHorizon, Cadence.AtBatch2, crashes = Seq(2L)))

  /** q98/q99's oracle: per-batch admission windows unrolled over the
    * hash-group layout — batch k (1-based group) is blocked by the
    * corpus only while `k ≤ H`, and by the ADMITTED fingerprints of
    * groups `[k−H, k−1]` (earlier folds have expired); within a batch
    * the smallest-id holder per surviving fingerprint wins (q73's rule).
    * Every CTE is MATERIALIZED: the adm chain references each CTE up to
    * H + 1 times, so default inlining re-expands the whole prefix at
    * every reference — harmless at n ≤ 6, but the soak's n = 50 unroll
    * (q123) turns it into an exponential plan that exhausts file
    * handles re-opening the documents scan; materialization evaluates
    * each window once, which is also what the recurrence MEANS.
    */
  private def expiringFoldOracle(n: Int, horizon: Long): String = {
    val u = graft.operators.Sampling.duckUniform01("CAST(doc_id AS VARCHAR)")
    val gh = graft.operators.Sampling.duckHash60("'g' || CAST(doc_id AS VARCHAR)")
    val admCtes = (1 to n).map { k =>
      // the shared expiry window (LlmQueries.horizonWindow) — the
      // fingerprint modality's spelling of the same blocker arms
      val (corpusBlocks, lo) = LlmQueries.horizonWindow(k, Some(horizon))
      val blockers =
        (if (corpusBlocks)
          Seq(s"EXISTS (SELECT 1 FROM f c WHERE c.g = 0 AND c.fingerprint = i.fingerprint)")
        else Seq.empty) ++
        lo.until(k).map(j =>
          s"EXISTS (SELECT 1 FROM adm$j a WHERE a.fingerprint = i.fingerprint)")
      s"""adm$k AS MATERIALIZED (
         |  SELECT min(i.doc_id) AS doc_id, i.fingerprint
         |  FROM f i
         |  WHERE i.g = $k AND NOT (${blockers.mkString("\n    OR ")})
         |  GROUP BY i.fingerprint)""".stripMargin
    }.mkString(",\n")
    val outArms = (1 to n)
      .map(k => s"  SELECT doc_id, $k AS batch, fingerprint FROM adm$k")
      .mkString("\n  UNION ALL\n")
    s"""WITH f AS MATERIALIZED (
       |  SELECT doc_id,
       |    md5(array_to_string(list_sort(list_distinct(string_split(
       |      lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '))), ' ')) AS fingerprint,
       |    CASE WHEN $u >= 0.3 THEN 0 ELSE 1 + ($gh % $n) END AS g
       |  FROM documents),
       |$admCtes,
       |out AS (
       |$outArms)
       |SELECT doc_id, batch, fingerprint FROM out
       |ORDER BY doc_id""".stripMargin
  }

  // q108's event-time geometry (see q108's scaladoc for the window law):
  // batch k's events live in [T0 + k·step, T0 + k·step + jmax], 0-based
  private[graft] val WmT0 = 1700000000000L
  private[graft] val WmStepMs = 60000L
  private[graft] val WmJitterMax = 20000L
  /** The `withWatermark` delay — the engine's own late-data tolerance. */
  private[graft] val WmDelayMs = 15000L
  /** The dedup horizon in EVENT-TIME ms: entries expire at
    * `committedWatermark − WmHorizonMs`.
    */
  private[graft] val WmHorizonMs = 10000L

  /** q108 — WATERMARK-CLOCKED horizon expiry: q98's expiring recurrence
    * with the index clock spelled the way a production deployment spells
    * it (the contract `StandingIndex.expire`'s scaladoc states): folds
    * are stamped with the batch's MAX EVENT TIME from a real event-time
    * column, the stream declares `withWatermark(event_ts, 15s)`, and
    * each batch expires at `committedWatermark − horizonMs`, where the
    * committed watermark is pulled from the engine's own progress (the
    * watermark the LAST COMMITTED batch ran under — Spark stamps each
    * batch's progress with the watermark used during that batch, so
    * `lastProgress` at batch b reports the watermark of batch b−1,
    * which itself derives from data through batch b−2: the committed
    * clock lags the data by one batch on each of the two hops).
    *
    * The gate's event-time geometry makes that ms-clock recurrence
    * BATCH-EXACT, so q98's oracle applies verbatim: batch k's events
    * live in `[T0 + k·step, T0 + k·step + J_k]` with realized jitter
    * `J_k ≤ jmax` ([[stageDocHashSplit]] `eventTs`), so the expiry
    * threshold at batch b is `T0 + (b−2)·step + J_{b−2} − D − Hms` and a
    * fold stamped at batch j survives iff
    * `(j − b + 2)·step ≥ J_{b−2} − J_j − (D + Hms)`. With
    * `D + Hms = slack` and `jmax ≤ slack < step − jmax` (required at
    * runtime), the jitter terms can never flip a batch boundary:
    * `j ≥ b − H` survives and `j < b − H` expires, for EVERY realized
    * jitter — the exact window [[LlmQueries.horizonWindow]] unrolls with
    * H = [[ExpiryHorizon]]. The corpus is stamped `T0 − step` (one step
    * before batch 0), so corpus blockers flip to re-admissible from
    * batch H on, exactly as q98 — enforced by the same non-vacuity
    * fence. Stateless like every fold gate (the watermark operator
    * tracks event time but holds no state store).
    *
    * The committed watermark each batch plans with is RECORDED durably
    * (an idempotent per-batch file beside the checkpoint) before use —
    * Spark's own offsets-log discipline (the engine re-runs a batch
    * with the batch's original planning state) mirrored at the
    * foreachBatch level, because a RESTARTED query's `lastProgress` is
    * null until its first commit: without the record, a replayed
    * batch could not re-derive the expiry threshold its first attempt
    * used and recovery would diverge (q112 is exactly that crash
    * shape). A deployment that cannot record may instead derive the
    * clock from the index itself (max live fold stamp − delay), which
    * is committed state by construction.
    */
  def q108WatermarkExpiringFold(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q108", Fingerprints, Schedule(5, Clock.Watermark))

  /** q112 — q108's pipeline crashed on the first attempt of batch 2
    * after ALL its durable effects (the recorded planning watermark,
    * the expiry it drove, the stamped fold, the sink), then replayed:
    * the watermark-clock row's crash cell. The replay cannot read the
    * committed watermark from the engine (a restarted query's
    * `lastProgress` is null until its first commit) — it reads the
    * batch's RECORDED planning watermark instead, re-expires
    * idempotently at the same threshold, probes the surviving
    * strictly-earlier segments only, and re-folds segment 3 with the
    * identical max-event stamp. Batch-dir union meets the expiring
    * oracle verbatim.
    */
  def q112WatermarkExpiryCrash(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q112", Fingerprints,
      Schedule(6, Clock.Watermark, crashes = Seq(2L)))

  /** q113 — the FULL PRODUCTION LOOP in one gate: q108's
    * watermark-clocked expiring fold with compaction fired by the
    * CADENCE POLICY (q111's `compactIfOver`, k = 2) instead of the
    * harness — every index-maintenance mechanism the engine ships,
    * composed and self-scheduling the way a deployed pipeline runs
    * them. Each batch: policy-compact the committed prefix (under the
    * watermark clock every fold is distinctly stamped, so a firing is
    * always a MIXED-STAMP merge — q106's entry-level `_g_stamp`
    * machinery on the policy path), then expire at
    * `committedWatermark − horizonMs` (partial filter-rewrites of the
    * merged generation when its stamp range straddles the threshold —
    * with k = 2 the threshold crosses INSIDE the merged range at every
    * post-compact batch, so the partial arm is exercised repeatedly,
    * not once), then probe + max-event-stamped fold. The policy is a
    * cost knob, never a semantics knob: the admitted set meets q108's
    * expiring oracle VERBATIM, while in-gate fences require ≥ 2
    * policy firings (else the gate silently degrades to q108), live
    * segments ≤ k at every probe point (the bounded probe fan-out an
    * infinite stream holds forever), advancing engine watermarks, and
    * ≥ 1 post-expiry corpus re-admission.
    */
  def q113PolicyExpiringWatermarkFold(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q113", Fingerprints,
      Schedule(5, Clock.Watermark, Cadence.Policy(2)))

  /** q114 — q113's pipeline crashed on the first attempt of batch 2
    * after ALL durable effects, then replayed: the crash cell of the
    * fully-composed loop. The first attempt's policy compact COMMITTED
    * before the crash (head-of-batch placement, bounded to committed
    * covers), so the replay's policy re-reads the compacted state —
    * live count back under k — and correctly does NOT re-fire (the
    * no-op arm of the policy is itself replay-correct); it then
    * re-reads the RECORDED planning watermark (q112's discipline),
    * re-expires idempotently, probes the surviving strictly-earlier
    * segments, and re-folds with the identical max-event stamp. The
    * ≥ 2-firings fence spans the whole drive (the later policy firing
    * still lands), and the batch-dir union meets the 6-batch expiring
    * oracle verbatim.
    */
  def q114PolicyExpiryCrash(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q114", Fingerprints,
      Schedule(6, Clock.Watermark, Cadence.Policy(2), crashes = Seq(2L)))

  /** The watermark-clock WINDOW LAW (q108's scaladoc): slack =
    * D + Hms − (H − 2)·step must sit strictly inside
    * [jmax, step − jmax), or realized event-time jitters could flip a
    * batch boundary and the batch-window oracles would not apply.
    * Shared by every watermark-clocked gate (q108/q112–q118).
    */
  private def requireWmWindowLaw(tag: String): Unit = {
    val slack = WmDelayMs + WmHorizonMs - (ExpiryHorizon - 2L) * WmStepMs
    require(slack >= WmJitterMax && slack < WmStepMs - WmJitterMax,
      s"$tag window law violated: slack=$slack not in " +
        s"[$WmJitterMax, ${WmStepMs - WmJitterMax})")
  }

  /** This batch's PLANNING watermark — the engine's COMMITTED watermark,
    * recorded durably (idempotent per-batch file beside the checkpoint)
    * before first use: Spark's own offsets-log discipline (the engine
    * re-runs a batch with the batch's original planning state) mirrored
    * at the foreachBatch level, because a RESTARTED query's
    * `lastProgress` is null until its first commit — without the record
    * a replayed batch could not re-derive the expiry threshold its first
    * attempt used and recovery would diverge (q112/q116/q118 are exactly
    * that crash shape). The record lands via tmp + ATOMIC_MOVE so a
    * crash mid-write can never leave a torn file, and an unparsable
    * record is treated as ABSENT and re-recorded — safe because nothing
    * after the record write had run (a plain writeString here could
    * wedge every restart on NumberFormatException — the one
    * unrecoverable failure inside the recovery mechanism itself).
    *
    * The one crash window the record alone leaves open: the process
    * dies after the ENGINE durably planned batch N (its offsets-log
    * entry is the engine's first durable act) but before the wm record
    * — the replay's restarted query has a null `lastProgress`, so a
    * bare re-record would stamp "absent" and permanently skip that
    * batch's expiry, diverging from the crash-free run. The fallback
    * closes it from Spark's OWN durable offsets log
    * ([[offsetsLogWatermarkMs]]): `offsets/<batchId − 1>` metadata
    * carries exactly the value `lastProgress` would have reported.
    */
  private[graft] def plannedWatermarkMs(
      s: SparkSession, ck: String, qn: String, batchId: Long): Option[Long] = {
    val wmRecord = Paths.get(ck, f"wm_$batchId%06d")
    val recorded: Option[Long] =
      if (Files.exists(wmRecord)) Files.readString(wmRecord).trim.toLongOption
      else None
    recorded match {
      case Some(v) => Some(v).filter(_ != Long.MinValue)
      case None =>
        val read = s.streams.active
          .find(q => Option(q.name).exists(_.startsWith(qn)))
          .flatMap(q => Option(q.lastProgress))
          .flatMap(p => Option(p.eventTime.get("watermark")))
          .map(ts => java.time.Instant.parse(ts).toEpochMilli)
          .orElse(offsetsLogWatermarkMs(ck, batchId - 1L))
        val tmp = Paths.get(ck, f"wm_$batchId%06d.tmp")
        Files.writeString(tmp, read.getOrElse(Long.MinValue).toString)
        Files.move(tmp, wmRecord,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        read
    }
  }

  /** The committed watermark from Spark's OWN durable offsets log — the
    * [[plannedWatermarkMs]] fallback for the unrecorded-crash window.
    * `<ck>/offsets/<b>` is written by MicroBatchExecution BEFORE batch
    * `b` executes; its second line is the OffsetSeqMetadata JSON whose
    * `batchWatermarkMs` is the watermark batch `b` was PLANNED with.
    * The clock every watermark gate runs on is "the watermark USED in
    * batch `batchId − 1`" (what `lastProgress` reports during batch
    * `batchId` — the two-hop lag q108's window law accounts for), so
    * the caller passes `batchId − 1`, never `batchId`: reading this
    * batch's own entry would run the clock one hop ahead of the
    * crash-free thresholds and shift every expiry. Absent file or
    * unparsable metadata → None (same contract as an absent progress).
    */
  private[graft] def offsetsLogWatermarkMs(ck: String, batchId: Long): Option[Long] = {
    if (batchId < 0L) return None
    val f = Paths.get(ck, "offsets", batchId.toString)
    if (!Files.exists(f)) return None
    scala.util.Try {
      Files.readString(f).linesIterator
        .find(l => l.startsWith("{") && l.contains("batchWatermarkMs"))
        .flatMap("\"batchWatermarkMs\"\\s*:\\s*(-?\\d+)".r
          .findFirstMatchIn(_).map(_.group(1).toLong))
    }.toOption.flatten
  }

  /** Batches the soak gate (q123) drives, and its crash cadence — 50
    * batches with an injected first-attempt crash every 10th batch
    * (batches 10/20/30/40), per the long-horizon deployment shape the
    * 5–6-batch gates cannot observe. `private[graft]` so a spec or
    * bench can never drift from the gate's own horizon.
    */
  private[graft] val SoakBatches = 50
  private[graft] val SoakFailAts: Seq[Long] = Seq(10L, 20L, 30L, 40L)

  /** Every file the warehouse currently holds for index `name` —
    * pointer versions, lease versions, claim tmps (root files prefixed
    * `_<name>_`) plus every file under the index's physical table
    * locations (dirs prefixed `<name>_`: `_seg`/`_cmp`/`_exp`
    * generations and any staging). The soak gate fences this count at
    * every batch: orphan classes (lost-CAS leftovers, retired-list
    * drops, unpruned versions) that per-cycle reviews had to hunt by
    * hand show up here mechanically as monotone growth.
    */
  private def warehouseFileCount(s: SparkSession, name: String): Int = {
    val wh = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(wh)) return 0
    fs.listStatus(wh).iterator.filter { st =>
      val n = st.getPath.getName
      n.startsWith(s"_${name}_") || n.startsWith(s"${name}_")
    }.map { st =>
      if (st.isFile) 1
      else {
        val it = fs.listFiles(st.getPath, true)
        var c = 0
        while (it.hasNext) { it.next(); c += 1 }
        c
      }
    }.sum
  }

  /** q123 — the LONG-HORIZON SOAK of the fully-composed production
    * loop: q113's pipeline (watermark-clocked horizon expiry + cadence
    * policy compaction + stamped keyed folds on the exact-fingerprint
    * modality) driven for [[SoakBatches]] micro-batches with an
    * injected first-attempt crash every 10th batch ([[SoakFailAts]]) —
    * the duty cycle of the reference's continuous deployment (Hudi
    * DeltaStreamer `--continuous` with cleaning and compaction beside
    * it, ref `hudi/debezium_hudi_demo/demonstration_notes.md` "Run Hudi
    * DeltaStreamer Continuously", `base.properties` cleaner retention),
    * which the 5–6-batch gates exercise one mechanism-pairing at a
    * time but never at soak length. What only length can falsify, each
    * fenced IN the gate:
    *
    *   - STATE BOUNDEDNESS: live segments ≤ k at every one of the 50
    *     probe points (the policy must keep winning against a stream
    *     that never ends);
    *   - NO ORPHAN ACCUMULATION: the warehouse file count for this
    *     index stays under a CONSTANT bound at every batch head — the
    *     leak classes the round-14/15 review passes kept finding by
    *     reading code (retired-list passthrough, lost-CAS leftovers,
    *     unpruned pointer versions) would each grow this count
    *     monotonically and trip the fence mechanically within a few
    *     batches of appearing;
    *   - FLAT COST TREND: the median per-batch wall time of the final
    *     third of non-empty batches stays within 2.5× the middle
    *     third's — an O(stream) regression (probe fan-out growth,
    *     ledger growth, file-listing growth) compounds over 50 batches
    *     into a trend no single-digit-batch gate can see;
    *   - RECOVERY COMPOSES REPEATEDLY: four separate crash-replay
    *     cycles against the SAME evolving index (q114 proves one), each
    *     re-deriving its expiry threshold from the recorded planning
    *     watermark;
    *   - and the semantics stay EXACT: the admitted set meets the
    *     50-batch windowed sequential oracle VERBATIM
    *     ([[expiringFoldOracle]] — the policy and the crashes are cost
    *     knobs, never semantics knobs), with q113's advancing-watermark
    *     and post-expiry re-admission fences on top.
    *
    * The staging is [[stageDocHashSplit]]'s oracle-pinned hash-group
    * layout at n = 50 with `allowEmpty` (a few hundred incoming docs
    * over 50 groups make occasional empty groups a certainty; the file
    * source still delivers them as zero-row batches, so slice i =
    * batch i−1 holds and the oracle's per-group CTEs stay aligned).
    */
  def q123SoakProductionLoop(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q123", Fingerprints,
      Schedule(SoakBatches, Clock.Watermark, Cadence.Policy(2), SoakFailAts),
      soak = Some(new Soak(s, "q123", foldIxName("q123", Fingerprints))))

  /** q123's own fences, on top of [[foldGate]]'s: the warehouse
    * file-count bound at every batch head, and after the drive ≥ 10
    * policy firings and the flat cost trend over the folded batches'
    * last completed attempts (a replay overwrites its crashed attempt).
    * A soak stages long and thin, so its empty hash groups are delivered
    * as zero-row batches ([[writeSlices]] `allowEmpty`).
    */
  private[graft] final class Soak(s: SparkSession, tag: String, ixName: String) {
    // the file-count bound: ~8 concurrently-live tables is the steady
    // ceiling under k=2 (live merged gen + in-flight fold + expiry
    // rewrite + retired-with-grace + staging), each ≤ ~12 files (4
    // buckets + _SUCCESS + local-fs .crc shadows), plus pointer/lease
    // versions and claim tmps. 160 holds a wide margin over the
    // measured steady state while still tripping on a leak of one
    // file per batch well inside the soak's 50 batches
    private val fileBound = 160
    private val batchNanos = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

    def around(batchId: Long)(fold: => Option[DataFrame]): Option[DataFrame] = {
      val t0 = System.nanoTime()
      // file-count fence FIRST: the probe sees last batch's steady state
      // (this batch's grace-reclaim has not run yet — the widest point of
      // the retain-one cycle)
      val files = warehouseFileCount(s, ixName)
      require(files <= fileBound,
        s"$tag: warehouse file count for '$ixName' must stay bounded " +
          s"(<= $fileBound) on an infinite stream, got $files at batch " +
          s"$batchId — an orphan/leak class is accumulating")
      val admitted = fold
      if (admitted.isDefined) batchNanos.put(batchId, System.nanoTime() - t0)
      admitted
    }

    def check(policyFirings: Int): Unit = {
      require(policyFirings >= 10,
        s"$tag: the cadence policy must keep firing across a 50-batch " +
          s"soak, got $policyFirings firings")
      // FLAT COST TREND: medians over the non-empty batches' last
      // completed attempts; a leak-driven O(stream) trend compounds by
      // the final third, GC/scheduling noise does not survive a median
      val times = batchNanos.entrySet().asScala.toSeq
        .sortBy(_.getKey).map(_.getValue.toDouble / 1e6)
      def median(xs: Seq[Double]): Double = {
        val s0 = xs.sorted
        s0((s0.size - 1) / 2)
      }
      val third = times.size / 3
      val (mid, fin) = (times.slice(third, 2 * third), times.takeRight(third))
      require(mid.nonEmpty && fin.nonEmpty, s"$tag: too few timed batches (${times.size})")
      val (medMid, medFin) = (median(mid), median(fin))
      require(medFin <= 2.5 * medMid,
        f"$tag: per-batch wall time must stay flat across the soak, got " +
          f"middle-third median $medMid%.0f ms vs final-third $medFin%.0f ms")
    }
  }

  /** Stage the incoming embeddings (content-hash split `u < 0.5`) as
    * `n` HASH-GROUP files — vector → micro-batch
    * `hash60('g' || vec_id) % n` — for the streamed VECTOR fold gates
    * (q100/q101). [[stageDocHashSplit]]'s layout-pinning argument
    * applies verbatim: the sequential admission recurrence is
    * batch-layout-dependent (pairwise cosine similarity is as
    * non-transitive as Jaccard), so the oracle must reproduce the exact
    * assignment, which a hash group is and a quantile cut is not. The
    * incoming share is 0.5, NOT q80's 0.3, deliberately: under the 0.3
    * split the fixture has ZERO confirmed incoming–incoming pairs at
    * sf0.001 (measured), so every fold would be inert and the gate
    * would silently collapse into a streamed q80; at 0.5 the fold path
    * provably bites at every SF (the [[Vectors]] no-fold fence). Only
    * (vec_id, embedding) is staged — the sketch (integer scaling, norm,
    * sign-LSH bucket) is computed IN the stream, map-side, where an
    * ingest pipeline computes it.
    */
  private def stageVecHashSplit(
      s: SparkSession, dir: String, tag: String, n: Int,
      eventTs: Boolean, allowEmpty: Boolean): String = {
    import s.implicits._
    val staged = Files.createTempDirectory(s"graft-$tag-src")
    val scratch = Files.createTempDirectory(s"graft-$tag-part")
    val grp = graft.operators.Sampling.hash60(
      concat(lit("g"), $"vec_id".cast("string"))) % n
    val base = Tables.embeddings(s, dir)
      .filter(graft.operators.Sampling.uniform01($"vec_id") < 0.5)
      .select($"vec_id", $"embedding")
      .withColumn("_slice", (grp + 1).cast("int"))
    // eventTs (q117/q118): [[wmEventTs]]'s geometry on the vector
    // modality — the watermark-window arithmetic stays batch-exact
    val src = if (!eventTs) base
      else base.withColumn("event_ts", wmEventTs($"vec_id"))
    writeSlices(staged, scratch, src, n, filePrefix = "vecs",
      allowEmpty = allowEmpty)
    staged.toString
  }

  /** q100 — the streamed VECTOR fold: q91/q96's continuous-ingest loop
    * on the EMBEDDING modality, completing the streaming × modality
    * matrix (exact fingerprints q91, text near-dup q96, semantic
    * near-dup here — every batch maintenance cycle q89/q90 proves now
    * has a streaming realization). Each micro-batch of arriving vectors
    * is sketched IN the stream (integer scaling + squared norm +
    * sign-LSH bucket, ONE [[LlmQueries.vectorSketch]] pass whose
    * checkpointed frame serves every per-segment probe branch, the
    * in-batch self-join, AND the fold of the admitted subset), admitted
    * by q80's exact semantics against the standing bucket index's
    * strictly-earlier segments
    * ([[LlmQueries.admitByVectorSegments]]), and the ADMITTED vectors'
    * sketch rows fold in as segment `batchId + 1` — a later batch
    * rejects vectors semantically duplicating an earlier batch's
    * admission through the INDEX. Layout-pinned oracle as q96:
    * vectors land in micro-batch `hash60('g' || vec_id) % n`
    * ([[stageVecHashSplit]]) and
    * [[LlmQueries.vectorSequentialOracle]] unrolls the recurrence over
    * exactly those groups.
    *
    * Scale: q90's story — O(batch) folds, per-segment zero-exchange
    * bucket probes (q80's BucketingSpec law), candidates bounded by the
    * batch's bucket collisions; fully STATELESS (the index is the
    * cross-batch state).
    */
  def q100StreamingVectorFold(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q100", Vectors, Schedule(4))

  /** q101 — q100's pipeline crashed on the first attempt of batch 2
    * after both durable effects (admissions dir + sketch-row fold), then
    * replayed: q92/q97's recovery contract at the vector shape — the
    * replay probes strictly-earlier segments only (its own crashed
    * fold, cover 3, stays invisible) and re-folds segment 3
    * idempotently with byte-identical sketch rows (the sketch is a
    * deterministic function of the vector). The batch-dir union meets
    * q100's oracle for the 6-batch layout verbatim.
    */
  def q101VectorFoldCrash(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q101", Vectors, Schedule(6, crashes = Seq(2L)))

  /** q110 — q94's MID-STREAM COMPACTION on the VECTOR modality: q100's
    * continuous sketch-fold loop with the bounded head-of-batch compact
    * injected at batch 2 — q109's gate on the third modality, closing
    * the compact row of the mechanism × modality matrix end-to-end
    * (exact q94/q95, near-dup q109, vector here). The merged
    * bucket-keyed generation must keep every in-flight probe's candidate
    * set intact: the admitted set meets q100's sequential oracle
    * VERBATIM.
    */
  def q110CompactedVectorFold(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q110", Vectors, Schedule(4, cadence = Cadence.AtBatch2))

  /** q100/q101's oracle: the sequential vector-admission recurrence
    * unrolled over the gate's exact hash-group batch layout. With
    * `horizon` set, q102/q103's expiring variant of the same generator.
    */
  private def vectorGateOracle(n: Int, horizon: Option[Long] = None): String = {
    val u = graft.operators.Sampling.duckUniform01("CAST(vec_id AS VARCHAR)")
    val gh = graft.operators.Sampling.duckHash60("'g' || CAST(vec_id AS VARCHAR)")
    LlmQueries.vectorSequentialOracle(
      s"CASE WHEN $u >= 0.5 THEN 0 ELSE 1 + ($gh % $n) END", n, horizon)
  }

  /** q102 — streamed EXPIRING dedup on the VECTOR modality: q98's
    * horizon recurrence run through q100's pipeline, completing the
    * expiry × modality pairing end-to-end instead of by argument (the
    * mechanism — [[graft.operators.StandingIndex.expire]] — is
    * modality-independent by construction: it moves whole segments and
    * never inspects the key schema; this gate pins that claim at the
    * oracle level). Per micro-batch: retire segments stamped before
    * `batchId − H` (H = 2), sketch + admit via
    * [[LlmQueries.vectorAdmitAndFold]] against the surviving
    * strictly-earlier segments, fold stamped with the batch position
    * (the index clock — a real deployment stamps max event time and
    * expires at `watermark − horizon`; the law is identical, q98's
    * argument). The corpus is stamped pre-batch-0, so a vector whose
    * only blocker is a corpus near-duplicate flips from rejected to
    * ADMITTED from batch H+1 on — the non-vacuity fence requires ≥ 1
    * such post-expiry corpus re-admission (measured 1/3/42 at the three
    * SFs), and an earlier batch's admission blocks only for the H
    * batches after its fold. Index state is O(horizon × batch), never
    * O(stream); oracle = [[LlmQueries.vectorSequentialOracle]] with the
    * windowed blocker arms.
    */
  def q102ExpiringVectorFold(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q102", Vectors, Schedule(5, Clock.BatchHorizon))

  /** q103 — q102's pipeline crashed on the first attempt of batch 2
    * after its durable effects (expire + fold + sink), then replayed:
    * the replay's expire is idempotent (the first attempt's retire was
    * already reclaimed or re-derives identically), its probe reads the
    * surviving strictly-earlier segments only (the crashed fold, cover
    * 3, stays invisible), and the re-fold overwrites segment 3 with
    * identical content AND stamp — crash recovery composed with horizon
    * expiry on the vector modality.
    */
  def q103ExpiringVectorCrash(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q103", Vectors,
      Schedule(6, Clock.BatchHorizon, crashes = Seq(2L)))

  /** q117 — q102's expiring VECTOR fold under the production watermark
    * clock (q115's twin on the embedding modality, completing the
    * watermark-clock × modality row: exact q108, near-dup q115, vector
    * here): event-time-stamped embeddings, `withWatermark(event_ts,
    * 15s)`, folds stamped with the batch's max event time, expiry at
    * `committedWatermark − horizonMs` from recorded planning watermarks
    * ([[plannedWatermarkMs]]). The window law makes the ms clock
    * batch-exact, so q102's windowed sequential oracle applies VERBATIM
    * — pinning the vector cycle's stamp plumb-through
    * ([[LlmQueries.vectorAdmitAndFold]]), the last modality-specific
    * expiry surface gated only by argument. Fences: advancing engine
    * watermarks and ≥ 1 post-expiry corpus near-dup re-admission.
    */
  def q117WatermarkVectorFold(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q117", Vectors, Schedule(5, Clock.Watermark))

  /** q118 — q117's pipeline crashed on the first attempt of batch 2
    * after ALL durable effects, then replayed: q112's recovery
    * discipline on the VECTOR modality — the replay re-derives batch
    * 2's expiry threshold from the RECORDED planning watermark (a
    * restarted query's lastProgress is null), re-expires idempotently,
    * probes the surviving strictly-earlier segments only, and re-folds
    * segment 3 with byte-identical sketch rows and the identical
    * max-event stamp.
    */
  def q118WatermarkVectorCrash(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q118", Vectors,
      Schedule(6, Clock.Watermark, crashes = Seq(2L)))

  /** q121 — q113's fully-composed production loop on the VECTOR
    * modality (q119's twin, completing the composition × modality
    * matrix: policy compaction × watermark expiry gated end-to-end on
    * exact q113, near-dup q119, vector here): q117's watermark-clocked
    * expiring sketch fold with `compactIfOver(k = 2)` the only
    * compaction trigger — every firing a mixed-stamp merge of
    * bucket-keyed sketch rows, the partial expiry arm exercised at the
    * merged generations, q117's oracle VERBATIM plus q111's fences.
    */
  def q121PolicyVectorFold(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q121", Vectors,
      Schedule(5, Clock.Watermark, Cadence.Policy(2)))

  /** q122 — q121's batch-2 crash after all durable effects, replayed:
    * q114's crash cell on the VECTOR modality — the replay's policy
    * correctly does not re-fire, the expiry threshold re-derives from
    * the recorded planning watermark, and the re-fold is byte-identical
    * (the sketch is deterministic per vector).
    */
  def q122PolicyVectorCrash(s: SparkSession, dir: String): DataFrame =
    foldGate(s, dir, "q122", Vectors,
      Schedule(6, Clock.Watermark, Cadence.Policy(2), crashes = Seq(2L)))


  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q49_append_window_sales" -> (q49AppendWindowSales _),
    "q52_stream_stream_join" -> (q52StreamStreamJoin _),
    "q54_stream_stream_left_outer" -> (q54StreamStreamLeftOuter _),
    "q55_stream_stream_full_outer" -> (q55StreamStreamFullOuter _),
    "q58_streaming_sessionize" -> (q58StreamingSessionize _),
    "q59_stream_stream_right_outer" -> (q59StreamStreamRightOuter _),
    "q60_join_then_window" -> (q60JoinThenWindow _),
    "q61_stream_dedup" -> (q61StreamDedup _),
    "q62_sessionize_tws" -> (q62SessionizeTws _),
    "q63_dedup_join_window" -> (q63DedupJoinWindow _),
    "q64_user_profile" -> (q64UserProfile _),
    "q65_restart_sessionize" -> (q65RestartSessionize _),
    "q66_disordered_window_sales" -> (q66DisorderedWindowSales _),
    "q67_disordered_attribution" -> (q67DisorderedAttribution _),
    "q68_disordered_sessionize" -> (q68DisorderedSessionize _),
    "q69_restart_sessionize_tws" -> (q69RestartSessionizeTws _),
    "q70_midbatch_failure" -> (q70MidBatchFailure _),
    "q71_late_drop_window" -> (q71LateDropWindow _),
    "q72_midbatch_failure_tws" -> (q72MidBatchFailureTws _),
    "q76_midbatch_failure_chained" -> (q76MidBatchFailureChained _),
    "q77_late_drop_join" -> (q77LateDropJoin _),
    "q82_midbatch_failure_join" -> (q82MidBatchFailureJoin _),
    "q83_midbatch_failure_dedup" -> (q83MidBatchFailureDedup _),
    "q84_streaming_admission" -> (q84StreamingAdmission _),
    "q87_midbatch_failure_admission" -> (q87MidBatchFailureAdmission _),
    "q91_streaming_fold" -> (q91StreamingFold _),
    "q92_midbatch_failure_fold" -> (q92MidBatchFailureFold _),
    "q94_compacted_streaming_fold" -> (q94CompactedStreamingFold _),
    "q95_compacted_fold_crash" -> (q95CompactedFoldCrash _),
    "q96_streaming_neardup_fold" -> (q96StreamingNeardupFold _),
    "q97_neardup_fold_crash" -> (q97NeardupFoldCrash _),
    "q98_expiring_fold" -> (q98ExpiringFold _),
    "q99_expiring_fold_crash" -> (q99ExpiringFoldCrash _),
    "q100_streaming_vector_fold" -> (q100StreamingVectorFold _),
    "q101_vector_fold_crash" -> (q101VectorFoldCrash _),
    "q102_expiring_vector_fold" -> (q102ExpiringVectorFold _),
    "q103_expiring_vector_crash" -> (q103ExpiringVectorCrash _),
    "q104_expiring_neardup_fold" -> (q104ExpiringNeardupFold _),
    "q105_expiring_neardup_crash" -> (q105ExpiringNeardupCrash _),
    "q106_expiring_compacted_fold" -> (q106ExpiringCompactedFold _),
    "q107_expiring_compact_crash" -> (q107ExpiringCompactCrash _),
    "q108_watermark_expiring_fold" -> (q108WatermarkExpiringFold _),
    "q109_compacted_neardup_fold" -> (q109CompactedNeardupFold _),
    "q110_compacted_vector_fold" -> (q110CompactedVectorFold _),
    "q111_policy_compacted_fold" -> (q111PolicyCompactedFold _),
    "q112_watermark_expiry_crash" -> (q112WatermarkExpiryCrash _),
    "q113_policy_expiring_watermark_fold" -> (q113PolicyExpiringWatermarkFold _),
    "q114_policy_expiry_crash" -> (q114PolicyExpiryCrash _),
    "q115_watermark_neardup_fold" -> (q115WatermarkNeardupFold _),
    "q116_watermark_neardup_crash" -> (q116WatermarkNeardupCrash _),
    "q117_watermark_vector_fold" -> (q117WatermarkVectorFold _),
    "q118_watermark_vector_crash" -> (q118WatermarkVectorCrash _),
    "q119_policy_neardup_fold" -> (q119PolicyNeardupFold _),
    "q120_policy_neardup_crash" -> (q120PolicyNeardupCrash _),
    "q121_policy_vector_fold" -> (q121PolicyVectorFold _),
    "q122_policy_vector_crash" -> (q122PolicyVectorCrash _),
    "q123_soak_production_loop" -> (q123SoakProductionLoop _))

  val oracles: Map[String, String] = Map(
    "q49_append_window_sales" -> q49Oracle,
    "q52_stream_stream_join" -> q52Oracle,
    "q54_stream_stream_left_outer" -> q54Oracle,
    "q55_stream_stream_full_outer" -> q55Oracle,
    "q58_streaming_sessionize" -> q58Oracle,
    "q59_stream_stream_right_outer" -> q59Oracle,
    "q60_join_then_window" -> q60Oracle,
    "q61_stream_dedup" -> q61Oracle,
    // two state APIs (FMGWS v1 / TWS v2) + two backends must agree
    "q62_sessionize_tws" -> q58Oracle,
    // dedup on unique ids is a no-op and adds no event-time delay: the
    // 3-op chain must reproduce the 2-op chain's result exactly
    "q63_dedup_join_window" -> q60Oracle,
    "q64_user_profile" -> q64Oracle,
    // a restart between micro-batches must be invisible in the result:
    // the two-run union meets the single-run sessionization oracle
    "q65_restart_sessionize" -> q58Oracle,
    // disorder inside the watermark tolerance must be invisible too:
    // the shuffled feed meets the ordered feed's oracle
    "q66_disordered_window_sales" -> q49Oracle,
    "q67_disordered_attribution" -> q60Oracle,
    "q68_disordered_sessionize" -> q58Oracle,
    // restart invisibility must hold on BOTH state APIs and backends
    "q69_restart_sessionize_tws" -> q58Oracle,
    // a mid-batch crash + replay must be invisible too: the batch-dir
    // union meets the single-clean-run sessionization oracle
    "q70_midbatch_failure" -> q58Oracle,
    // beyond-tolerance late rows drop; on-time rows don't — the emitted
    // set is the closed-window set over the ORIGINAL events alone
    "q71_late_drop_window" -> q49Oracle,
    // crash-replay invisibility must hold on BOTH state APIs/backends
    "q72_midbatch_failure_tws" -> q58Oracle,
    // ... and through a TWO-state-store chain: the replayed join+window
    // pipeline's batch-dir union meets the clean-run chained oracle
    "q76_midbatch_failure_chained" -> q60Oracle,
    // beyond-tolerance rows drop at the JOIN's late-data filter too;
    // the emitted pair set is the original events' alone
    "q77_late_drop_join" -> q52Oracle,
    // crash-replay invisibility at the join's two-sided buffer: the
    // batch-dir union holds each interval pair exactly once
    "q82_midbatch_failure_join" -> q52Oracle,
    // ... and at the dedup key-presence store: the union is DISTINCT
    "q83_midbatch_failure_dedup" -> q61Oracle,
    // the streaming spelling of incremental admission must land on
    // byte-identical admissions with the batch spelling (q73)
    "q84_streaming_admission" -> LlmQueries.q73Oracle,
    // ... and a crashed-and-replayed admission stream must too
    "q87_midbatch_failure_admission" -> LlmQueries.q73Oracle,
    // continuous ingest through per-batch index folds: the admitted set
    // is q73's (smallest-id per non-blocked fingerprint) — cross-batch
    // rejection rides the index, so no dup count accumulates
    "q91_streaming_fold" -> foldGateOracle,
    // crash + replay at the fold shape must be invisible: the replayed
    // batch re-probes earlier segments only and re-folds idempotently
    "q92_midbatch_failure_fold" -> foldGateOracle,
    // a compaction BETWEEN micro-batches must be invisible too: coverage
    // selection keeps the merged generation in every in-flight probe
    "q94_compacted_streaming_fold" -> foldGateOracle,
    // ... even when the batch after the compaction crashes and replays
    // (merged segment visible, the replay's own crashed fold not)
    "q95_compacted_fold_crash" -> foldGateOracle,
    // streamed near-dup folds: the sequential greedy recurrence unrolled
    // over the gate's exact (oracle-pinned) hash-group batch layout
    "q96_streaming_neardup_fold" -> neardupGateOracle(4),
    "q97_neardup_fold_crash" -> neardupGateOracle(6),
    // horizon-expiring dedup: blockers stop blocking H batches after
    // they fold (corpus included); admissions re-open per the unrolled
    // window recurrence — and survive the crash+replay shape
    "q98_expiring_fold" -> expiringFoldOracle(5, ExpiryHorizon),
    "q99_expiring_fold_crash" -> expiringFoldOracle(6, ExpiryHorizon),
    // streamed vector folds: q90's admission recurrence unrolled over
    // the gate's exact (oracle-pinned) hash-group batch layout
    "q100_streaming_vector_fold" -> vectorGateOracle(4),
    "q101_vector_fold_crash" -> vectorGateOracle(6),
    // horizon-expiring vector dedup: the same generator with windowed
    // blocker arms — corpus blocks while k <= H, folds block H batches
    "q102_expiring_vector_fold" -> vectorGateOracle(5, Some(ExpiryHorizon)),
    "q103_expiring_vector_crash" -> vectorGateOracle(6, Some(ExpiryHorizon)),
    // the expiring near-dup pair: the near-dup generator's windowed arms
    "q104_expiring_neardup_fold" -> neardupGateOracle(5, Some(ExpiryHorizon)),
    "q105_expiring_neardup_crash" -> neardupGateOracle(6, Some(ExpiryHorizon)),
    // compaction composed with horizon expiry (entry-level stamps): the
    // expiring recurrence must hold VERBATIM through a mid-stream compact
    // of mixed-stamp segments — clean and crash+replay shapes
    "q106_expiring_compacted_fold" -> expiringFoldOracle(5, ExpiryHorizon),
    "q107_expiring_compact_crash" -> expiringFoldOracle(6, ExpiryHorizon),
    // the watermark-clocked spelling of the same horizon recurrence:
    // stamps = batch max event time, expiry at committedWatermark − Hms;
    // the event-time geometry makes the ms clock batch-exact (q108 doc)
    "q108_watermark_expiring_fold" -> expiringFoldOracle(5, ExpiryHorizon),
    // mid-stream compaction on the near-dup and vector modalities: the
    // never-expiring sequential oracles must hold verbatim through it
    "q109_compacted_neardup_fold" -> neardupGateOracle(4),
    "q110_compacted_vector_fold" -> vectorGateOracle(4),
    // policy-driven compaction cadence over a 10-batch horizon: cadence
    // is a cost knob, never a semantics knob — q91's oracle verbatim
    "q111_policy_compacted_fold" -> foldGateOracle,
    // the watermark clock's crash cell: the replay re-derives batch 2's
    // expiry threshold from its RECORDED planning watermark (a restarted
    // query has no progress to read) — same windowed oracle
    "q112_watermark_expiry_crash" -> expiringFoldOracle(6, ExpiryHorizon),
    "q113_policy_expiring_watermark_fold" -> expiringFoldOracle(5, ExpiryHorizon),
    "q114_policy_expiry_crash" -> expiringFoldOracle(6, ExpiryHorizon),
    // the watermark clock on the NEAR-DUP and VECTOR modalities: the
    // window law makes the ms clock batch-exact, so the batch-position
    // windowed sequential oracles apply verbatim (q115/q117 = the
    // expiring 5-batch shapes, q116/q118 their crash+replay cells)
    "q115_watermark_neardup_fold" -> neardupGateOracle(5, Some(ExpiryHorizon)),
    "q116_watermark_neardup_crash" -> neardupGateOracle(6, Some(ExpiryHorizon)),
    "q117_watermark_vector_fold" -> vectorGateOracle(5, Some(ExpiryHorizon)),
    "q118_watermark_vector_crash" -> vectorGateOracle(6, Some(ExpiryHorizon)),
    // the fully-composed production loop (policy compaction × watermark
    // expiry × crash replay) on the near-dup and vector modalities:
    // the policy is a cost knob, never a semantics knob — q115/q117's
    // windowed oracles verbatim (q113/q114's law per modality)
    "q119_policy_neardup_fold" -> neardupGateOracle(5, Some(ExpiryHorizon)),
    "q120_policy_neardup_crash" -> neardupGateOracle(6, Some(ExpiryHorizon)),
    "q121_policy_vector_fold" -> vectorGateOracle(5, Some(ExpiryHorizon)),
    "q122_policy_vector_crash" -> vectorGateOracle(6, Some(ExpiryHorizon)),
    // the LONG-HORIZON SOAK: 50 batches of the fully-composed loop with
    // a crash every 10th — still the same windowed sequential oracle,
    // just unrolled to soak length (length is a duty-cycle knob, never
    // a semantics knob; the in-gate fences carry the leak/trend checks
    // SQL cannot express)
    "q123_soak_production_loop" -> expiringFoldOracle(SoakBatches, ExpiryHorizon))
}
