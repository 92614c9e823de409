package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{StreamJobs, TopicRecord, TopicStream}

/** Structured Streaming semantics (SURVEY §2j ST1-ST8, A5, S4, K2/K4),
  * pinned by parity with the batch plans: every job is fed the exact
  * same records through a `MemoryStream[TopicRecord]` (the Kafka-wire
  * model, S4) and through a batch DataFrame, and the streaming result
  * must equal the batch one. DuckDB can't run streams, so batch parity
  * IS the streaming oracle — the batch twins are covered by the
  * CORRECTNESS gate (q05/q06 shapes).
  */
class StreamingSpec extends AnyFunSuite with LocalSpark {

  private val sf = "/root/testdata/sf0.001"
  private var records: Seq[TopicRecord] = _
  private var recordsDf: DataFrame = _ // batch twin of the stream feed

  override def beforeAll(): Unit = {
    super.beforeAll()
    val ss = spark; import ss.implicits._
    val ev = Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    recordsDf = ev.select(
      $"user_id".cast("string").as("key"),
      to_json(struct(ev.columns.map(col): _*), TopicStream.jsonOpts).as("value"),
      $"ts".as("timestamp"))
    records = recordsDf.as[TopicRecord].collect().toSeq
    assert(records.nonEmpty)
  }

  private def assertSameRows(streamed: DataFrame, batch: DataFrame): Unit = {
    val a = streamed.collect().map(_.toString).sorted.toSeq
    val b = batch.collect().map(_.toString).sorted.toSeq
    assert(a.nonEmpty)
    assert(a === b)
  }

  private def runComplete(out: DataFrame, name: String): DataFrame = {
    val q = out.writeStream
      .format("memory").queryName(name)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  test("ST4/A5: complete-mode grouped agg equals its batch twin (ref 03)") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[TopicRecord]
    ms.addData(records: _*)
    val streamed = runComplete(
      StreamJobs.groupedSales(TopicStream.decodeJson(ms.toDF())), "t_grouped")
    assertSameRows(streamed, StreamJobs.groupedSales(TopicStream.decodeJson(recordsDf)))
  }

  test("ST1/ST2/T2: watermark + sliding window + complete-mode sort equals batch twin (ref 05)") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[TopicRecord]
    ms.addData(records: _*)
    val sort = Seq($"window".desc, $"sales".desc, $"event_type")
    val streamed = runComplete(
      StreamJobs.slidingWindowSales(TopicStream.decodeJson(ms.toDF()))
        .orderBy(sort: _*), "t_window")
    assertSameRows(streamed,
      StreamJobs.slidingWindowSales(TopicStream.decodeJson(recordsDf)).orderBy(sort: _*))
    // every event lands in exactly two sliding buckets
    val total = streamed.agg(sum($"orders")).head.getLong(0)
    assert(total === 2L * records.size)
  }

  test("J1/P7: stream-static left-outer join + na.fill + window equals batch twin (ref 08)") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Tables.customer(spark, sf)
      .filter($"c_custkey" % 3 =!= 0)
      .select($"c_custkey".as("user_id"), $"c_mktsegment".as("segment"))
    val ms = MemoryStream[TopicRecord]
    ms.addData(records: _*)
    val streamed = runComplete(
      StreamJobs.enrichedWindowSales(TopicStream.decodeJson(ms.toDF()), dim), "t_enrich")
    assertSameRows(streamed,
      StreamJobs.enrichedWindowSales(TopicStream.decodeJson(recordsDf), dim))
    // the punctured dim must have produced back-filled rows
    assert(streamed.filter($"segment" === "Unassigned").count() > 0)
  }

  test("ST5/ST8/K2/ST7: checkpointed topic sink resumes from state, dump dedups to latest (ref 06->07)") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dump = Files.createTempDirectory("topic_dump").toString
    val ck = Files.createTempDirectory("ck").toString
    val (half1, half2) = records.splitAt(records.size / 2)

    val ms = MemoryStream[TopicRecord]
    val agg = StreamJobs.groupedSales(TopicStream.decodeJson(ms.toDF()))

    ms.addData(half1: _*)
    StreamJobs.startTopicSink(agg, "event_type", dump, ck, "sink_run1").awaitTermination()
    ms.addData(half2: _*)
    // same checkpoint dir: the restarted query must resume offsets + state,
    // process ONLY half2, and still emit the full-corpus aggregate.
    StreamJobs.startTopicSink(agg, "event_type", dump, ck, "sink_run2").awaitTermination()

    val summarySchema = StructType(Seq(
      StructField("event_type", StringType),
      StructField("sales", DoubleType),
      StructField("orders", LongType)))
    val dumped = spark.read.parquet(dump)
      .select($"key", $"batch_id",
        from_json($"value", summarySchema, TopicStream.jsonOpts).as("data"))
      .select($"key", $"batch_id", $"data.*")
    assert(dumped.select($"batch_id").distinct().count() === 2)

    // batch 0 snapshot == agg(half1); batch 1 snapshot == agg(all): state resumed
    val batchAgg = (rs: Seq[TopicRecord]) => StreamJobs.groupedSales(
      TopicStream.decodeJson(rs.toDF("key", "value", "timestamp")))
    assertSameRows(
      dumped.filter($"batch_id" === 0).select($"event_type", $"sales", $"orders"),
      batchAgg(half1))
    assertSameRows(
      dumped.filter($"batch_id" === 1).select($"event_type", $"sales", $"orders"),
      batchAgg(records))

    // ST7: W3 latest-wins dedup of the re-emission stream == final snapshot
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"key").orderBy($"batch_id".desc)
    val deduped = dumped
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"event_type", $"sales", $"orders")
    assertSameRows(deduped, batchAgg(records))

    // F8: the record key is sha1 of the grouping column
    val sha = java.security.MessageDigest.getInstance("SHA-1")
    val one = dumped.select($"key", $"event_type").head
    val expected = sha.digest(one.getString(1).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(one.getString(0) === expected)
  }

  test("ST1 append mode: watermark evicts closed windows and drops late data") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val ms = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = ms.toDF().toDF("ts", "k", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "10 minutes"), $"k")
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream
      .format("memory").queryName("t_append").outputMode("append").start()
    try {
      ms.addData((t(10, 1), "a", 1.0), (t(10, 5), "a", 1.0))
      q.processAllAvailable()
      ms.addData((t(10, 31), "a", 1.0), (t(10, 32), "a", 1.0))
      q.processAllAvailable() // watermark -> 10:22, [10:00,10:10) closes with n=2
      ms.addData((t(10, 3), "a", 1.0)) // late: below watermark, must be dropped
      q.processAllAvailable()
      ms.addData((t(11, 0), "a", 1.0), (t(11, 5), "a", 1.0))
      q.processAllAvailable() // pushes watermark past 10:40: [10:30,10:40) closes
      val out = spark.table("t_append")
        .select(date_format($"window.start", "HH:mm").as("ws"), $"n")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(out("10:00") === 2L) // late 10:03 row NOT counted
      assert(out("10:30") === 2L)
    } finally q.stop()
  }

  test("watermark boundary law: a window closes iff end <= max(ts) - delay, to the millisecond") {
    // Pins the open/closed boundary the q49 oracle reasons about
    // (`ws + 10 min <= mx - 10 min`): events land exactly at, 1 ms
    // under, and 1 ms over the watermark that matches the [09:55,10:05)
    // window end, so a future Spark upgrade flipping <= to < (or a
    // drift in the ms floor) fails loudly here instead of silently
    // desyncing the gate's oracle.
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = StreamJobs.slidingWindowSales(
      ms.toDF().toDF("ts", "event_type", "value"))
    val q = agg.writeStream.format("memory").queryName("t_wm_edge")
      .outputMode("append").start()
    def emitted(): Set[String] = spark.table("t_wm_edge")
      .select(date_format($"window.start", "HH:mm:ss").as("s"))
      .collect().map(_.getString(0)).toSet
    try {
      ms.addData((java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "a", 1.0))
      q.processAllAvailable()
      assert(emitted() === Set.empty) // watermark 09:50 — everything open
      // watermark 10:04:59.999 — 1 ms BELOW the [09:55,10:05) end: open
      ms.addData((java.sql.Timestamp.valueOf("2024-01-01 10:14:59.999"), "a", 1.0))
      q.processAllAvailable()
      assert(emitted() === Set.empty)
      // watermark exactly 10:05:00.000 == end: closes (end <= watermark)
      ms.addData((java.sql.Timestamp.valueOf("2024-01-01 10:15:00.0"), "a", 1.0))
      q.processAllAvailable()
      assert(emitted() === Set("09:55:00"))
      // 1 ms past the boundary: no re-emission, nothing else closes
      ms.addData((java.sql.Timestamp.valueOf("2024-01-01 10:15:00.001"), "a", 1.0))
      q.processAllAvailable()
      assert(emitted() === Set("09:55:00"))
    } finally q.stop()
  }

  test("stream-stream interval join correlates within the window and evicts state") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val imps = MemoryStream[(Long, java.sql.Timestamp, String)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp, String)]
    val joined = StreamJobs.streamStreamCorrelate(
      imps.toDF().toDF("l_k", "l_ts", "l_tag"),
      clicks.toDF().toDF("r_k", "r_ts", "r_tag"))
    val q = joined.writeStream
      .format("memory").queryName("t_ss_join").outputMode("append").start()
    try {
      assert(joined.queryExecution.analyzed.toString.nonEmpty && joined.isStreaming)
      imps.addData((1L, t(10, 0), "i1"), (2L, t(10, 0), "i2"))
      clicks.addData(
        (1L, t(10, 5), "c-in"),    // within [10:00, 10:10] on key 1 -> match
        (2L, t(10, 20), "c-late"), // outside the 10-min window -> no match
        (3L, t(10, 5), "c-nokey")) // no impression for key 3 -> no match
      q.processAllAvailable()
      val out = spark.table("t_ss_join")
        .select($"l_k", $"l_tag", $"r_tag")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(out === Set((1L, "i1", "c-in")))
      // eviction evidence: advance both watermarks far past 10:10; a
      // click that WOULD match impression i1's window is now below the
      // watermark, its buffered partner evicted — no new output row
      imps.addData((9L, t(12, 0), "i-adv"))
      clicks.addData((9L, t(12, 0), "c-adv"))
      q.processAllAvailable()
      clicks.addData((1L, t(10, 6), "c-too-late"))
      q.processAllAvailable()
      val n = spark.table("t_ss_join").count()
      assert(n === 2L) // i1/c-in plus the i-adv/c-adv advance pair, nothing else
      // the engine ran the stateful symmetric hash join operator
      val ops = q.lastProgress.stateOperators.map(_.operatorName).toSeq
      assert(ops.contains("symmetricHashJoin"), ops.toString)
    } finally q.stop()
  }

  test("left-outer stream-stream join: null-padded rows emit only after the watermark closes the interval") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val imps = MemoryStream[(Long, java.sql.Timestamp, String)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp, String)]
    val joined = StreamJobs.streamStreamCorrelate(
      imps.toDF().toDF("l_k", "l_ts", "l_tag"),
      clicks.toDF().toDF("r_k", "r_ts", "r_tag"),
      joinType = "left_outer")
    val q = joined.writeStream
      .format("memory").queryName("t_ss_louter").outputMode("append").start()
    try {
      def rows() = spark.table("t_ss_louter")
        .select($"l_tag", $"r_tag")
        .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSet
      imps.addData((1L, t(10, 0), "i-unmatched"), (2L, t(10, 0), "i-matched"))
      clicks.addData((2L, t(10, 5), "c2"))
      q.processAllAvailable()
      // the inner match emits immediately; the unmatched impression does
      // NOT — a click for key 1 could still arrive inside [10:00, 10:10]
      assert(rows() === Set(("i-matched", Some("c2"))))
      // advance both watermarks past 10:10: no future click can match
      // i-unmatched, so its null-padded row is emitted on eviction
      imps.addData((9L, t(12, 0), "i-adv"))
      clicks.addData((9L, t(12, 0), "c-adv"))
      q.processAllAvailable()
      assert(rows() === Set(
        ("i-matched", Some("c2")),
        ("i-adv", Some("c-adv")),
        ("i-unmatched", None)))
    } finally q.stop()
  }

  test("full-outer stream-stream join: both sides' null-padded rows emit on their own eviction boundaries") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val imps = MemoryStream[(Long, java.sql.Timestamp, String)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp, String)]
    val joined = StreamJobs.streamStreamCorrelate(
      imps.toDF().toDF("l_k", "l_ts", "l_tag"),
      clicks.toDF().toDF("r_k", "r_ts", "r_tag"),
      joinType = "full_outer")
    val q = joined.writeStream
      .format("memory").queryName("t_ss_fouter").outputMode("append").start()
    try {
      def rows() = spark.table("t_ss_fouter")
        .select($"l_tag", $"r_tag")
        .collect().map(r => (Option(r.getString(0)), Option(r.getString(1)))).toSet
      imps.addData((1L, t(10, 0), "i-unmatched"), (2L, t(10, 0), "i-matched"))
      clicks.addData(
        (2L, t(10, 5), "c-matched"),
        (3L, t(10, 5), "c-unmatched")) // no impression for key 3
      q.processAllAvailable()
      // only the inner match emits: both unmatched rows might still pair
      assert(rows() === Set((Some("i-matched"), Some("c-matched"))))
      // advance both watermarks: i-unmatched's interval [10:00,10:10] is
      // closed AND c-unmatched at 10:05 is below the watermark — both
      // null-padded rows emit, each on its own side's boundary rule
      imps.addData((9L, t(12, 0), "i-adv"))
      clicks.addData((9L, t(12, 0), "c-adv"))
      q.processAllAvailable()
      assert(rows() === Set(
        (Some("i-matched"), Some("c-matched")),
        (Some("i-adv"), Some("c-adv")),
        (Some("i-unmatched"), None),
        (None, Some("c-unmatched"))))
    } finally q.stop()
  }

  test("right-outer stream-stream join mirrors left-outer null-padding") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val imps = MemoryStream[(Long, java.sql.Timestamp, String)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp, String)]
    val joined = StreamJobs.streamStreamCorrelate(
      imps.toDF().toDF("l_k", "l_ts", "l_tag"),
      clicks.toDF().toDF("r_k", "r_ts", "r_tag"),
      joinType = "right_outer")
    val q = joined.writeStream
      .format("memory").queryName("t_ss_router").outputMode("append").start()
    try {
      imps.addData((2L, t(10, 0), "i2"))
      clicks.addData((2L, t(10, 5), "c-matched"), (3L, t(10, 5), "c-unmatched"))
      q.processAllAvailable()
      imps.addData((9L, t(12, 0), "i-adv"))
      clicks.addData((9L, t(12, 0), "c-adv"))
      q.processAllAvailable()
      val out = spark.table("t_ss_router")
        .select($"l_tag", $"r_tag")
        .collect().map(r => (Option(r.getString(0)), Option(r.getString(1)))).toSet
      assert(out === Set(
        (Some("i2"), Some("c-matched")),
        (Some("i-adv"), Some("c-adv")),
        (None, Some("c-unmatched"))))
    } finally q.stop()
  }

  test("native session_window streaming agg equals the batch q35 shape (complete mode)") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    def sessions(events: DataFrame): DataFrame = events
      .groupBy($"user_id", session_window($"ts", "6 hours"))
      .agg(count(lit(1)).as("n_events"), max($"event_id").as("max_event_id"))
      .select($"user_id",
        unix_micros($"session_window.start").as("start_us"),
        unix_micros($"session_window.end").as("end_us"),
        $"n_events", $"max_event_id")
    val ms = MemoryStream[TopicRecord]
    ms.addData(records: _*)
    val streamed = runComplete(
      sessions(TopicStream.decodeJson(ms.toDF())), "t_sessions")
    assertSameRows(streamed, sessions(TopicStream.decodeJson(recordsDf)))
    // and the batch shape is the hash-verified q35 minus the distinct agg
    // (streaming disallows countDistinct): session bounds must agree
    val gateBounds = graft.queries.TemporalQueries.q35SessionWindow(spark, sf)
      .select($"user_id", $"session_start_us", $"session_end_us")
      .collect().map(_.toString).sorted.toSeq
    val hereBounds = streamed.select($"user_id", $"start_us", $"end_us")
      .collect().map(_.toString).sorted.toSeq
    assert(hereBounds === gateBounds)
  }

  test("flatMapGroupsWithState sessionization: gap splits, watermark closes, state evicts") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val ms = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val events = ms.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "1 minute")
    val q = graft.streaming.StreamJobs.sessionize(events, gapMinutes = 30)
      .writeStream.format("memory").queryName("t_sessions")
      .outputMode("append").start()
    try {
      // user 1: two bursts split by a >30min gap; user 2: one burst
      ms.addData((1L, t(10, 0), 1.0), (1L, t(10, 10), 2.0), (2L, t(10, 5), 5.0))
      q.processAllAvailable()
      ms.addData((1L, t(11, 0), 4.0)) // 50min after 10:10 -> new session
      q.processAllAvailable()
      ms.addData((3L, t(13, 0), 9.0)) // watermark -> 12:59 closes everything prior
      q.processAllAvailable()
      val out = spark.table("t_sessions")
        .select($"user_id", date_format($"session_start", "HH:mm").as("s"),
          date_format($"session_end", "HH:mm").as("e"), $"events", $"sales")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getDouble(4))).toSet
      assert(out.contains((1L, "10:00", "10:10", 2L, 3.0))) // first burst closed by gap
      assert(out.contains((1L, "11:00", "11:00", 1L, 4.0))) // second closed by watermark
      assert(out.contains((2L, "10:05", "10:05", 1L, 5.0)))
      assert(!out.exists(_._1 == 3L)) // user 3's session still open
    } finally q.stop()
  }

  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("sessionize extends a session BACKWARDS for a within-tolerance late event (both state APIs)") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // cross-batch disorder bounded by the watermark delay (< gap): the
    // late event is OLDER than the open session's first event, so the
    // batch gaps-and-islands start is the late event's ts — the session
    // must extend backwards, not just forwards (the bug q68 guards:
    // keeping the stored start emits a session that never existed in
    // the batch view)
    def run(tws: Boolean, name: String): Set[(Long, String, String, Long, Double)] = {
      val ms = MemoryStream[(Long, java.sql.Timestamp, Double)]
      val events = ms.toDF().toDF("user_id", "ts", "value")
        .withWatermark("ts", "10 minutes")
      val sessions =
        if (tws) graft.streaming.StreamJobs.sessionizeTws(events, gapMinutes = 30)
        else graft.streaming.StreamJobs.sessionize(events, gapMinutes = 30)
      val q = sessions.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        ms.addData((1L, t(10, 10), 1.0))
        q.processAllAvailable() // watermark -> 10:00
        ms.addData((1L, t(10, 5), 2.0)) // late, but >= watermark: kept
        q.processAllAvailable()
        ms.addData((9L, t(23, 0), 0.0)) // watermark -> 22:50 closes user 1
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name)
        .select($"user_id", date_format($"session_start", "HH:mm").as("s"),
          date_format($"session_end", "HH:mm").as("e"), $"events", $"sales")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getDouble(4))).toSet
    }
    val expected = Set((1L, "10:05", "10:10", 2L, 3.0))
    assert(run(tws = false, "t_late_v1") === expected)
    withConf("spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider) {
      assert(run(tws = true, "t_late_tws") === expected)
    }
  }

  test("sessionize DROPS a beyond-tolerance late event on both state APIs (q71's drop path for custom state)") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // the complement of the within-tolerance backwards-extension law:
    // an event BELOW the watermark is filtered before the state function
    // (FMGWS under EventTimeTimeout and TWS in event-time mode both
    // apply the late-data filter), so it can neither extend the open
    // session backwards nor resurrect a closed one — without the filter
    // the min-start merge would emit [10:00, 10:30] with sales 6.0
    def run(tws: Boolean, name: String): Set[(Long, String, String, Long, Double)] = {
      val ms = MemoryStream[(Long, java.sql.Timestamp, Double)]
      val events = ms.toDF().toDF("user_id", "ts", "value")
        .withWatermark("ts", "10 minutes")
      val sessions =
        if (tws) graft.streaming.StreamJobs.sessionizeTws(events, gapMinutes = 30)
        else graft.streaming.StreamJobs.sessionize(events, gapMinutes = 30)
      val q = sessions.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        ms.addData((1L, t(10, 30), 1.0))
        q.processAllAvailable() // watermark -> 10:20
        ms.addData((1L, t(10, 0), 5.0)) // BELOW the watermark: dropped
        q.processAllAvailable()
        ms.addData((9L, t(23, 0), 0.0)) // watermark -> 22:50 closes user 1
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name)
        .select($"user_id", date_format($"session_start", "HH:mm").as("s"),
          date_format($"session_end", "HH:mm").as("e"), $"events", $"sales")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getDouble(4))).toSet
    }
    val expected = Set((1L, "10:30", "10:30", 1L, 1.0))
    assert(run(tws = false, "t_drop_v1") === expected)
    withConf("spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider) {
      assert(run(tws = true, "t_drop_tws") === expected)
    }
  }

  test("transformWithState sessionization equals flatMapGroupsWithState on the same feed") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // the q58 fixture shape: gap-split burst, watermark-closed tail,
    // still-open user — the three emission cases
    val feed = Seq(
      (1L, t(10, 0), 1.0), (1L, t(10, 10), 2.0), (2L, t(10, 5), 5.0),
      (1L, t(11, 0), 4.0), (3L, t(13, 0), 9.0))
    def run(tws: Boolean): Set[String] = {
      val ms = MemoryStream[(Long, java.sql.Timestamp, Double)]
      ms.addData(feed: _*)
      val events = ms.toDF().toDF("user_id", "ts", "value")
        .withWatermark("ts", "1 minute")
      val sessions =
        if (tws) graft.streaming.StreamJobs.sessionizeTws(events, gapMinutes = 30)
        else graft.streaming.StreamJobs.sessionize(events, gapMinutes = 30)
      val name = if (tws) "t_sess_tws" else "t_sess_v1"
      val q = sessions.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(name).collect().map(_.toString).toSet
    }
    // v1 on the default (HDFS-backed) provider; v2 requires RocksDB —
    // two state APIs and two backends landing on the same session set
    val v1 = run(tws = false)
    withConf("spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider) {
      assert(run(tws = true) === v1)
    }
    assert(v1.nonEmpty && !v1.exists(_.contains("[3,")), s"user 3 must stay open: $v1")
  }

  test("transformWithState restores state AND timers from a RocksDB checkpoint across restarts") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    withConf("spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider) {
      val ms = MemoryStream[(Long, java.sql.Timestamp, Double)]
      val events = ms.toDF().toDF("user_id", "ts", "value")
        .withWatermark("ts", "1 minute")
      val sessions = graft.streaming.StreamJobs.sessionizeTws(events, gapMinutes = 30)
      val out = Files.createTempDirectory("tws-resume-out").toString
      val ck = Files.createTempDirectory("tws-resume-ck").toString
      def runOnce(): Unit = {
        val q = sessions.toDF().writeStream
          .outputMode("append").trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ck).format("parquet").start(out)
        q.awaitTermination()
      }
      // run 1: user 5's first burst closes by in-batch gap (emits now);
      // users 1/2/5 leave OPEN sessions + registered timers in state
      ms.addData((5L, t(9, 0), 1.0), (5L, t(9, 45), 1.0),
        (1L, t(10, 0), 1.0), (2L, t(10, 5), 2.0))
      runOnce()
      // run 2, SAME checkpoint: user 1 gets NO new input — its session can
      // only emit if the run-1 timer was restored; user 2's session must
      // extend the RESTORED state (3 events would mean a fresh session);
      // user 9 advances the watermark past everyone and stays open itself
      ms.addData((2L, t(10, 20), 3.0), (9L, t(13, 0), 0.0))
      runOnce()
      val got = spark.read.parquet(out)
        .select($"user_id", date_format($"session_start", "HH:mm").as("s"),
          date_format($"session_end", "HH:mm").as("e"), $"events", $"sales")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getDouble(4))).toSet
      assert(got === Set(
        (5L, "09:00", "09:00", 1L, 1.0), // run 1, closed by gap
        (5L, "09:45", "09:45", 1L, 1.0), // run 2, restored timer
        (1L, "10:00", "10:00", 1L, 1.0), // run 2, restored timer (no new input)
        (2L, "10:05", "10:20", 2L, 5.0)  // run 2, restored state extended
      ))
    }
  }

  test("MapState/ListState profile processor equals the reference model across batches") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    withConf("spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider) {
      val batch1 = Seq((1L, "click", 5.0), (1L, "view", 1.0), (2L, "click", 9.0))
      val batch2 = Seq((1L, "click", 7.0), (1L, "click", 2.0), (1L, "buy", 8.0),
        (3L, "view", 4.0))
      val ms = MemoryStream[(Long, String, Double)]
      val profiles = graft.streaming.StreamJobs.profileTws(
        ms.toDF().toDF("user_id", "event_type", "value"))
      val q = profiles.toDF().writeStream.format("memory").queryName("t_profiles")
        .outputMode("update").start()
      try {
        ms.addData(batch1: _*); q.processAllAvailable()
        ms.addData(batch2: _*); q.processAllAvailable()
        // re-emission + latest-wins: the LAST snapshot per user is current.
        // Order snapshots by n_events (monotonic per user) — batch order
        // inside the memory table is not guaranteed
        val rows = spark.table("t_profiles")
          .as[(Long, Long, Map[String, Long], Seq[Double])].collect()
        val latest = rows.groupBy(_._1).map { case (u, rs) => u -> rs.maxBy(_._2) }
        // straight-Scala reference model over the full feed
        val all = batch1 ++ batch2
        all.groupBy(_._1).foreach { case (u, evs) =>
          val (_, n, tc, tv) = latest(u)
          assert(n === evs.size.toLong, s"user $u count")
          assert(tc === evs.groupBy(_._2).map { case (t, xs) => t -> xs.size.toLong },
            s"user $u type_counts")
          assert(tv === evs.map(_._3).sorted(Ordering[Double].reverse).take(3),
            s"user $u top_values")
        }
        // MapState grew per-entry across batches: user 1 accumulated three
        // distinct types over two batches, counted exactly once each event
        assert(latest(1L)._3 === Map("click" -> 3L, "view" -> 1L, "buy" -> 1L))
        // users untouched by batch 2 do NOT re-emit in it (update semantics)
        assert(rows.count(_._1 == 2L) === 1)
      } finally q.stop()
    }
  }

  test("state-backend independence: v1 sessionize identical under HDFS-backed and RocksDB providers") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    def run(): Set[String] = {
      val ms = MemoryStream[(Long, java.sql.Timestamp, Double)]
      def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      ms.addData((1L, t(9, 0), 1.0), (1L, t(9, 5), 2.0), (2L, t(9, 1), 3.0),
        (1L, t(10, 30), 4.0), (9L, t(12, 0), 0.0))
      val events = ms.toDF().toDF("user_id", "ts", "value")
        .withWatermark("ts", "1 minute")
      val q = graft.streaming.StreamJobs.sessionize(events, gapMinutes = 30)
        .writeStream.format("memory").queryName("t_sess_backend")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table("t_sess_backend").collect().map(_.toString).toSet
    }
    val default = run()
    withConf("spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider) {
      assert(run() === default)
    }
    // ... and under RocksDB's changelog checkpointing (incremental
    // changelog upload instead of full snapshots — the recovery-cost
    // answer at large state): a durability-strategy flag, so it must
    // never change results either
    withConf(
      "spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider,
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true") {
      assert(run() === default)
    }
    assert(default.nonEmpty)
  }

  test("dropDuplicatesWithinWatermark: suppresses within the horizon, re-emits after state eviction") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val ms = MemoryStream[(Long, java.sql.Timestamp)]
    val deduped = ms.toDF().toDF("k", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
    val q = deduped.writeStream.format("memory").queryName("t_dedup_wm")
      .outputMode("append").start()
    try {
      // k=1 delivered twice in-batch and once in the next batch, all
      // within the watermark horizon -> exactly one emission
      ms.addData((1L, t(10, 0)), (1L, t(10, 1)), (2L, t(10, 0)))
      q.processAllAvailable()
      ms.addData((1L, t(10, 5))) // watermark 09:51 < k=1 expiry 10:10/11
      q.processAllAvailable()
      // advance the watermark far past every existing key's expiry ...
      ms.addData((9L, t(12, 0)))
      q.processAllAvailable()
      ms.addData((8L, t(12, 1))) // batch running AT watermark 11:50 evicts k=1
      q.processAllAvailable()
      // ... so a re-delivery of k=1 is NOT suppressed: dedup-within-
      // watermark guarantees single emission only inside the horizon —
      // and state is therefore bounded by the horizon, never all-time
      ms.addData((1L, t(11, 58)))
      q.processAllAvailable()
      val perKey = spark.table("t_dedup_wm").groupBy($"k").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(perKey === Map(1L -> 2L, 2L -> 1L, 9L -> 1L, 8L -> 1L))
    } finally q.stop()
  }

  test("script-12 twin: Avro-coded stream decodes, aggregates, and re-encodes (F3/F4 streaming)") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.AvroExpressions
    val schemaJson =
      """{"type":"record","name":"E","fields":[
        |{"name":"user_id","type":"long"},
        |{"name":"event_type","type":["null","string"]},
        |{"name":"value","type":"double"}]}""".stripMargin
    val enc = (c: org.apache.spark.sql.Column) => AvroExpressions.toAvro(c, schemaJson)
    val dec = (c: org.apache.spark.sql.Column) => AvroExpressions.fromAvro(c, schemaJson)

    // producer side (batch, ref 11): rows -> avro bytes fed as the topic
    val src = Tables.events(spark, sf)
      .select($"user_id", $"event_type", $"value").limit(300)
    val wire = src.select(enc(struct($"user_id", $"event_type", $"value")).as("value"))
      .as[Array[Byte]].collect().toSeq

    // consumer side (streaming, ref 12): from_avro -> agg -> to_avro
    val ms = MemoryStream[Array[Byte]]
    ms.addData(wire: _*)
    val agg = ms.toDF().toDF("value")
      .select(dec($"value").as("data")).select($"data.*")
      .groupBy($"event_type")
      .agg(sum($"value").cast("decimal(18,2)").cast("double").as("sales"),
        count(lit(1)).as("orders"))
    val out = agg.select(enc(struct($"event_type", $"sales".as("value"), $"orders".as("user_id")))
        .as("avro")) // re-encode summary (shape only; field mapping is arbitrary)
    val q = agg.writeStream.format("memory").queryName("t_avro")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("t_avro").collect().map(_.toString).sorted.toSeq
    val batch = src.groupBy($"event_type")
      .agg(sum($"value").cast("decimal(18,2)").cast("double").as("sales"),
        count(lit(1)).as("orders"))
      .collect().map(_.toString).sorted.toSeq
    assert(streamed === batch && streamed.nonEmpty)
    // the re-encode side is analyzable on a streaming plan too
    assert(out.isStreaming)
  }

  test("TWS state TTL: entries expire after the TTL; a TTL beyond the horizon is invisible (RocksDB)") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode}
    // per-key running count whose ValueState carries the given TTL; each
    // batch emits the count AS READ THROUGH the TTL filter, so an
    // expired entry shows up as a restart from 1. TTL is a
    // processing-time contract (the one state-v2 primitive knob the
    // sessionize/profile processors never exercise — they pass
    // TTLConfig.NONE), hence TimeMode.ProcessingTime. Harness caveat: in
    // processing-time mode the operator requests another batch after
    // EVERY batch (that is how processing-time timers/TTL advance), so
    // the engine schedules no-data batches forever — processAllAvailable
    // starves and even AvailableNow never drains. Instead each run polls
    // for the DATA batch's progress event (posted only after the batch
    // fully commits, state included) and then stops the query — the ST5
    // two-runs-one-checkpoint restart pattern with an explicit commit
    // barrier. The sink is foreachBatch into a per-run driver buffer
    // (the memory sink refuses checkpoint recovery), so run 2's buffer
    // holds exactly run 2's emission: the count as recovered (or
    // TTL-expired) across the restart.
    def run(name: String, ttl: TTLConfig, sleepMs: Long): Seq[Long] = {
      val ms = MemoryStream[(Long, Double)]
      val ck = Files.createTempDirectory(s"ck_$name").toString
      def once(): Seq[Long] = {
        val buf = new java.util.concurrent.ConcurrentLinkedQueue[Long]
        val q = ms.toDS().groupByKey(_._1)
          .transformWithState(new TtlCounterProcessor(ttl),
            TimeMode.ProcessingTime(), OutputMode.Update())
          .toDF("user_id", "n")
          .writeStream.queryName(name)
          .option("checkpointLocation", ck)
          .outputMode("update")
          .trigger(Trigger.ProcessingTime("50 milliseconds"))
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.select(col("n")).collect().foreach(r => buf.add(r.getLong(0)))
          }
          .start()
        try {
          val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
          while (!q.recentProgress.exists(_.numInputRows > 0)
              && System.nanoTime() < deadline) Thread.sleep(50)
          assert(q.recentProgress.exists(_.numInputRows > 0),
            s"$name: data batch did not commit within the deadline")
        } finally q.stop()
        import scala.jdk.CollectionConverters._
        buf.asScala.toSeq.sorted
      }
      ms.addData((1L, 1.0))
      once()
      if (sleepMs > 0) Thread.sleep(sleepMs)
      ms.addData((1L, 1.0))
      once()
    }
    withConf("spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider) {
      // law 1 (expiry): run 2 starts ~4 TTLs after run 1 committed — the
      // read filters the expired entry and the count restarts at 1
      assert(run("t_ttl_short", TTLConfig(java.time.Duration.ofMillis(500)), 2000L)
        === Seq(1L))
      // law 2 (invisibility): a TTL far beyond the run's horizon must
      // change nothing — identical emissions to TTLConfig.NONE, and the
      // state survives the restart (the count reaches 2)
      val long = run("t_ttl_long", TTLConfig(java.time.Duration.ofHours(1)), 0L)
      val none = run("t_ttl_none", TTLConfig.NONE, 0L)
      assert(long === Seq(2L))
      assert(none === long)
    }
  }

  test("planning-watermark record: the offsets-log fallback closes the unrecorded-crash window, at the crash-free clock's index (batchId − 1)") {
    import graft.queries.StreamGateQueries
    val ck = Files.createTempDirectory("graft-wmck")
    Files.createDirectories(ck.resolve("offsets"))
    // a real OffsetSeqLog entry shape: version line, OffsetSeqMetadata
    // JSON (written by MicroBatchExecution BEFORE the batch runs), then
    // per-source offsets
    Files.writeString(ck.resolve("offsets").resolve("3"),
      "v1\n{\"batchWatermarkMs\":1700000045000,\"batchTimestampMs\":1755264000000," +
        "\"conf\":{\"spark.sql.shuffle.partitions\":\"4\"}}\n{\"logOffset\":3}")
    assert(StreamGateQueries.offsetsLogWatermarkMs(ck.toString, 3L)
      === Some(1700000045000L))
    assert(StreamGateQueries.offsetsLogWatermarkMs(ck.toString, 2L) === None)
    assert(StreamGateQueries.offsetsLogWatermarkMs(ck.toString, -1L) === None)
    // the unrecorded-crash replay: the engine durably planned batch 4
    // (offsets/3 committed earlier) but died before the wm record; the
    // restarted query has no progress (no active query here), so the
    // fallback must recover the crash-free clock — the watermark USED
    // in batch 3 — and record it durably
    val got = StreamGateQueries.plannedWatermarkMs(
      spark, ck.toString, "wmfallback_no_such_query", 4L)
    assert(got === Some(1700000045000L))
    assert(Files.readString(ck.resolve("wm_000004")).trim === "1700000045000")
    // the record is now PRIMARY: deleting the offsets entry changes
    // nothing on a re-read (replay determinism)
    Files.delete(ck.resolve("offsets").resolve("3"))
    assert(StreamGateQueries.plannedWatermarkMs(
      spark, ck.toString, "wmfallback_no_such_query", 4L)
      === Some(1700000045000L))
    // batch 0 of a fresh run: no progress, no offsets/−1 — absent,
    // recorded as absent, and stays absent on re-read
    assert(StreamGateQueries.plannedWatermarkMs(
      spark, ck.toString, "wmfallback_no_such_query", 0L) === None)
    assert(StreamGateQueries.plannedWatermarkMs(
      spark, ck.toString, "wmfallback_no_such_query", 0L) === None)
  }

  test("stream-gate twins: a restart, a crash replay, a late drop and a disordered feed are invisible in the rows") {
    // each twin shares its clean gate's oracle (StreamGateQueries.oracles);
    // here the twin's rows must equal the clean gate's, in order. q70
    // rides along with q82: at this scale q52 has one row, which a
    // replayed batch that duplicates its rows need not touch
    val gate = graft.queries.StreamGateQueries.queries
    val twins = Seq(
      "q65_restart_sessionize" -> "q58_streaming_sessionize",
      "q70_midbatch_failure" -> "q58_streaming_sessionize",
      "q82_midbatch_failure_join" -> "q52_stream_stream_join",
      "q77_late_drop_join" -> "q52_stream_stream_join",
      "q66_disordered_window_sales" -> "q49_append_window_sales")
    val clean = twins.map(_._2).distinct
      .map(name => name -> gate(name)(spark, sf).collect().toSeq).toMap
    twins.foreach { case (twin, of) =>
      assert(clean(of).nonEmpty, of)
      assert(gate(twin)(spark, sf).collect().toSeq === clean(of), s"$twin vs $of")
    }
  }

  test("ST3/ST6/K4: ProcessingTime trigger + queryName on a live query") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[TopicRecord]
    val q = TopicStream.decodeJson(ms.toDF())
      .writeStream
      .format("memory").queryName("t_pt")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      assert(q.name === "t_pt")
      ms.addData(records.take(100): _*)
      q.processAllAvailable()
      assert(spark.table("t_pt").count() === 100)
      assert(q.isActive)
    } finally q.stop()
  }
}

/** Per-key running counter over a TTL'd ValueState — top-level because
  * Spark serializes the processor into the streaming query (an inner
  * class would drag the non-serializable suite along). Emits the count
  * as read through the TTL filter each batch.
  */
private[graft] class TtlCounterProcessor(ttl: org.apache.spark.sql.streaming.TTLConfig)
  extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Double), (Long, Long)] {
  import org.apache.spark.sql.{Encoders, streaming}

  @transient private var n: streaming.ValueState[Long] = _

  override def init(
      outputMode: streaming.OutputMode, timeMode: streaming.TimeMode): Unit =
    n = getHandle.getValueState[Long]("n", Encoders.scalaLong, ttl)

  override def handleInputRows(
      key: Long, rows: Iterator[(Long, Double)],
      timerValues: streaming.TimerValues): Iterator[(Long, Long)] = {
    val cur = (if (n.exists()) n.get() else 0L) + rows.size
    n.update(cur)
    Iterator.single((key, cur))
  }
}
