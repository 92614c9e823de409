package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{functions => F, DataFrame}
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.{Confs, SparkEntry}
import graft.operators.{CdcMerge, CdcTable, Smt}
import graft.streaming.{StreamJobs, TopicStream}

/** One benchmark run in one JVM: `Harness <request.json>`.
  *
  * The request (written by `perfbench/run.py`) names the workload, seed,
  * measurement seconds, trace flag and directories. The harness drives
  * the program only through its public entry points (`SparkEntry.queries`,
  * `CdcTable`, `Smt.debeziumUnwrap`, `TopicStream.decodeJson`,
  * `StreamJobs.enrichedWindowSales`), times them, and writes every raw
  * observation to `<out>/raw.json`; `run.py` turns those into metrics.
  */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val req = mapper.readValue(Paths.get(args(0)).toFile, classOf[Map[String, Any]])
    val out = req("out").toString
    val t0 = System.nanoTime()
    val spark = session(req("cpus").toString.toInt, out)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val rec = new Recorder(spark)
    val result = mutable.LinkedHashMap[String, Any]("session_start_s" -> sessionS)
    try {
      val body = req("workload") match {
        case "cdc_stream" => new StreamRun(spark, rec, req).run()
        case _ => new BatchRun(spark, rec, req).run()
      }
      result ++= body
    } finally {
      rec.detach()
      result("peak_rss_mb") = peakRssMb()
      result("records") = rec.toSeq
      mapper.writeValue(Paths.get(out, "raw.json").toFile, result)
      spark.stop()
    }
  }

  /** The session every run (and the build's training run) works in. */
  def session(cpus: Int, out: String): SparkSession = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate().asInstanceOf[SparkSession]
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** JVM peak resident set (`VmHWM`), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  def err(e: Throwable): String = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
}

/** `ref_batch` / `llm_dedup`: closed loop, one client, queries in sequence. */
final class BatchRun(spark: SparkSession, rec: Recorder, req: Map[String, Any]) {
  private val dir = req("input").toString
  private val out = req("out").toString
  private val seconds = req("seconds").toString.toDouble
  private val traced = req("trace") == true
  private val queries = req("queries").asInstanceOf[Seq[String]]

  /** Static shuffle-exchange count of the query's final plan, counted the
    * way ExchangeAudit/ExchangeBudgetSpec count it (AQE off).
    */
  private def exchanges(df: DataFrame): Int =
    Confs.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      df.select("*").queryExecution.executedPlan.collect { case e: ShuffleExchangeLike => e }.size
    }

  def run(): Map[String, Any] = {
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    val exch = mutable.LinkedHashMap.empty[String, Int]
    // warm-up doubles as the correctness pass: each query's result lands
    // as parquet for the DuckDB oracle, outside every timed window
    val w0 = System.nanoTime()
    queries.foreach { q =>
      try {
        val df = SparkEntry.queries(q)(spark, dir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/results/$q")
        exch(q) = exchanges(df)
      } catch { case e: Throwable => failures += Map("op" -> q, "phase" -> "correctness", "error" -> Harness.err(e)) }
    }
    Files.writeString(Paths.get(out, "results", "oracle_sql.json"),
      new ObjectMapper().writeValueAsString(SparkEntry.oracleSql.filter(kv => queries.contains(kv._1)).asJava))
    val warmupS = (System.nanoTime() - w0) / 1e9

    // measured passes, query order shuffled per pass by the seed; in a
    // traced run only the odd passes run with the listeners attached
    val seed = req("seed").toString.toLong
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val m0 = System.nanoTime()
    var p = 0
    // a traced run brackets its traced pass with untraced ones, which
    // its tracing overhead is measured against
    val minPasses = req("min_passes").toString.toInt max (if (traced) 3 else 1)
    while (p < minPasses || (System.nanoTime() - m0) / 1e9 < seconds) {
      val tracedPass = traced && p % 2 == 1
      if (tracedPass) rec.attach() else rec.detach()
      val order = new scala.util.Random(seed * 7919 + p).shuffle(queries)
      System.gc() // every pass starts from a collected heap
      val gc0 = Harness.gcMs()
      val ps = rec.nowMs
      order.foreach { q =>
        val trace = s"$q#$p"
        val s0 = System.nanoTime()
        val ok = try {
          rec.span("query", trace, "query" -> q, "pass" -> p) {
            val df = rec.span("build", trace)(SparkEntry.queries(q)(spark, dir))
            rec.span("materialize", trace)(df.write.format("noop").mode("overwrite").save())
          }
          true
        } catch { case e: Throwable =>
          failures += Map("op" -> q, "phase" -> s"pass $p", "error" -> Harness.err(e)); false
        }
        ops += Map("op" -> q, "pass" -> p, "ms" -> (System.nanoTime() - s0) / 1e6, "ok" -> ok)
        if (tracedPass) rec.drain()
      }
      passes += Map("pass" -> p, "traced" -> tracedPass, "start" -> ps, "end" -> rec.nowMs,
        "gc_ms" -> (Harness.gcMs() - gc0))
      p += 1
    }
    Map("warmup_s" -> warmupS, "passes" -> passes.toSeq, "ops" -> ops.toSeq,
      "failures" -> failures.toSeq, "exchanges" -> exch.toMap)
  }
}

/** `cdc_stream`: an open-loop feed into two streaming queries on one
  * topic (CdcTable upsert with periodic compaction; enrichedWindowSales in
  * update mode), then closed AvailableNow drains of a staged backlog.
  */
final class StreamRun(spark: SparkSession, rec: Recorder, req: Map[String, Any]) {
  private val dir = req("input").toString
  private val out = req("out").toString
  private val traced = req("trace") == true
  private val feed = req("feed").asInstanceOf[Map[String, Any]]
  private val manifest = new ObjectMapper().registerModule(DefaultScalaModule)
    .readValue(Paths.get(dir, "manifest.json").toFile, classOf[Map[String, Any]])
  private val compactEvery = feed("compact_every").toString.toInt

  private val imageSchema = TopicStream.eventSchema
  private val envelopeSchema = StructType(Seq(
    StructField("before", imageSchema), StructField("after", imageSchema),
    StructField("op", StringType), StructField("ts_ms", LongType)))

  /** Topic records (`value` + ingest `timestamp`) -> unwrapped change rows. */
  private def changes(records: DataFrame): DataFrame =
    TopicStream.decodeJson(records.withColumn("timestamp", F.current_timestamp()), envelopeSchema)
      .select(F.struct(F.col("before"), F.col("after"), F.col("op"), F.col("ts_ms")).as("envelope"))
      .transform(Smt.debeziumUnwrap())

  /** The sales view of the change stream: live images only. */
  private def sales(ch: DataFrame): DataFrame =
    ch.filter(F.col("__deleted") === "false").select("user_id", "ts", "value")

  private def newTable(path: String): CdcTable =
    new CdcTable(spark, path, keyCols = Seq("event_id"),
      orderingCols = Seq("__source_ts_ms"), partitionCol = "event_type")

  /** The foreachBatch body of every CDC query: one delta commit per
    * micro-batch, compaction every `compact_every` commits of the table.
    */
  private final class Sink(table: CdcTable) {
    var commits = 0
    val committed = mutable.ArrayBuffer.empty[Map[String, Any]]
    def apply(name: String)(batch: DataFrame, id: Long): Unit = {
      val trace = s"$name#$id"
      val start = rec.nowMs
      rec.span("foreachBatch", trace, "query" -> name, "batch" -> id) {
        rec.span("cdc_table.upsert", trace)(table.upsert(batch))
        commits += 1
        if (commits % compactEvery == 0) rec.span("cdc_table.compact", trace)(table.compact())
      }
      committed += Map("query" -> name, "batch" -> id, "start" -> start, "commit" -> rec.nowMs)
    }
  }

  private def text(paths: String*): DataFrame = spark.read.text(paths: _*)

  private def files(d: String): Seq[Path] = {
    val st = Files.list(Paths.get(d))
    try st.iterator().asScala.toSeq.sortBy(_.toString) finally st.close()
  }

  private def drain(sink: Sink, name: String, src: String): StreamingQuery = {
    val q = spark.readStream.option("maxFilesPerTrigger", "2").text(src)
      .transform(changes).writeStream
      .queryName(name).trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$out/ckpt/$name")
      .foreachBatch((b: DataFrame, id: Long) => sink(name)(b, id))
      .start()
    q.awaitTermination()
    q
  }

  /** enrichedWindowSales over the topic in update mode; each batch's
    * updated windows overwrite their entry in `summary`.
    */
  private def windowsQuery(name: String, src: String, dim: DataFrame, trigger: Trigger,
      summary: mutable.Map[(java.sql.Timestamp, String), (Double, Long)]): StreamingQuery =
    StreamJobs.enrichedWindowSales(sales(spark.readStream.text(src).transform(changes)), dim)
      .writeStream.queryName(name).outputMode("update").trigger(trigger)
      .option("checkpointLocation", s"$out/ckpt/$name")
      .foreachBatch { (b: DataFrame, id: Long) =>
        rec.span("foreachBatch", s"$name#$id", "query" -> name, "batch" -> id) {
          b.collect().foreach { r =>
            summary((r.getStruct(0).getTimestamp(0), r.getString(1))) = (r.getDouble(2), r.getLong(3))
          }
        }
      }.start()

  def run(): Map[String, Any] = {
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    val dim = spark.read.parquet(s"$dir/dim.parquet")
    val snapshot = changes(text(s"$dir/snapshot.jsonl"))

    // warm-up: the whole sink path once on a throwaway table
    val w0 = System.nanoTime()
    val warm = newTable(s"$out/warm_table")
    warm.bulkInsert(snapshot)
    drain(new Sink(warm), "warm", s"$dir/warm")
    windowsQuery("warm_windows", s"$dir/warm", dim, Trigger.AvailableNow(),
      mutable.HashMap.empty).awaitTermination()
    val table = newTable(s"$out/table")
    table.bulkInsert(snapshot)
    val warmupS = (System.nanoTime() - w0) / 1e9

    if (traced) rec.attach()
    // open loop: the generator moves one pre-generated tick file into the
    // topic directory at each due time, whatever the queries are doing
    val topic = s"$out/topic"
    Files.createDirectories(Paths.get(topic))
    val sink = new Sink(table)
    val triggerMs = feed("trigger_ms").toString.toLong
    val every = Trigger.ProcessingTime(triggerMs)
    val cdc = spark.readStream.text(topic).transform(changes).writeStream
      .queryName("cdc").trigger(every).option("checkpointLocation", s"$out/ckpt/cdc")
      .foreachBatch((b: DataFrame, id: Long) => sink("cdc")(b, id)).start()
    val summary = mutable.HashMap.empty[(java.sql.Timestamp, String), (Double, Long)]
    val windows = windowsQuery("windows", topic, dim, every, summary)
    val tickMs = manifest("tick_ms").toString.toLong
    val ticks = files(s"$dir/feed")
    val gen = mutable.ArrayBuffer.empty[Map[String, Any]]
    // processing-time triggers fire on multiples of the interval on the
    // wall clock; the feed starts 50 ms after one, so each trigger interval
    // holds the same ticks and the wait from a tick to the next trigger is
    // the same in every run
    val genStart = (math.floor(rec.nowMs / triggerMs) + 1) * triggerMs + 50
    val generator = new Thread(() => {
      ticks.zipWithIndex.foreach { case (f, i) =>
        val due = genStart + i * tickMs
        val wait = due - rec.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        Files.move(f, Paths.get(topic, f.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
        gen += Map("tick" -> i, "file" -> f.getFileName.toString, "due" -> due, "written" -> rec.nowMs)
      }
    }, "perfbench-generator")
    val gc0 = Harness.gcMs()
    val loopStart = rec.nowMs
    generator.start()
    generator.join()
    // both queries are done once their batches have read every feed line;
    // processAllAvailable would also wait for an idle trigger (after the
    // windowed query's watermark-only batch), two more trigger intervals
    val feedLines = manifest("tick_events").asInstanceOf[Seq[Any]].map(_.toString.toLong).sum
    def behind(q: StreamingQuery) = q.isActive && q.recentProgress.map(_.numInputRows).sum < feedLines
    val deadline = rec.nowMs + 60000
    while ((behind(cdc) || behind(windows)) && rec.nowMs < deadline) Thread.sleep(5)
    Seq(cdc, windows).foreach { q =>
      q.exception.foreach(e => failures += Map("op" -> "open_loop", "error" -> Harness.err(e)))
      if (behind(q)) failures += Map("op" -> "open_loop", "error" -> s"${q.name} did not read the whole feed")
    }
    val loopEnd = rec.nowMs
    val loopGcMs = Harness.gcMs() - gc0
    cdc.stop(); windows.stop()
    val lateDropped = windows.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum

    // closed drains of the staged backlog, one fresh query and commit
    // count per chunk (each chunk is `compact_every` micro-batches, so each
    // drain ends in exactly one compaction); in a traced run only the odd
    // chunks drain with the listeners attached
    val chunks = files(s"$dir/backlog")
    val drains = chunks.zipWithIndex.map { case (c, i) =>
      val tracedChunk = traced && i % 2 == 1
      if (tracedChunk) rec.attach() else rec.detach()
      val d0 = System.nanoTime()
      try drain(new Sink(table), s"drain-$i", c.toString)
      catch { case e: Throwable => failures += Map("op" -> s"drain $i", "error" -> Harness.err(e)) }
      Map("chunk" -> i, "traced" -> tracedChunk, "wall_s" -> (System.nanoTime() - d0) / 1e9)
    }
    rec.detach()

    // correctness, outside every timed window
    val checks = mutable.LinkedHashMap.empty[String, Any]
    val feedStart = manifest("feed_start_ms").toString.toLong
    val all = changes(text(s"$dir/snapshot.jsonl")).unionByName(changes(text(topic)))
      .unionByName(changes(text(chunks.map(_.toString): _*)))
    val expected = CdcMerge.mergeByKey(Seq("event_id"), Seq("__source_ts_ms"), deleteMode = CdcMerge.Rewrite)(all)
    val cols = expected.columns.sorted.toSeq
    val r0 = System.nanoTime()
    table.realTime(CdcMerge.Rewrite).write.format("noop").mode("overwrite").save()
    checks("snapshot_read_ms") = (System.nanoTime() - r0) / 1e6
    table.realTime(CdcMerge.Rewrite).write.parquet(s"$out/snapshot_copy")
    checks("snapshot_bytes") = StreamRun.bytes(Paths.get(s"$out/snapshot_copy"))
    checks("table_bytes") = StreamRun.bytes(Paths.get(s"$out/table"))
    val actual = spark.read.parquet(s"$out/snapshot_copy").select(cols.map(F.col): _*)
    val exp = expected.select(cols.map(F.col): _*).cache()
    checks("snapshot_rows") = exp.count()
    checks("snapshot_mismatch_rows") = actual.exceptAll(exp).count() + exp.exceptAll(actual).count()
    // the generator creates every on-time event at or after the feed's
    // start and every beyond-tolerance one before it
    val onTime = sales(changes(text(topic))).filter(F.col("ts") >= F.timestamp_millis(F.lit(feedStart)))
    val batchSummary = StreamJobs.enrichedWindowSales(onTime, dim).collect().map { r =>
      (r.getStruct(0).getTimestamp(0), r.getString(1)) -> (r.getDouble(2), r.getLong(3))
    }.toMap
    checks("summary_rows") = batchSummary.size
    val differ = (batchSummary.keySet ++ summary.keySet).filter(k => batchSummary.get(k) != summary.get(k))
    checks("summary_mismatch_rows") = differ.size
    checks("summary_mismatch_sample") = differ.toSeq.sortBy(_.toString).take(5)
      .map(k => s"$k batch=${batchSummary.get(k)} stream=${summary.get(k)}")
    checks("late_rows_dropped") = lateDropped
    checks("beyond_tolerance_rows") = manifest("beyond_tolerance_rows")

    Map("warmup_s" -> warmupS, "generator" -> gen.toSeq, "open_loop" -> Map(
        "start" -> loopStart, "end" -> loopEnd, "gc_ms" -> loopGcMs), "commits" -> sink.committed.toSeq,
      "source_log" -> s"$out/ckpt/cdc/sources/0", "drains" -> drains,
      "backlog_events" -> manifest("backlog_events"), "checks" -> checks.toMap,
      "failures" -> failures.toSeq)
  }
}

object StreamRun {
  /** Bytes of the data files under `p` (Spark's checksum and marker files excluded). */
  def bytes(p: Path): Long = {
    val st = Files.walk(p)
    try st.iterator().asScala.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
      .map(Files.size).sum
    finally st.close()
  }
}
