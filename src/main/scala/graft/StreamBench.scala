package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.streaming.StreamJobs

/** Streaming-throughput micro-bench (TopKBench/AvroBench mold): rows/sec
  * through the engine's stateful streaming operators, run through the
  * real streaming engine (file source → stateful exec → noop sink,
  * AvailableNow) on an events fixture shard-replicated from
  * SPARK_GRAFT_SF_DIR with per-shard user_id shifts — distinct users
  * (= state rows) scale with the data, the dimension that matters for a
  * state backend.
  *
  * Subjects (comma list in SPARK_GRAFT_STREAM_SUBJECTS; default all):
  *
  *  - `sessionize` — custom-state sessionization across the state API ×
  *    backend matrix: fmgws_hdfs, fmgws_rocksdb, tws_rocksdb,
  *    tws_rocksdb_changelog (the changelog variant prices incremental
  *    checkpoint upload, the recovery-cost strategy at large state).
  *  - `join` — the watermarked stream–stream interval join (two-sided
  *    buffered state, a different growth profile from sessionize's
  *    one-row-per-user), HDFS-backed vs RocksDB.
  *  - `dedup` — `dropDuplicatesWithinWatermark` over (user, type) with a
  *    35-day horizon (key-count-bounded state), HDFS vs RocksDB.
  *  - `recovery` — the changelog question priced on the RECOVERY side:
  *    build sessionizeTws state over multiple micro-batches on RocksDB
  *    with changelog checkpointing on/off, then restart against the
  *    same checkpoint with one tiny new file and time the restart run —
  *    state reload (changelog replay vs full-snapshot load) dominates
  *    it. Run at two state sizes. This is the number that justifies (or
  *    not) changelog's steady-state write cost, which the sessionize
  *    subject prices.
  *  - `scale` — the state axis pushed a SECOND decade, mirroring the
  *    batch probes' two-decade discipline: sessionize at 1×/10×/100×
  *    users on fmgws_hdfs and tws_rocksdb, one timed pass per decade;
  *    sec-per-Mrow across decades exposes superlinear state behavior.
  *  - `admission` — streaming ingest admission (q84's shape): an N×
  *    document stream fingerprinted map-side and probed against the
  *    base corpus's standing fingerprint index (stream-static
  *    left-anti), then the update-mode admission agg; docs/s, HDFS vs
  *    RocksDB on the agg's store.
  *  - `fold` — continuous ingest with PER-BATCH INDEX FOLDS (q91's
  *    shape): the N× document stream trickles in as multiple
  *    micro-batches; each probes the corpus segment plus every earlier
  *    batch's folded segment and folds its admissions via
  *    StandingIndex.foldAt — docs/s through fingerprint + segmented
  *    probe + the per-batch index publication (the fold's bucketed
  *    catalog write is the measured per-batch maintenance price).
  *    Stateless (the index is the state), so no backend variants.
  *  - `foldexp` — `fold` with a dedup horizon (q98's shape): per-batch
  *    expire + stamped fold; the delta vs `fold` prices the horizon.
  *  - `neardup` — the FUZZY modality of `fold` (q96's shape): per-batch
  *    shingle + single-pass banding, segmented band-index probe with
  *    exact-Jaccard confirm against the doc store, admitted band keys
  *    folded; docs/s through the full near-dup maintenance cycle.
  *  - `wmfold` — the PRODUCTION WATERMARK CLOCK priced against the
  *    batch-position clock: both arms run the expiring fold cycle on
  *    one gate-shaped staged fixture (slice-per-batch, q108's
  *    event-time geometry); `posclock` is q98's loop, `wmclock` adds
  *    the watermark operator, the recorded-planning-watermark IO, the
  *    max-event aggregate, and watermark-derived expiry (q108/q115's
  *    loop) — the delta IS the clock's cost.
  *  - `vecfold` — the VECTOR modality of `fold` (q100's shape):
  *    per-batch sketch (integer scaling + norm + sign-LSH bucket, one
  *    pass), segmented bucket-index probe with exact-cosine confirm,
  *    admitted sketch rows folded; vectors/s through the full
  *    embedding maintenance cycle. Completes the throughput pricing
  *    across all three dedup modalities.
  *
  * Not a driver gate — run manually (`runMain graft.StreamBench`);
  * numbers are recorded in COVERAGE.md, one JSON line per subject.
  * Methodology follows Bench: warm-up pass first, then `passes` timed
  * passes per variant (variant-major interleaved so a load spike hits
  * all variants), report per-variant median and min, rows/sec from the
  * min (the least-noise estimate of engine throughput). Each pass uses
  * a fresh checkpoint so every run replays the full input through empty
  * state.
  */
object StreamBench {

  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private val Hdfs =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  private val Rocks =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val shards = sys.env.getOrElse("SPARK_GRAFT_STREAM_SHARDS", "10").toInt
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val knownSubjects = Set("sessionize", "join", "dedup", "recovery", "scale",
      "admission", "fold", "foldexp", "foldcmp", "neardup", "vecfold", "wmfold")
    val subjects = sys.env.getOrElse("SPARK_GRAFT_STREAM_SUBJECTS",
      "sessionize,join,dedup,recovery,scale,admission,fold,foldexp,foldcmp,neardup,vecfold,wmfold")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    // a typo'd or empty subject list would otherwise run ZERO subjects
    // and exit cleanly — indistinguishable from a recorded run (ADVICE)
    require(subjects.nonEmpty && subjects.subsetOf(knownSubjects),
      s"unknown/empty SPARK_GRAFT_STREAM_SUBJECTS ${subjects -- knownSubjects}; " +
        s"known: ${knownSubjects.mkString(",")}")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // fixtures: N shards of the events dump (shared builder — user_id
    // shifts per shard so state rows scale N×; ts normalized to µs
    // TimestampType by the builder), built once per size
    val fixtures = scala.collection.mutable.Map.empty[Int, (String, Long)]
    def fixture(n: Int): (String, Long) = fixtures.getOrElseUpdate(n, {
      val path = s"target/streambench$n"
      Tables.shardedEvents(spark, base, n)
        .repartition(32).write.mode("overwrite").parquet(path)
      (path, spark.read.parquet(path).count())
    })

    def events(path: String, maxFilesPerTrigger: Option[Int] = None): DataFrame = {
      val r = spark.readStream.schema(eventsSchema)
      maxFilesPerTrigger.foreach(m => r.option("maxFilesPerTrigger", m.toString))
      r.parquet(path)
    }

    /** One AvailableNow run to a noop sink against a fresh checkpoint;
      * returns wall seconds.
      */
    def timeRun(out: DataFrame, ck: String = null, mode: String = "append"): Double = {
      val checkpoint =
        if (ck != null) ck
        else Files.createTempDirectory("graft-streambench-ck").toString
      val t0 = System.nanoTime()
      val query = out.writeStream
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", checkpoint)
        .format("noop")
        .start()
      query.awaitTermination()
      (System.nanoTime() - t0) / 1e9
    }

    /** Interleaved warm-up + timed passes over named thunks; returns
      * (name, median, min) triples in input order.
      */
    def measure(variants: Seq[(String, () => Double)]): Seq[(String, Double, Double)] = {
      variants.foreach { case (_, f) => f() } // warm-up (codegen, classes)
      val samples = (1 to passes).map(_ => variants.map { case (n, f) => n -> f() })
      variants.map { case (name, _) =>
        val ts = samples.map(_.find(_._1 == name).get._2).sorted
        (name, ts(ts.size / 2), ts.head)
      }
    }

    def loadAvg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

    def jsonLine(metric: String, rows: Long, out: Seq[(String, Double, Double)]): Unit = {
      out.foreach { case (name, med, mn) =>
        System.err.println(
          f"$metric/$name%-22s median=$med%6.2fs min=$mn%6.2fs ${rows / mn}%,.0f rows/s")
      }
      val med = out.map { case (k, m, _) => s""""$k":${JsonNum.j(m)}""" }.mkString("{", ",", "}")
      val mn = out.map { case (k, _, m) => s""""$k":${JsonNum.j(m)}""" }.mkString("{", ",", "}")
      val rps = out.map { case (k, _, m) => s""""$k":${(rows / m).toLong}""" }.mkString("{", ",", "}")
      println(s"""{"metric":"$metric","rows":$rows,"shards":$shards,"passes":$passes,"median_sec":$med,"min_sec":$mn,"rows_per_sec":$rps,"load_avg_1m":$loadAvg,"cpus":$cpus,"sf":"$base"}""")
    }

    def sessions(path: String, tws: Boolean) = {
      val ev = events(path)
        .select($"user_id", $"ts", $"value")
        .withWatermark("ts", "10 minutes")
      (if (tws) StreamJobs.sessionizeTws(ev, gapMinutes = 360)
       else StreamJobs.sessionize(ev, gapMinutes = 360)).toDF()
    }

    if (subjects("sessionize")) {
      val (path, rows) = fixture(shards)
      def run(provider: String, tws: Boolean, changelog: Boolean): Double =
        Confs.withConf(spark,
          "spark.sql.streaming.stateStore.providerClass" -> provider,
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
            changelog.toString) {
          timeRun(sessions(path, tws))
        }
      jsonLine("stream_sessionize", rows, measure(Seq(
        ("fmgws_hdfs", () => run(Hdfs, tws = false, changelog = false)),
        ("fmgws_rocksdb", () => run(Rocks, tws = false, changelog = false)),
        ("tws_rocksdb", () => run(Rocks, tws = true, changelog = false)),
        ("tws_rocksdb_changelog", () => run(Rocks, tws = true, changelog = true)))))
    }

    if (subjects("join")) {
      val (path, rows) = fixture(shards)
      def run(provider: String): Double =
        Confs.withConf(spark,
          "spark.sql.streaming.stateStore.providerClass" -> provider) {
          def side(kind: String, p: String): DataFrame = events(path)
            .filter($"event_type" === kind)
            .select($"event_id".as(s"${p}_id"), $"user_id".as(s"${p}_k"),
              $"ts".as(s"${p}_ts"))
          timeRun(StreamJobs.streamStreamCorrelate(
            side("click", "l"), side("purchase", "r"),
            window = "10 minutes", delay = "10 minutes"))
        }
      jsonLine("stream_join", rows, measure(Seq(
        ("hdfs", () => run(Hdfs)),
        ("rocksdb", () => run(Rocks)))))
    }

    if (subjects("dedup")) {
      val (path, rows) = fixture(shards)
      def run(provider: String): Double =
        Confs.withConf(spark,
          "spark.sql.streaming.stateStore.providerClass" -> provider) {
          timeRun(events(path)
            .select($"user_id", $"event_type", $"ts")
            .withWatermark("ts", "35 days")
            .dropDuplicatesWithinWatermark("user_id", "event_type"))
        }
      jsonLine("stream_dedup", rows, measure(Seq(
        ("hdfs", () => run(Hdfs)),
        ("rocksdb", () => run(Rocks)))))
    }

    if (subjects("recovery")) {
      // build TWS session state over ≥4 micro-batches (32 fixture files,
      // 8/trigger), then restart the same checkpoint with one new tiny
      // file: the restart run's wall time is dominated by state RELOAD —
      // full-snapshot load vs changelog replay, the number the changelog
      // mode exists for. Fresh fixture copy per cell (the tiny file
      // mutates the dir).
      def cell(changelog: Boolean, n: Int): (Long, Long, Double, Double, Double) =
        Confs.withConf(spark,
          "spark.sql.streaming.stateStore.providerClass" -> Rocks,
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
            changelog.toString) {
          val tag = if (changelog) "cl" else "snap"
          val path = s"target/streambench_rec_${tag}_$n"
          Tables.shardedEvents(spark, base, n)
            .repartition(32).write.mode("overwrite").parquet(path)
          val stats = spark.read.parquet(path)
            .agg(count(lit(1)), countDistinct($"user_id"), max(unix_micros($"ts"))).head
          val (rows, keys, maxTsUs) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
          val ck = Files.createTempDirectory(s"graft-rec-$tag-ck").toString
          def restartRun(trickle: Option[Int]): Double = {
            val ev = events(path, maxFilesPerTrigger = trickle)
              .select($"user_id", $"ts", $"value")
              .withWatermark("ts", "10 minutes")
            timeRun(StreamJobs.sessionizeTws(ev, gapMinutes = 360).toDF(), ck)
          }
          val build = restartRun(trickle = Some(8))
          // startup FLOOR: a restart with NOTHING new runs no data batch,
          // so RocksDB never loads state (per-partition lazy load) — this
          // prices query planning/scheduling alone, and
          // `recover − baseline` is the reload-attributable cost
          val baseline = restartRun(trickle = None)
          Seq((Long.MaxValue - 1, maxTsUs + 1000000L, 1L, "click", 1.0, "{}"))
            .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
            .withColumn("ts", timestamp_micros($"ts_us")).drop("ts_us")
            .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
            .coalesce(1).write.mode("append").parquet(path)
          val recover = restartRun(trickle = None)
          (rows, keys, build, baseline, recover)
        }
      val sizes = Seq(1, shards).distinct
      val cells = for (n <- sizes; cl <- Seq(false, true)) yield {
        val (rows, keys, build, baseline, recover) = cell(cl, n)
        val mode = if (cl) "changelog" else "snapshot"
        System.err.println(
          f"recovery/$mode%-9s shards=$n%-3d keys=$keys%,d build=$build%6.2fs " +
            f"baseline=$baseline%6.2fs recover=$recover%6.2fs reload=${recover - baseline}%6.2fs")
        s""""${mode}_x$n":{"rows":$rows,"state_keys":$keys,"build_sec":${JsonNum.j(build)},"baseline_sec":${JsonNum.j(baseline)},"recover_sec":${JsonNum.j(recover)}}"""
      }
      println(s"""{"metric":"stream_recovery","cells":${cells.mkString("{", ",", "}")},"load_avg_1m":$loadAvg,"cpus":$cpus,"sf":"$base"}""")
    }

    if (subjects("admission")) {
      // streaming ingest admission (q84's shape): an N× document stream
      // — Tables.shardedDocuments, so cross-shard texts are genuinely
      // distinct and fingerprint work is real — probed against the BASE
      // corpus's standing fingerprint index (built once, outside the
      // timed runs: the pay-once ingest write) via stream-static
      // left-anti, then the update-mode min/count admission agg. Docs/s
      // through fingerprint + probe + admission state, HDFS vs RocksDB
      // on the agg's store.
      import graft.operators.{Sampling, TextOps}
      val docsPath = s"target/streambench_docs$shards"
      Tables.shardedDocuments(spark, base, shards)
        .repartition(32).write.mode("overwrite").parquet(docsPath)
      val rows = spark.read.parquet(docsPath).count()
      val corpus = Tables.documents(spark, base)
        .filter(Sampling.uniform01($"doc_id") >= 0.3)
        .select(TextOps.bagFingerprint(TextOps.normText($"text")).as("fingerprint"))
        .localCheckpoint()
      val docsSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      def run(provider: String): Double =
        Confs.withConf(spark,
          "spark.sql.streaming.stateStore.providerClass" -> provider) {
          val incoming = spark.readStream.schema(docsSchema).parquet(docsPath)
            .select($"doc_id",
              TextOps.bagFingerprint(TextOps.normText($"text")).as("fingerprint"))
          timeRun(incoming
            .join(corpus, Seq("fingerprint"), "left_anti")
            .groupBy($"fingerprint")
            .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("batch_dups")),
            mode = "update")
        }
      jsonLine("stream_admission", rows, measure(Seq(
        ("hdfs", () => run(Hdfs)),
        ("rocksdb", () => run(Rocks)))))
    }

    // one timed pass of a fold-family subject: re-init the index to
    // corpus-only BEFORE the timer starts (a pass must not probe a prior
    // pass's folds; the init write is the pay-once ingest price OUTSIDE
    // the timed window), then drive the gates' OWN per-batch step
    // (StreamGateQueries.FoldStep: cadence, clock, admit-and-fold) over
    // `stream`, so the bench can never price a shape the gates don't
    // verify. Returns the seconds and the step (its policy counter).
    import graft.operators.{Sampling, StandingIndex, TextOps}
    import graft.queries.{LlmQueries, StreamGateQueries => SGQ}
    def foldPass(
        name: String, stream: DataFrame, corpus: DataFrame, keys: Seq[String],
        clock: SGQ.Clock, cadence: SGQ.Cadence,
        admit: (DataFrame, StandingIndex, Long, Long) => DataFrame): (Double, SGQ.FoldStep) = {
      val ix = new StandingIndex(spark, name, 4, keys)
      ix.init(corpus, maxEventMs = clock.corpusStamp)
      val ck = Files.createTempDirectory(s"graft-$name-ck").toString
      val step = new SGQ.FoldStep(spark, ix, clock, cadence, ck, name, admit)
      val t0 = System.nanoTime()
      stream.writeStream
        .queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .foreachBatch { (batch: DataFrame, batchId: Long) => step(batch, batchId); () }
        .start()
        .awaitTermination()
      ((System.nanoTime() - t0) / 1e9, step)
    }
    val admitFp: (DataFrame, StandingIndex, Long, Long) => DataFrame =
      LlmQueries.admitAndFold(_, _, _, _)

    // shared staging for the fold-family subjects (fold/foldexp/foldcmp):
    // the sharded doc fixture, its count, and the checkpointed corpus
    // fingerprint frame are built ONCE even when several subjects run
    lazy val foldFixture: (String, Long, DataFrame) = {
      val docsPath = s"target/streambench_folddocs$shards"
      Tables.shardedDocuments(spark, base, shards)
        .repartition(32).write.mode("overwrite").parquet(docsPath)
      val rows = spark.read.parquet(docsPath).count()
      val corpusFp = Tables.documents(spark, base)
        .filter(Sampling.uniform01($"doc_id") >= 0.3)
        .select(TextOps.bagFingerprint(TextOps.normText($"text")).as("fingerprint"))
        .localCheckpoint()
      (docsPath, rows, corpusFp)
    }
    val foldDocsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    // the fixture's 32 files as a fingerprinted doc stream
    def fpStream(filesPerTrigger: Int): DataFrame =
      spark.readStream.schema(foldDocsSchema)
        .option("maxFilesPerTrigger", filesPerTrigger.toString)
        .parquet(foldFixture._1)
        .select($"doc_id",
          TextOps.bagFingerprint(TextOps.normText($"text")).as("fingerprint"))

    if (subjects("fold")) {
      // continuous ingest with per-batch index folds (q91's shape): the
      // timed run measures fingerprint + segmented probe + the per-batch
      // fold publications only
      val (_, rows, corpusFp) = foldFixture
      jsonLine("stream_fold", rows, measure(Seq(("fold", () =>
        foldPass("sbfold", fpStream(8), corpusFp, Seq("fingerprint"), // 4 batches
          SGQ.Clock.Never, SGQ.Cadence.Never, admitFp)._1))))
    }

    if (subjects("foldexp")) {
      // `fold` with a dedup HORIZON (q98's shape): each batch first
      // expires segments stamped behind batchId − 2, then folds stamped
      // at the batch position — the measured delta vs the `fold` subject
      // is the per-batch price of the horizon (an expire = one pointer
      // read, plus a retire-commit and a reclaim drop on the batches
      // where a segment crosses the horizon; index state stays
      // O(horizon × batch)). The corpus is stamped pre-batch-0, exactly
      // the gate's clock.
      val (_, rows, corpusFp) = foldFixture
      jsonLine("stream_foldexp", rows, measure(Seq(("foldexp", () =>
        foldPass("sbfoldexp", fpStream(8), corpusFp, Seq("fingerprint"),
          SGQ.Clock.BatchHorizon, SGQ.Cadence.Never, admitFp)._1))))
    }

    if (subjects("foldcmp")) {
      // q111's cadence POLICY priced: the SAME continuous fold loop run
      // at 16 micro-batches with and without `compactIfOver(k = 4)` at
      // each batch head. The measured delta is the whole-run price of
      // the policy's compact rewrites (3 firings at this batch count —
      // asserted, the gate's non-vacuity fence), and what it buys is
      // the bounded probe fan-out: the no-policy arm's last batch
      // probes 16 strictly-earlier segments, the policy arm never more
      // than k.
      val (_, rows, corpusFp) = foldFixture
      def run(cadence: SGQ.Cadence, tag: String): Double = {
        val (secs, step) = foldPass(s"sbfoldcmp$tag", fpStream(2), // 16 batches
          corpusFp, Seq("fingerprint"), SGQ.Clock.Never, cadence, admitFp)
        if (cadence != SGQ.Cadence.Never) require(step.policyFired.get >= 2,
          s"foldcmp policy arm must fire >= 2 compactions, got ${step.policyFired.get}")
        secs
      }
      jsonLine("stream_foldcmp", rows, measure(Seq(
        ("nopolicy", () => run(SGQ.Cadence.Never, "np")),
        ("policy", () => run(SGQ.Cadence.Policy(4), "p")))))
    }

    if (subjects("wmfold")) {
      // the PRODUCTION WATERMARK CLOCK priced against the batch-position
      // clock (task: q108/q115's clock overhead as a number, not an
      // assumption). Both arms run the expiring fold cycle on the SAME
      // gate-shaped staged fixture (slice = hash60('g'||doc_id) % 4,
      // event_ts by q108's geometry, one file per slice delivered as one
      // micro-batch each); the delta is purely the clock's cost:
      //   posclock — q98's loop: expire(batchId − H), fold stamped at
      //     the batch position; the event_ts column exists in the files
      //     but is never read (columnar scan prunes it);
      //   wmclock — q108/q115's loop: the watermark operator in-plan,
      //     the per-batch recorded-planning-watermark IO
      //     (plannedWatermarkMs: lastProgress read + tmp+ATOMIC_MOVE
      //     record), the max-event aggregate, expiry at
      //     committedWatermark − Hms, fold stamped at the batch max.
      val nSlices = 4
      // the GATE's staging discipline at bench scale: hash-group slices,
      // wmEventTs geometry, one file per slice with ascending mod times
      // (SGQ.writeSlices — shared, so fixture and gate staging can
      // never drift)
      // rooted under target/ (not java.io.tmpdir): at the 100× decade
      // the staged fixture is the full sharded dump, and /tmp is often
      // a size-limited tmpfs
      val stagedP = Files.createTempDirectory(
        java.nio.file.Paths.get("target"), "sbwm-src")
      val scratchP = Files.createTempDirectory(
        java.nio.file.Paths.get("target"), "sbwm-part")
      val grp = Sampling.hash60(concat(lit("g"), $"doc_id".cast("string"))) % nSlices
      SGQ.writeSlices(stagedP, scratchP,
        Tables.shardedDocuments(spark, base, shards)
          .select($"doc_id", $"text")
          .withColumn("_slice", (grp + 1).cast("int"))
          .withColumn("event_ts", SGQ.wmEventTs($"doc_id")),
        nSlices, filePrefix = "docs")
      val stagedDir = stagedP.toString
      val rows = spark.read.parquet(stagedDir).count()
      val corpusFp = Tables.documents(spark, base)
        .filter(Sampling.uniform01($"doc_id") >= 0.3)
        .select(TextOps.bagFingerprint(TextOps.normText($"text")).as("fingerprint"))
        .localCheckpoint()
      val wmDocsSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("event_ts", TimestampType)))
      def run(clock: SGQ.Clock, tag: String): Double = {
        val read = spark.readStream.schema(wmDocsSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(stagedDir)
        val fp = TextOps.bagFingerprint(TextOps.normText($"text")).as("fingerprint")
        val stream =
          if (clock != SGQ.Clock.Watermark) read.select($"doc_id", fp)
          else read.select($"doc_id", fp, $"event_ts")
            .withWatermark("event_ts", s"${SGQ.WmDelayMs / 1000} seconds")
        foldPass(s"sbwm$tag", stream, corpusFp, Seq("fingerprint"), clock,
          SGQ.Cadence.Never, admitFp)._1
      }
      jsonLine("stream_wmfold", rows, measure(Seq(
        ("posclock", () => run(SGQ.Clock.BatchHorizon, "pos")),
        ("wmclock", () => run(SGQ.Clock.Watermark, "wm")))))
    }

    if (subjects("neardup")) {
      // q96's per-batch NEAR-dup fold step priced as throughput: shingle
      // + band the arriving micro-batch (one pass — the checkpointed
      // frame serves probe and fold, admitByBandFrame's law), probe the
      // standing band index's strictly-earlier segments, exact-confirm
      // candidates against the shingle doc store, fold the admitted band
      // keys. Doc-store shingling is the pay-once ingest price OUTSIDE
      // the timed window. Stateless, like `fold`.
      val docsPath = s"target/streambench_nddocs$shards"
      Tables.shardedDocuments(spark, base, shards)
        .repartition(32).write.mode("overwrite").parquet(docsPath)
      val rows = spark.read.parquet(docsPath).count()
      // the confirm store: shard 0 is the unmodified base corpus, so one
      // frame serves corpus AND stream blockers (q53's point-lookup role)
      val docStoreSh = LlmQueries.shingleDocs(spark.read.parquet(docsPath))
        .localCheckpoint()
      val corpusBands = LlmQueries.minhashBands(
          LlmQueries.shingleDocs(Tables.documents(spark, base)
            .filter(Sampling.uniform01($"doc_id") >= 0.3)))
        .select($"doc_id", $"band", $"bk").localCheckpoint()
      def stream = spark.readStream.schema(foldDocsSchema)
        .option("maxFilesPerTrigger", "8") // 32 fixture files → 4 batches
        .parquet(docsPath)
      jsonLine("stream_neardup_fold", rows, measure(Seq(("neardup", () =>
        foldPass("sbndfold", stream, corpusBands, Seq("band", "bk"),
          SGQ.Clock.Never, SGQ.Cadence.Never,
          LlmQueries.neardupAdmitAndFold(_, _, _, docStoreSh, _))._1))))
    }

    if (subjects("vecfold")) {
      // q100's per-batch VECTOR fold step priced as throughput: sketch
      // the arriving micro-batch ONCE (integer scaling + squared norm +
      // sign-LSH bucket — the checkpointed frame serves probe and
      // fold), probe the standing bucket index's strictly-earlier
      // segments with the exact integer-scaled-cosine confirm, fold the
      // admitted sketch rows. Stateless, like `fold`/`neardup`. The
      // sharded fixture's isometry (rotation + odd-shard negation)
      // preserves within-shard semantic structure bit-exactly, so the
      // probe load is the real admission shape, not a degenerate
      // all-admit.
      val vecsPath = s"target/streambench_vecs$shards"
      Tables.shardedEmbeddings(spark, base, shards)
        .repartition(32).write.mode("overwrite").parquet(vecsPath)
      val rows = spark.read.parquet(vecsPath).count()
      val corpusFrame = LlmQueries.vectorIndexRows(LlmQueries.vectorSketch(
          Tables.embeddings(spark, base)
            .filter(Sampling.uniform01($"vec_id") >= 0.5)))
        .localCheckpoint()
      val vecsSchema = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType)))
      def stream = spark.readStream.schema(vecsSchema)
        .option("maxFilesPerTrigger", "8") // 32 fixture files → 4 batches
        .parquet(vecsPath)
      jsonLine("stream_vector_fold", rows, measure(Seq(("vecfold", () =>
        foldPass("sbvecfold", stream, corpusFrame, Seq("bucket"),
          SGQ.Clock.Never, SGQ.Cadence.Never,
          LlmQueries.vectorAdmitAndFold(_, _, _, _))._1))))
    }

    if (subjects("scale")) {
      // two-decade state axis: one timed pass per decade (the 100×
      // decade is minutes of input; medians would be prohibitive), after
      // a 1×-decade warm-up that amortizes codegen/classloading for the
      // whole sweep. Superlinear state behavior shows as sec-per-Mrow
      // GROWING across decades.
      def dedup(path: String): DataFrame = events(path)
        .select($"user_id", $"event_type", $"ts")
        .withWatermark("ts", "35 days")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
      def join(path: String): DataFrame = {
        def side(kind: String, p: String): DataFrame = events(path)
          .filter($"event_type" === kind)
          .select($"event_id".as(s"${p}_id"), $"user_id".as(s"${p}_k"),
            $"ts".as(s"${p}_ts"))
        StreamJobs.streamStreamCorrelate(
          side("click", "l"), side("purchase", "r"),
          window = "10 minutes", delay = "10 minutes")
      }
      def run(n: Int, subject: String => DataFrame, provider: String): (Long, Double) =
        Confs.withConf(spark,
          "spark.sql.streaming.stateStore.providerClass" -> provider) {
          val (path, rows) = fixture(n)
          (rows, timeRun(subject(path)))
        }
      // warm-up at the cheap decade (codegen/classes for the whole sweep)
      run(1, sessions(_, tws = false), Hdfs)
      run(1, sessions(_, tws = true), Rocks)
      run(1, dedup, Rocks)
      run(1, join, Rocks)
      val decades = Seq(1, 10, 100).map { n =>
        val (rows, v1) = run(n, sessions(_, tws = false), Hdfs)
        val (_, v2) = run(n, sessions(_, tws = true), Rocks)
        val (_, v3) = run(n, dedup, Rocks)
        val (_, v4) = run(n, join, Rocks)
        System.err.println(
          f"scale x$n%-4d rows=$rows%,d fmgws_hdfs=$v1%6.2fs tws_rocksdb=$v2%6.2fs " +
            f"dedup_rocksdb=$v3%6.2fs join_rocksdb=$v4%6.2fs " +
            f"(${v1 / (rows / 1e6)}%.2f / ${v2 / (rows / 1e6)}%.2f / " +
            f"${v3 / (rows / 1e6)}%.2f / ${v4 / (rows / 1e6)}%.2f s/Mrow)")
        s""""x$n":{"rows":$rows,"fmgws_hdfs_sec":${JsonNum.j(v1)},"tws_rocksdb_sec":${JsonNum.j(v2)},"dedup_rocksdb_sec":${JsonNum.j(v3)},"join_rocksdb_sec":${JsonNum.j(v4)}}"""
      }
      println(s"""{"metric":"stream_state_scale","decades":${decades.mkString("{", ",", "}")},"load_avg_1m":$loadAvg,"cpus":$cpus,"sf":"$base"}""")
    }

    spark.stop()
  }
}
