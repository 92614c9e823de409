package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Benchmark main — runs the pinned headline queries on
  * SPARK_GRAFT_SF_DIR and prints one SHORT JSON headline line
  * `{"metric":"total","value":N,"unit":"sec",...}` as the last stdout
  * line (the driver captures only a 4 KB stdout tail — BENCH_r05 lost
  * its total to front-truncation of one long line); the full per-query
  * median/min maps are written to `target/bench_detail.json` and
  * mirrored to stderr. The driver runs this per-round at sf0.1 →
  * BENCH_r{N}.json. `Bench plan <tag> <suffix> <query>...` instead
  * dumps formatted plans with paired timings (see `plan` below).
  *
  * Methodology (round-2 fixes per VERDICT "What's wrong" #2/#3):
  *  - every query materializes through the `noop` sink, which consumes every
  *    row of the final physical plan. Under the previous `.count()`
  *    action Catalyst legally deleted the benchmarked work itself
  *    (ColumnPruning dropped projection chains, EliminateSorts dropped
  *    every ORDER BY), so map-only queries timed parquet row-count
  *    metadata instead of the query.
  *  - A query that throws is reported as -1 in the per-query map, named
  *    in the "errors" array, and logged to stderr — a broken query can
  *    no longer read as a fast one.
  *  - (round 5) every query runs 3×; "queries" reports the per-query
  *    MEDIAN and "queries_min" the minimum. The bench box swings 3-5×
  *    under co-tenant load (observed identical-code totals 24.8 s vs
  *    164.8 s), so a single sample made cross-round deltas unreadable —
  *    the r4 "1.81× regression" was noise concentrated in unchanged
  *    queries. Medians of interleaved rounds (all queries once, 3 passes)
  *    sample the load at 3 separated points per query instead of one.
  *  - (round 14) PER-PASS calibration normalization: each pass is
  *    bracketed by two calibration probes and every query time is also
  *    reported divided by its own pass's bracketed-average calibration
  *    ("queries_min_norm", "min_total_norm" — dimensionless calibration
  *    units). The r13 driver run proved a run-level min-calibration
  *    cannot adjudicate a contention RAMP (calibration rose 0.245 →
  *    0.656 across its passes; totals +11% while the min said the box
  *    was fast): normalized numbers are the cross-round comparison —
  *    drift that survives normalization is code, not box.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    args.toList match {
      case Nil => bench(sfDir, cpus)
      case "plan" :: tag :: suffix :: names => plan(sfDir, cpus, tag, suffix, names)
      case _ => sys.error("usage: graft.Bench [plan <tag> <suffix> <query>...]")
    }
  }

  private def session(cpus: String): SparkSession =
    Sessions.local(cpus.toInt, "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  private def materialize(spark: SparkSession, name: String, dir: String): Either[Throwable, Unit] =
    try Right(SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save())
    catch { case e: Throwable => Left(e) }

  // CALIBRATION probe: a fixed, IO-free, in-memory aggregation (range →
  // modular sum, whole-stage codegen, constant work) timed once per
  // pass. Its cross-round ratio estimates the BOX's speed that day —
  // co-tenant load has moved identical-code totals 3-5×, and three
  // rounds were adjudicated "box drift, not regression" by hand from
  // uniform per-query drift; dividing per-query ratios by the
  // calibration ratio makes that adjudication arithmetic instead.
  private def calibrate(spark: SparkSession, cpus: String): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 2000000000L, 1L, cpus.toInt)
      .selectExpr("sum(id % 7) AS s", "count(*) AS n")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** `plan <tag> <suffix> <query>...`: write each query's
    * `.explain("formatted")` to `plans/<tag>/<query>_<suffix>.txt` and
    * print 3 warm noop-sink timings per query, each bracketed by two
    * calibration probes, so a before/after change can be judged inside
    * ONE JVM (the bench box's co-tenant load makes cross-process
    * absolute numbers unreadable — BENCH_r05/r08 postmortems); the
    * normalized min (raw / bracket-average calibration) is the number
    * comparable across runs taken hours apart.
    */
  private def plan(
      sfDir: String, cpus: String, tag: String, suffix: String, names: Seq[String]): Unit = {
    val spark = session(cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"plans/$tag"))
    calibrate(spark, cpus) // warm the probe's codegen
    names.foreach { name =>
      val txt = SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"plans/$tag/${name}_$suffix.txt"), txt)
      // warm twice so codegen/classloading lands outside the reported run
      val samples = (1 to 3).map { _ =>
        val c0 = calibrate(spark, cpus)
        val t0 = System.nanoTime()
        materialize(spark, name, sfDir).toTry.get
        val t = (System.nanoTime() - t0) / 1e9
        val c1 = calibrate(spark, cpus)
        (t, t / ((c0 + c1) / 2.0))
      }
      val times = samples.map(_._1)
      val norms = samples.map(_._2)
      println(f"[plan] $name $suffix: ${times.map(t => f"$t%.3f").mkString(" ")} " +
        f"(min ${times.min}%.3f, norm_min ${norms.min}%.3f)")
    }
    spark.stop()
  }

  private def bench(sfDir: String, cpus: String): Unit = {
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    // PRE-RUN box state, sampled BEFORE the session/fixture/warm-up do
    // any work (round-15 adjudication gap: the committed detail ran
    // after a 90-minute verify campaign and showed a ~11% uniform
    // normalized shift vs quiet same-code runs — page-cache and load
    // state at t0 is the suspect, so record it instead of inferring it
    // from end-of-run load): 1-minute load average plus the kernel's
    // Cached/MemAvailable (page-cache occupancy) when /proc exists.
    val preLoad = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val (preCachedMb, preAvailMb) = (try {
      val mem = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/meminfo")).toArray(Array.empty[String])
      def kb(key: String): Long = mem.find(_.startsWith(key))
        .flatMap(_.split("\\s+").lift(1)).flatMap(_.toLongOption).getOrElse(-1L)
      (kb("Cached:") / 1024L, kb("MemAvailable:") / 1024L)
    } catch { case _: Throwable => (-1L, -1L) })
    val spark = session(cpus)

    // SECOND, IO-SHAPED calibration probe (round-15): a fixed parquet
    // scan + hash-shuffle + aggregate over a deterministic fixture
    // written once at startup. Rationale: the pure-CPU probe left a
    // ~14% normalized residual between the r14 driver run (load 10.4)
    // and the builder's quiet runs — shuffle/IO-heavy queries degrade
    // SUPERLINEARLY under co-tenant load relative to codegen loops, so
    // a CPU-only probe under-corrects them. Both series ride the
    // detail; whichever normalizes same-code runs tighter adjudicates.
    val ioFixture = "target/bench_io_probe.parquet"
    def calibrateIo(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(ioFixture)
        .groupBy("k")
        .agg(org.apache.spark.sql.functions.sum("v").as("sv"),
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // fixed, seedless fixture: 40M rows, ~1009 shuffle keys — written
    // once, OUTSIDE every timed window
    spark.range(0L, 40000000L, 1L, cpus.toInt)
      .selectExpr("id", "id % 1009 AS k", "(id * 2654435761) % 1000003 AS v")
      .write.mode("overwrite").parquet(ioFixture)

    // JVM + codegen warm-up on the smallest SF so BENCH measures the
    // plan, not first-call classloading.
    SparkEntry.benchQueries.foreach(materialize(spark, _, warmDir))
    calibrate(spark, cpus) // warm the calibration plans' codegen too
    calibrateIo()

    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    // per-pass calibration at the pass's START and END, averaged: the r13
    // driver run proved a single min-calibration cannot adjudicate a run
    // whose contention RAMPS mid-flight (its calibration rose 2.7× across
    // passes while calibration-min said the box was fast) — bracketing
    // each pass samples the load the pass's queries actually ran under
    val calStarts = collection.mutable.ArrayBuffer.empty[Double]
    val calEnds = collection.mutable.ArrayBuffer.empty[Double]
    val calIoStarts = collection.mutable.ArrayBuffer.empty[Double]
    val calIoEnds = collection.mutable.ArrayBuffer.empty[Double]
    // pass-major order (q1..qN, q1..qN, ...): a transient load spike hits
    // one sample of many queries, not all samples of one query
    val samples: Seq[Seq[(String, Double, Option[String])]] =
      (1 to passes).map { _ =>
        calStarts += calibrate(spark, cpus)
        calIoStarts += calibrateIo()
        val pass = SparkEntry.benchQueries.map { name =>
          val t0 = System.nanoTime()
          val outcome = materialize(spark, name, sfDir)
          val secs = (System.nanoTime() - t0) / 1e9
          outcome match {
            case Right(_) => (name, secs, None)
            case Left(e) =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              (name, -1.0, Some(name))
          }
        }
        calIoEnds += calibrateIo()
        calEnds += calibrate(spark, cpus)
        pass
      }
    val calibrations = calStarts // raw start-of-pass probes (r13 field)
    // THAT pass's box speed = bracketed average; normalized time = raw /
    // cal(pass), in dimensionless calibration units — cross-round
    // comparable without sharing a reference box
    val calPass = (0 until passes).map(p => (calStarts(p) + calEnds(p)) / 2.0)
    val calIoPass = (0 until passes).map(p => (calIoStarts(p) + calIoEnds(p)) / 2.0)
    val results = SparkEntry.benchQueries.map { name =>
      val times = samples.map(_.find(_._1 == name).get)
      val failed = times.exists(_._3.isDefined)
      if (failed) (name, -1.0, -1.0, -1.0, -1.0, Some(name))
      else {
        val ts = times.map(_._2).sorted
        val norm = times.zipWithIndex.map { case (t, p) => t._2 / calPass(p) }
        val normIo = times.zipWithIndex.map { case (t, p) => t._2 / calIoPass(p) }
        (name, ts(ts.size / 2), ts.head, norm.min, normIo.min, None)
      }
    }
    val qs = results.map { case (k, med, _, _, _, _) => "\"" + k + "\":" + med }
      .mkString("{", ",", "}")
    val qsMin = results.map { case (k, _, mn, _, _, _) => "\"" + k + "\":" + mn }
      .mkString("{", ",", "}")
    // JSON-bound decimals pinned to Locale.ROOT (shared: [[JsonNum]])
    def j3(d: Double): String = JsonNum.j(d)
    def j4(d: Double): String = JsonNum.j(d, precision = 4)
    val qsMinNorm = results.map { case (k, _, _, nm, _, _) => "\"" + k + "\":" + j4(nm) }
      .mkString("{", ",", "}")
    val qsMinNormIo = results.map { case (k, _, _, _, ni, _) => "\"" + k + "\":" + j4(ni) }
      .mkString("{", ",", "}")
    val errors = results.flatMap(_._6).map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.collect { case (_, med, _, _, _, None) => med }.sum
    // min_total (sum of per-query minima) rides the headline so a
    // co-tenant-stalled run is self-adjudicating from the 4 KB stdout
    // tail alone: BENCH_r08 reported a 494.98 s median-total whose own
    // detail showed a ~55 s min-sum — total >> min_total means load
    // skew, not a code regression (re-run on a quiet box to confirm)
    val minTotal = results.collect { case (_, _, mn, _, _, None) => mn }.sum
    // normalized min-total: each query's best PASS-NORMALIZED time — the
    // cross-round comparison number (drift in it is code, not box);
    // reported under BOTH probes (cpu and io) so same-code runs decide
    // which probe adjudicates contention tighter
    val minTotalNorm = results.collect { case (_, _, _, nm, _, None) => nm }.sum
    val minTotalNormIo = results.collect { case (_, _, _, _, ni, None) => ni }.sum
    // 1-minute system load BEFORE this bench's own threads inflate it is
    // gone by now, so report the current one: co-tenant contention on the
    // bench box has been observed to move totals 3-5x between runs
    // minutes apart with identical code — the reader needs the context.
    val load = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val calArr = calibrations.map(j3).mkString("[", ",", "]")
    val calEndArr = calEnds.map(j3).mkString("[", ",", "]")
    val calPassArr = calPass.map(j3).mkString("[", ",", "]")
    val calIoArr = calIoStarts.map(j3).mkString("[", ",", "]")
    val calIoEndArr = calIoEnds.map(j3).mkString("[", ",", "]")
    val calIoPassArr = calIoPass.map(j3).mkString("[", ",", "]")
    val calMin = j3(calibrations.min)
    // The driver captures only the TAIL of stdout (BENCH_r05 lost its
    // "metric":"total" to front-truncation of one long line), so the
    // final stdout line carries just the headline (≤ ~300 bytes); the
    // full per-query median/min maps go to a detail file and stderr.
    val preRun = s"""{"load_avg_1m":$preLoad,"cached_mb":$preCachedMb,"available_mb":$preAvailMb}"""
    val detail =
      s"""{"metric":"total","value":$total,"unit":"sec","min_total":$minTotal,"min_total_norm":${j3(minTotalNorm)},"min_total_norm_io":${j3(minTotalNormIo)},"queries":$qs,"queries_min":$qsMin,"queries_min_norm":$qsMinNorm,"queries_min_norm_io":$qsMinNormIo,"passes":$passes,"errors":$errors,"load_avg_1m":$load,"pre_run":$preRun,"calibration":$calArr,"calibration_end":$calEndArr,"calibration_pass":$calPassArr,"calibration_io":$calIoArr,"calibration_io_end":$calIoEndArr,"calibration_io_pass":$calIoPassArr,"calibration_min":$calMin,"cpus":$cpus,"sf":"$sfDir"}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/bench_detail.json"), detail)
    System.err.println(detail)
    val headline =
      s"""{"metric":"total","value":$total,"unit":"sec","min_total":$minTotal,"min_total_norm":${j3(minTotalNorm)},"min_total_norm_io":${j3(minTotalNormIo)},"n_queries":${results.size},"passes":$passes,"errors":$errors,"load_avg_1m":$load,"calibration_min":$calMin,"cpus":$cpus,"sf":"$sfDir","detail":"target/bench_detail.json"}"""
    // The driver's stdout capture has mis-parsed the headline for four
    // rounds (sbt's "[info] " prefix + tail clipping — PERF_r14..r17 all
    // record parsed: null), so the SAME one-line total JSON also lands in
    // a file beside the detail: byte-identical to the printed line, so
    // either source adjudicates the round.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/bench_total.json"), headline)
    println(headline)
    spark.stop()
  }
}
