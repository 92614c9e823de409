package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe main: measures how the most expensive verified queries
  * scale from sf0.1 (1×) to a deterministic N× replica of it
  * (`SPARK_GRAFT_PROBE_SHARDS`, default 10; run 10 AND 100 for a
  * two-decade exponent), turning the "these plans survive a scale-up"
  * claim from plan audit into a measured exponent. Not part of the
  * driver gates — run manually; ratios are recorded in COVERAGE.md.
  *
  * Fixture (seedless, fully deterministic): each probed table is the
  * union of N shards of the sf0.1 original with ids shifted per shard.
  * Document TEXT is per-shard `translate`d through a composite
  * two-alphabet rotation, which (a) preserves length, token boundaries,
  * and the WITHIN-shard duplicate/near-duplicate structure exactly (a
  * bijective character map preserves shingle equality), while (b) making
  * copies of the same document DISSIMILAR across shards — so dup/near-dup
  * work grows linearly with data, instead of every document gaining N−1
  * artificial near-duplicates (which would measure a quadratically
  * harder problem, not an N× bigger one).
  */
object ScaleProbe {

  private val AllProbes = Seq(
    "q46_corpus_prep", "q40_dedup_clusters", "q27_simhash_neardup",
    "q51_bucketed_join", "q43_top_terms", "q16_neardup_lsh",
    "q73_incremental_dedup", "q74_token_packing",
    // round-11 additions: the distributed prefix-sum mixture sampler
    // (whose whole point is that a source's growing stream fans out
    // instead of serializing) and cross-split decontamination (band
    // joins growing on both sides)
    "q79_mixture_sample", "q81_decontamination", "q85_quality_gate",
    "q88_boilerplate_chunks",
    // round-12: the whole maintenance gate (two q75-shaped admission
    // rounds + two segment folds) on a corpus growing on BOTH sides —
    // expected to ride q75/q81's band-join cost class; the per-ingest
    // ratio and fold flatness are measured separately (ingest axis +
    // q89_fold_probe)
    "q89_index_maintenance",
    // events-side workloads: per-key window dedup, native session
    // windows, and the KMV sketch (whose state must stay k per group
    // no matter how the input grows)
    "q03_latest_event_per_user", "q35_session_window", "q36_kmv_distinct",
    // ingest axis: FIXED batch, GROWING corpus — the real per-ingest
    // ratio (q73/q75 grow both sides N×; here the arriving batch stays
    // the base's incoming set while the standing MATERIALIZED index —
    // fingerprints, band keys, shingle store — grows N×). A rising
    // exponent here would falsify the standing-index claim before
    // production scale does.
    "q73_ingest_probe", "q75_ingest_probe",
    // the embedding modality's ingest probe: fixed vector batch vs a
    // 100×-grown standing sign-LSH bucket index (q80's shape)
    "q80_ingest_probe",
    // maintenance axis (q89's fold): band + fold a FIXED admitted batch
    // into a standing index at 1× vs N× corpus — StandingIndex's
    // O(batch) claim measured: the fold writes one batch-sized bucketed
    // segment and swaps a pointer, touching no standing bytes, so the
    // ratio must be ~1 (exp ~0) no matter how the corpus grows
    "q89_fold_probe",
    // compaction axis: time StandingIndex.compact() itself at 1× vs N×
    // corpus. compact IS O(corpus) — the expected exponent is ~1; the
    // point is the NUMBER: with fold cost flat and compact linear, the
    // measured pair quantifies the amortization break-even that sets
    // compact cadence (see COVERAGE's segment-count policy row)
    "q89_compact_probe",
    // the STAMPED arm of the compaction axis: the same merge over
    // MIXED-stamp segments (corpus stamped 0, fold stamped 1 — the
    // expiring-deployment shape, where every fold carries a distinct
    // stamp), so compact() runs the entry-level `_g_stamp` path: each
    // merged row carries its source's stamp, widening the rewrite by
    // one long column. The r14 probe measured only the unstamped arm;
    // a diverging stamped exponent would feed the cadence arithmetic
    "q89_compact_stamped_probe")

  // SPARK_GRAFT_PROBE_QUERIES=q03_...,q35_... probes a subset (and the
  // fixture builder then materializes only the tables that subset reads
  // — a 100x document corpus is expensive to write for an events-only run)
  private val Probes = sys.env.get("SPARK_GRAFT_PROBE_QUERIES")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    .getOrElse(AllProbes)

  private val DocProbes = Set(
    "q46_corpus_prep", "q40_dedup_clusters", "q27_simhash_neardup",
    "q43_top_terms", "q16_neardup_lsh", "q73_incremental_dedup",
    "q74_token_packing", "q79_mixture_sample", "q81_decontamination",
    "q85_quality_gate", "q88_boilerplate_chunks", "q89_index_maintenance")
  private val SalesProbes = Set("q51_bucketed_join")
  private val EventProbes = Set(
    "q03_latest_event_per_user", "q35_session_window", "q36_kmv_distinct")
  private val IngestProbes = Set("q73_ingest_probe", "q75_ingest_probe")
  private val VecIngestProbes = Set("q80_ingest_probe")
  private val FoldProbes = Set("q89_fold_probe")
  private val CompactProbes = Set("q89_compact_probe")
  private val StampedCompactProbes = Set("q89_compact_stamped_probe")
  // every probe that reads a materialized index root instead of a data dir
  private val IndexProbes =
    IngestProbes ++ VecIngestProbes ++ FoldProbes ++ CompactProbes ++
      StampedCompactProbes

  private val Shards =
    sys.env.getOrElse("SPARK_GRAFT_PROBE_SHARDS", "10").toInt

  /** The standing corpus for the ingest axis: everything EXCEPT the base
    * (shard-0) incoming batch — at 1× exactly q73/q75's corpus
    * (`u ≥ 0.3`); at N× that plus every replica shard in full, so the
    * corpus grows N× while the probed batch does not.
    */
  private def corpusFlag(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    !(graft.operators.Sampling.uniform01(c) < 0.3 && c < 10000000L)

  /** Materialize the standing indexes the ingest probes hit: the
    * fingerprint index (q73's), and the MinHash band index + shingle
    * store (q75's). Built once per corpus version — the pay-once ingest
    * write, deliberately OUTSIDE the timed probe.
    */
  private def buildIngestIndex(spark: SparkSession, docsDir: String, root: String): Unit = {
    import spark.implicits._
    import graft.operators.TextOps
    val docs = Tables.documents(spark, docsDir).filter(corpusFlag($"doc_id"))
    docs.select(TextOps.bagFingerprint(TextOps.normText($"text")).as("fingerprint"))
      .repartition(32).write.mode("overwrite").parquet(s"$root/fp.parquet")
    graft.queries.LlmQueries.shingleDocs(docs)
      .repartition(32).write.mode("overwrite").parquet(s"$root/sh.parquet")
    graft.queries.LlmQueries.minhashBands(spark.read.parquet(s"$root/sh.parquet"))
      .repartition(32).write.mode("overwrite").parquet(s"$root/bands.parquet")
  }

  /** Materialize the standing sign-LSH vector index q80's shape probes
    * (one [[graft.queries.LlmQueries.vectorSketch]] +
    * [[graft.queries.LlmQueries.vectorIndexRows]] spelling with the probe
    * side) — built once per corpus version, outside the timed run.
    */
  private def buildVecIndex(spark: SparkSession, embDir: String, root: String): Unit = {
    import spark.implicits._
    graft.queries.LlmQueries.vectorIndexRows(graft.queries.LlmQueries.vectorSketch(
        Tables.embeddings(spark, embDir).filter(corpusFlag($"vec_id"))))
      .repartition(32).write.mode("overwrite").parquet(s"$root/vecindex.parquet")
  }

  /** The fixed arriving batch: the BASE corpus's incoming set (`u <
    * 0.3`), identical on both sides of the ingest-axis ratio.
    */
  private def ingestBatch(spark: SparkSession, base: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, base)
      .filter(graft.operators.Sampling.uniform01($"doc_id") < 0.3)
  }

  /** Ingest-axis probes, keyed like queries but taking the INDEX root as
    * their dir; batch fingerprint/shingle computation is inside the
    * timed run (it is per-ingest work), index builds are not. Each
    * probe calls its modality's one admission spelling on a one-segment
    * index (`LlmQueries.admitByFingerprint`, `admitByBandFrame`,
    * `admitByVectorSegments`).
    */
  private def ingestProbes(base: String): Map[String, (SparkSession, String) => DataFrame] = {
    import graft.operators.TextOps
    Map(
      "q73_ingest_probe" -> ((s, root) => {
        import s.implicits._
        graft.queries.LlmQueries.admitByFingerprint(
          ingestBatch(s, base).select($"doc_id",
            TextOps.bagFingerprint(TextOps.normText($"text")).as("fingerprint")),
          Seq(s.read.parquet(s"$root/fp.parquet")))
      }),
      "q75_ingest_probe" -> ((s, root) => {
        import s.implicits._
        val batchSh = graft.queries.LlmQueries.shingleDocs(
          Tables.spread(s, ingestBatch(s, base))).localCheckpoint()
        graft.queries.LlmQueries.admitByBandFrame(batchSh,
          graft.queries.LlmQueries.minhashBands(batchSh).localCheckpoint(),
          Seq(s.read.parquet(s"$root/bands.parquet")),
          s.read.parquet(s"$root/sh.parquet"))
      }),
      "q80_ingest_probe" -> ((s, root) => {
        import s.implicits._
        val batch = graft.queries.LlmQueries.vectorSketch(
          Tables.embeddings(s, base)
            .filter(graft.operators.Sampling.uniform01($"vec_id") < 0.3))
        graft.queries.LlmQueries.admitByVectorSegments(batch,
          Seq(s.read.parquet(s"$root/vecindex.parquet")))
      }),
      "q89_compact_probe" -> ((s, root) => {
        // the timed run IS the compaction: merge every live segment of
        // the pre-built (corpus + one fold) index into one generation —
        // an O(corpus) rewrite by design. Repeat passes re-compact the
        // merged generation (same corpus bytes through the writer), so
        // min-of-passes compares like with like. The returned frame is a
        // 1-row peek; the work happened in compact().
        val tag = if (root.contains("scaleingest1")) "p1" else "pn"
        val ix = new graft.operators.StandingIndex(s, s"probe_cmp_$tag", 4,
          Seq("band", "bk"))
        ix.compact()
        ix.segments.head.limit(1)
      }),
      "q89_compact_stamped_probe" -> ((s, root) => {
        // the timed run IS the stamped compaction: the pre-built index
        // holds mixed-stamp segments, so compact() takes the
        // entry-level-stamp path (needStamp). Repeat passes re-compact
        // the merged generation, which CARRIES per-row stamps — still
        // the stamped rewrite, so min-of-passes compares like with like.
        val tag = if (root.contains("scaleingest1")) "p1" else "pn"
        val ix = new graft.operators.StandingIndex(s, s"probe_cmps_$tag", 4,
          Seq("band", "bk"))
        ix.compact()
        ix.segments.head.limit(1)
      }),
      "q89_fold_probe" -> ((s, root) => {
        import s.implicits._
        // per-ingest work inside the timed run: band the fixed arriving
        // batch and FOLD it into the standing index (segment write +
        // atomic pointer swap); read the published segment back as the
        // result. Each pass appends one more segment — fold cost is
        // O(batch) regardless of segment count, which is the claim.
        val tag = if (root.contains("scaleingest1")) "p1" else "pn"
        val ix = new graft.operators.StandingIndex(s, s"probe_fold_$tag", 4,
          Seq("band", "bk"))
        val batchSh = graft.queries.LlmQueries.shingleDocs(
          Tables.spread(s, ingestBatch(s, base)))
        ix.fold(graft.queries.LlmQueries.minhashBands(batchSh)
          .select($"doc_id", $"band", $"bk"))
        ix.segments.last
      }))
  }

  private def buildFixture(spark: SparkSession, base: String, out: String): Unit = {
    import spark.implicits._
    // doc replication = Tables.shardedDocuments (the composite bijective
    // rotation: within-shard dup structure preserved exactly, cross-shard
    // copies dissimilar — see its scaladoc for why that measures an N×
    // BIGGER problem, not a quadratically HARDER one)
    if (Probes.exists(DocProbes) || Probes.exists(IngestProbes) ||
        Probes.exists(FoldProbes) || Probes.exists(CompactProbes) ||
        Probes.exists(StampedCompactProbes)) {
      Tables.shardedDocuments(spark, base, Shards)
        .repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")
    }

    if (Probes.exists(SalesProbes)) {
      val li = Tables.lineitem(spark, base)
      val liN = (0 until Shards).map { k =>
        li.withColumn("l_orderkey", $"l_orderkey" + lit(k * 1000000000L))
      }.reduce(_ unionByName _)
      liN.repartition(32).write.mode("overwrite").parquet(s"$out/lineitem.parquet")

      val ord = Tables.orders(spark, base)
      val ordN = (0 until Shards).map { k =>
        ord.withColumn("o_orderkey", $"o_orderkey" + lit(k * 1000000000L))
      }.reduce(_ unionByName _)
      ordN.repartition(32).write.mode("overwrite").parquet(s"$out/orders.parquet")
    }

    if (Probes.exists(EventProbes)) {
      // ts normalized to µs TimestampType by the shared builder, so
      // Tables.events reads the fixture back spelling-stably
      Tables.shardedEvents(spark, base, Shards)
        .repartition(32).write.mode("overwrite").parquet(s"$out/events.parquet")
    }

    if (Probes.exists(IngestProbes) || Probes.exists(FoldProbes) ||
        Probes.exists(CompactProbes) || Probes.exists(StampedCompactProbes)) {
      buildIngestIndex(spark, base, "target/scaleingest1")
      buildIngestIndex(spark, out, s"$out/ingest")
    }

    if (Probes.exists(FoldProbes)) {
      // two standing band indexes a decade apart, init from the already-
      // materialized band frames — the pay-once ingest write, outside
      // the timed fold
      new graft.operators.StandingIndex(spark, "probe_fold_p1", 4,
        Seq("band", "bk")).init(spark.read.parquet("target/scaleingest1/bands.parquet"))
      new graft.operators.StandingIndex(spark, "probe_fold_pn", 4,
        Seq("band", "bk")).init(spark.read.parquet(s"$out/ingest/bands.parquet"))
    }

    if (Probes.exists(CompactProbes) || Probes.exists(StampedCompactProbes)) {
      // both decades' compaction subjects: a standing index of (corpus
      // bands + ONE batch-sized fold) — the realistic pre-compact state,
      // built outside the timed run. The timed compact then merges two
      // segments whose bytes are corpus-dominated on both sides. The
      // stamped arm's index is identical except its two segments carry
      // DIFFERING event-time stamps (corpus 0, fold 1), forcing the
      // entry-level `_g_stamp` merge path.
      val batchBands = graft.queries.LlmQueries.minhashBands(
          graft.queries.LlmQueries.shingleDocs(
            Tables.spread(spark, ingestBatch(spark, base))))
        .select($"doc_id", $"band", $"bk")
        .localCheckpoint()
      Seq(("p1", "target/scaleingest1"), ("pn", s"$out/ingest")).foreach {
        case (tag, root) =>
          if (Probes.exists(CompactProbes)) {
            val ix = new graft.operators.StandingIndex(spark, s"probe_cmp_$tag", 4,
              Seq("band", "bk"))
            ix.init(spark.read.parquet(s"$root/bands.parquet"))
            ix.fold(batchBands)
          }
          if (Probes.exists(StampedCompactProbes)) {
            val ixs = new graft.operators.StandingIndex(spark, s"probe_cmps_$tag", 4,
              Seq("band", "bk"))
            ixs.init(spark.read.parquet(s"$root/bands.parquet"), maxEventMs = 0L)
            ixs.fold(batchBands, maxEventMs = 1L)
          }
      }
    }

    if (Probes.exists(VecIngestProbes)) {
      // N× vector corpus (per-shard isometry — see Tables
      // .shardedEmbeddings), then both decades' standing vector indexes
      Tables.shardedEmbeddings(spark, base, Shards)
        .repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      buildVecIndex(spark, base, "target/scaleingest1")
      buildVecIndex(spark, out, s"$out/ingest")
    }
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val fixture = s"target/scale$Shards"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val passes = sys.env.getOrElse("SPARK_GRAFT_PROBE_PASSES", "2").toInt
    val spark = Sessions.local(cpus, "spark.sql.legacy.parquet.nanosAsLong" -> "true")

    buildFixture(spark, base, fixture)

    // measurement hygiene: queries like dedup-clusters localCheckpoint
    // RDDs and cache intermediates — left in the JVM they inflate the
    // NEXT measurement (observed: a CC probe right before another query
    // tripled its reading). Scrub all persisted state between runs.
    def scrub(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
    }

    val probes = ingestProbes(base)
    def time(name: String, dir: String): Double = {
      scrub()
      val t0 = System.nanoTime()
      SparkEntry.queries.getOrElse(name, probes(name))(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // per-probe (1×, N×) dirs: ingest-axis probes read the materialized
    // index roots (batch fixed at the base's incoming set); everything
    // else reads the data dirs
    def sides(name: String): (String, String) =
      if (IndexProbes(name)) ("target/scaleingest1", s"$fixture/ingest")
      else (base, fixture)

    // warm codegen/classloading so pass 1 of the probe isn't a JVM probe;
    // derived from the configured base (sibling sf0.001 when present) so
    // a relocated SPARK_GRAFT_SF_DIR doesn't crash the warm-up
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", {
      val sib = java.nio.file.Paths.get(base).resolveSibling("sf0.001")
      if (java.nio.file.Files.isDirectory(sib)) sib.toString else base
    })
    Probes.foreach(n => time(n, if (IndexProbes(n)) sides(n)._1 else warmDir))

    // interleave (1x, 10x) within each pass so a load spike or heap
    // phase hits both sides of a ratio, not one; min-of-passes per side
    val samples: Seq[Seq[(String, Double, Double)]] = (1 to passes).map { _ =>
      Probes.map { name =>
        val (d1, dN) = sides(name)
        (name, time(name, d1), time(name, dN))
      }
    }
    val rows = Probes.map { name =>
      val t1 = samples.map(_.find(_._1 == name).get._2).min
      val t10 = samples.map(_.find(_._1 == name).get._3).min
      val ratio = t10 / t1
      val exponent = math.log(ratio) / math.log(Shards.toDouble)
      System.err.println(f"$name%-22s 1x=$t1%7.2fs ${Shards}x=$t10%7.2fs ratio=$ratio%5.2f exp=$exponent%4.2f")
      s"""{"query":"$name","shards":$Shards,"t1_sec":${JsonNum.j(t1)},"tN_sec":${JsonNum.j(t10)},"ratio":${JsonNum.j(ratio)},"exponent":${JsonNum.j(exponent)}}"""
    }
    println("[" + rows.mkString(",") + "]")
    spark.stop()
  }
}
