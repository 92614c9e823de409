package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps operator-coverage names (SURVEY.md §2) to
  * `(SparkSession, sfDir) => DataFrame`; `oracleSql` gives the DuckDB
  * equivalent run by the driver over the same parquet tables. Column
  * names and row order match between the two (the driver hash-compares).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.q02TopNationRevenue(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ ReferenceQueries.queries ++ LlmQueries.queries ++
      CodecQueries.queries ++ SinkQueries.queries ++ CdcQueries.queries ++
      TemporalQueries.queries ++ SketchQueries.queries ++ OlapQueries.queries ++
      StreamGateQueries.queries ++ LakeQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    CoreQueries.oracles ++ ReferenceQueries.oracles ++ LlmQueries.oracles ++
      CodecQueries.oracles ++ SinkQueries.oracles ++ CdcQueries.oracles ++
      TemporalQueries.oracles ++ SketchQueries.oracles ++ OlapQueries.oracles ++
      StreamGateQueries.oracles ++ LakeQueries.oracles

  /** Gates whose builders run a FULL streaming query on construction
    * (file-stream harness + checkpoint + awaitTermination) — derived
    * from the streaming-gate registry so a new streaming gate is
    * excluded from every static-plan sweep (NoUdfSweepSpec and
    * ExchangeBudgetSpec's completeness fence)
    * automatically instead of via hand-synced lists.
    */
  def streamingGates: Set[String] =
    StreamGateQueries.queries.keySet +
      "q33_cdc_stream_upsert" + "q86_cdc_stream_upsert_crash"

  /** Headline set timed by graft.Bench — an explicit literal list so the
    * cross-round bench total stays comparable: queries added in later
    * rounds must be appended here deliberately, never implicitly.
    */
  // The streaming-harness gates — q33 (streaming CDC), q49 (append-mode
  // streaming), q52/q54/q55/q59 (stream-stream join modes), q58/q62
  // (sessionization, v1 and transformWithState), q60/q63 (chained
  // stateful), q61 (stream dedup), q64 (state-v2 profile), q65/q69
  // (checkpoint restarts), q66/q67/q68 (disordered feeds), q70/q72
  // (mid-batch failure + replay), q71 (beyond-tolerance drop) — are
  // deliberately absent: their wall time is
  // dominated by the harness (file-stream setup, checkpoint +
  // micro-batch scheduling), not engine work; StreamBench measures
  // streaming throughput separately.
  val benchQueries: Seq[String] = Seq(
    "q01_pricing_summary",
    "q02_top_nation_revenue",
    "q03_latest_event_per_user",
    "q04_country_sales_summary",
    "q05_sliding_window_sales",
    "q06_enriched_segment_sales",
    "q07_seed_transform",
    "q08_smt_pipeline",
    "q09_seed_sql_shapes",
    "q10_scalar_subquery",
    "q11_group_concat",
    "q12_cdc_merge",
    "q13_json_roundtrip",
    "q14_dedup_exact",
    "q15_dedup_bag",
    "q16_neardup_lsh",
    "q17_text_stats",
    "q18_cosine_topk",
    "q19_ann_lsh",
    "q20_avro_roundtrip",
    "q21_multimodal_meta",
    "q22_partitioned_sink",
    "q23_csv_roundtrip",
    "q24_cdc_lake_upsert",
    "q25_country_sales_agg",
    "q26_summary_topic",
    "q27_simhash_neardup",
    "q28_embedding_neardup",
    "q29_winnow_fingerprint",
    "q30_ann_multiprobe",
    "q31_topk_native",
    "q32_ann_ivf",
    "q34_asof_enrich",
    "q35_session_window",
    "q36_kmv_distinct",
    "q37_hash_split",
    "q38_pivot_events",
    "q39_rollup_revenue",
    "q40_dedup_clusters",
    "q41_unpivot_events",
    "q42_quantile_disc",
    "q43_top_terms",
    "q44_window_analytics",
    "q45_user_setops",
    "q46_corpus_prep",
    "q47_json_extract",
    "q48_date_dims",
    "q50_salted_enrich",
    // appended round 6: bucketed-lake join (write cost is the gate's
    // setup; timing it keeps the layout honest about its ingest price)
    "q51_bucketed_join",
    // appended round 7: bucket-pruned point lookup (same setup-write
    // caveat as q51; the lookup itself reads 1 of 8 bucket files)
    "q53_bucket_pruned_lookup",
    // appended round 7: corpus source-balancing ops (map-side hash
    // sampling; q57 additionally exercises the native top-k operator)
    "q56_stratified_sample",
    "q57_source_cap",
    // appended round 10: incremental corpus dedup (anti-join probe of
    // the incoming batch against the standing corpus's fingerprints)
    // and deterministic token-budget packing (prefix-sum bin chunking)
    "q73_incremental_dedup",
    "q74_token_packing",
    // appended round 11: incremental near-dup admission (band-index
    // probe of the incoming batch against the standing corpus) and the
    // ingest capstone (admit, then pack the admitted batch into bins)
    "q75_incremental_neardup",
    "q78_ingest_pack",
    // appended round 11: token-budget mixture sampling (two-phase
    // distributed prefix sum — the de-serialized running total) and
    // embedding-side incremental admission (bucket-index probe)
    "q79_mixture_sample",
    "q80_embedding_admission",
    // appended round 11: cross-split decontamination (band-index probe
    // of the test split against the train split) and per-source
    // quality-percentile gating (PrefixSum rank over the quality order)
    "q81_decontamination",
    "q85_quality_gate",
    // appended round 11: sub-document boilerplate detection (chunk-level
    // cross-document dedup through the multimodal chunk fan-out)
    "q88_boilerplate_chunks",
    // appended round 12: standing-index maintenance (admit → fold →
    // admit-again; the timed work includes both StandingIndex segment
    // writes — the honest ingest price, q51's caveat) on the text and
    // vector modalities
    "q89_index_maintenance",
    "q90_vector_index_maintenance",
    // appended round 12: q89 + an off-path compaction between the fold
    // and the second admission (compaction-invisibility gate; its time
    // additionally carries the compact rewrite — three index writes)
    "q93_compacted_maintenance")
}
