package perfbench

import graft.Q
import graft.operators._

/** Which graded lane belongs to which lane population.
  *
  * Every `SparkEntry.queries` lane is either read-only (`query_lanes`) or
  * a state lane, or in `excluded` with a reason; [[SelfTest]] fails the
  * run otherwise, so a lane added to the registry must be placed here.
  * The state lanes are placed but timed by no workload yet: the
  * benchmark's run budget holds two workloads (see README.md).
  *
  * A full warm pass over the read-only lanes outlasts one run (about 60 s
  * at sf0.01 on 4 cores), so `query_lanes` times a fixed subset,
  * stratified by module. The subset is fixed (not drawn from the seed) so
  * per-lane medians compare across seeds; the seed only permutes the
  * order in which a pass visits them.
  */
object Lanes {

  /** The modules `SparkEntry` aggregates, by name. */
  val modules: Seq[(String, Map[String, Q])] = Seq(
    "CoreRelational" -> CoreRelational.queries,
    "MergeOps" -> MergeOps.queries,
    "Lookup" -> Lookup.queries,
    "ScalarFuncs" -> graft.functions.ScalarFuncs.queries,
    "Pipeline" -> Pipeline.queries,
    "Analytics" -> Analytics.queries,
    "TextAnalysis" -> TextAnalysis.queries,
    "Similarity" -> Similarity.queries,
    "DedupText" -> DedupText.queries,
    "StreamingOps" -> graft.streaming.StreamingOps.queries,
    "XmlFeed" -> graft.sources.XmlFeed.queries,
    "TextFormats" -> graft.sources.TextFormats.queries,
    "JdbcSource" -> graft.sources.JdbcSource.queries,
    "Multimodal" -> Multimodal.queries,
    "Skew" -> Skew.queries,
    "TemporalJoins" -> TemporalJoins.queries,
    "DataPipeline" -> DataPipeline.queries,
    "BloomJoin" -> BloomJoin.queries,
    "IncrementalAgg" -> IncrementalAgg.queries,
    "MvRewrite" -> MvRewrite.queries,
    "Bpe" -> Bpe.queries,
    "JoinPrune" -> JoinPrune.queries,
    "Behavioral" -> Behavioral.queries,
    "Graph" -> Graph.queries,
    "Profiling" -> Profiling.queries,
    "Layout" -> Layout.queries,
    "EntityResolution" -> EntityResolution.queries,
    "DedupIndex" -> DedupIndex.queries,
    "VectorIndexOps" -> VectorIndexOps.queries,
    "Scd" -> Scd.queries,
    "Intervals" -> Intervals.queries,
    "Quality" -> Quality.queries,
    "Geo" -> Geo.queries,
    "HybridRetrieval" -> HybridRetrieval.queries)

  val moduleOf: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  lazy val registry: Map[String, Q] = graft.SparkEntry.queries

  /** Lanes that commit state: a `ParquetTableSink`, `VectorIndex`,
    * `LshAdmissionIndex`, Derby/`JdbcUpsertSink` or a streaming query. */
  def isState(lane: String): Boolean =
    Seq("sink_", "stream_", "jdbc_", "sim_index_").exists(lane.startsWith) ||
      Set("cdf_apply", "ann_admit_incremental", "dedup_admit_incremental",
        "sim_hybrid_indexed", "sim_hybrid_multiprobe", "pipeline_program")(lane)

  /** Lanes in no workload, with the reason. */
  val excluded: Map[String, String] = Map.empty

  private def live: Seq[String] = registry.keys.filterNot(excluded.contains).toSeq.sorted
  def readOnly: Seq[String] = live.filterNot(isState)
  def state: Seq[String] = live.filter(isState)

  /** The timed subset of `query_lanes`, stratified by module: two or
    * three lanes of each of the four largest modules (CoreRelational,
    * Analytics, DedupText, TextAnalysis) and one of every other module
    * that has a read-only lane, except those `unsampled` names; the
    * cheapest warm one where the choice is free (about 0.1-0.7 s each at
    * sf0.01 on 4 cores). 34 lanes, so three passes make the 100 ops that
    * `op_p90_ms` needs for ten samples beyond it. Where a module's lane is
    * the fire site of a `graft.plans` rule, that lane is the one taken:
    * mv_rewrite_filter (MvRewriteRule), join_prune_scan (JoinPruneRule),
    * fuzzy_name_match (LevenshteinBandRule), join_bloom_prefilter. It
    * includes the four lanes of the count()-vs-materialize probe in
    * README.md. About 7.5-10 s per warm pass, with the host's load. */
  val querySubset: Seq[String] = Seq(
    "join_inner", "window_row_number", "filter_scan",            // CoreRelational
    "q1_agg", "window_lag_delta", "agg_percentiles",             // Analytics
    "dedup_simhash", "dedup_exact",                              // DedupText
    "text_tokens", "text_fingerprint",                           // TextAnalysis
    "sim_topk_brute",                                            // Similarity
    "sample_stratified",                                         // DataPipeline
    "join_lookup_fallback",                                      // Lookup
    "mm_audio_energy",                                           // Multimodal
    "user_growth",                                               // Behavioral
    "geo_point",                                                 // ScalarFuncs
    "bpe_train_big",                                             // Bpe
    "dq_benford",                                                // Quality
    "pipeline_hotpath",                                          // Pipeline
    "scd2_build",                                                // Scd
    "interval_weighted_avg",                                     // Intervals
    "asof_tolerance",                                            // TemporalJoins
    "csv_roundtrip",                                             // TextFormats
    "upsert_merge",                                              // MergeOps
    "xml_explode_order",                                         // XmlFeed
    "join_salted",                                               // Skew
    "join_bloom_prefilter",                                      // BloomJoin
    "incr_agg_merge",                                            // IncrementalAgg
    "mv_rewrite_filter",                                         // MvRewrite
    "join_prune_scan",                                           // JoinPrune
    "profile_columns",                                           // Profiling
    "fuzzy_name_match",                                          // EntityResolution
    "geo_grid_join",                                             // Geo
    "sim_hybrid_rrf")                                            // HybridRetrieval

  /** Modules with read-only lanes that the subset leaves out, with the
    * reason. Their `module.*` metrics are not declared in BENCHMARK.json. */
  val unsampled: Map[String, String] = Map(
    "Layout" -> "every lane writes and re-reads a copy of events: 0.9 s each warm, more than the run length allows",
    "Graph" -> "every lane iterates many jobs: 0.7-2.5 s each warm, more than the run length allows")
}
