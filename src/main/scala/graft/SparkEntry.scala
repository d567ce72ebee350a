package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.analytics._
import graft.textops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is a pure `(SparkSession, sfDir) => DataFrame`
  * implemented in `graft.analytics.*`; [[oracleSql]] carries the DuckDB
  * SQL the driver replays over the same parquet tables for the
  * hash-compare correctness gate. Column names and row order match
  * between the two by construction (full-column ORDER BY on both sides).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    UserBehaviorAnalytics.hotItemsTopN(spark, "/root/testdata/sf0.001")

  // Parsed ONCE, eagerly: a malformed value must fail fast at startup
  // with a clear message — parsed lazily inside the graph_triangles
  // lambda, the NumberFormatException would be swallowed by Bench's
  // per-query catch and the ops knob meant to rescue the query at sf10
  // would instead silently report it as failed (-1).
  private val triBuckets: Int =
    sys.env.get("SPARK_GRAFT_TRI_BUCKETS").map(_.trim) match {
      case None => 1
      case Some(t) =>
        val n = t.toIntOption.filter(_ >= 1)
        require(n.isDefined,
          s"SPARK_GRAFT_TRI_BUCKETS must be a positive integer, got '$t'")
        n.get
    }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "hot_items_topn"  -> ((s, d) => UserBehaviorAnalytics.hotItemsTopN(s, d)),
    "hot_pages_topn"  -> ((s, d) => UserBehaviorAnalytics.hotPagesTopN(s, d)),
    "page_views"      -> ((s, d) => UserBehaviorAnalytics.pageViews(s, d)),
    "page_views_salted" -> ((s, d) => UserBehaviorAnalytics.pageViewsSalted(s, d)),
    "unique_visitors" -> ((s, d) => UserBehaviorAnalytics.uniqueVisitors(s, d)),
    "uv_approx"       -> ((s, d) => UserBehaviorAnalytics.uvApprox(s, d)),
    "uv_approx_kmv"   -> ((s, d) => UserBehaviorAnalytics.uvApproxKmv(s, d)),
    "uv_approx_kmv_agg" -> ((s, d) => UserBehaviorAnalytics.uvApproxKmvAgg(s, d)),
    "uv_cube"         -> ((s, d) => UserBehaviorAnalytics.uvCube(s, d)),
    "value_quantiles_sketch" -> ((s, d) =>
      RelationalAnalytics.valueQuantilesSketch(s, d)),
    "user_sessions"   -> ((s, d) => UserBehaviorAnalytics.userSessions(s, d)),
    "user_retention"  -> ((s, d) => UserBehaviorAnalytics.userRetention(s, d)),
    "retention_kmv"   -> ((s, d) => UserBehaviorAnalytics.retentionKmv(s, d)),
    "pv_uv_correlation" -> ((s, d) => UserBehaviorAnalytics.pvUvCorrelation(s, d)),
    "lang_rebalance"  -> ((s, d) => Sampling.langRebalance(s, d)),
    "corpus_shuffle"  -> ((s, d) => Sampling.corpusShuffle(s, d)),
    "marketing_by_channel" -> ((s, d) => MarketingAnalytics.marketingByChannel(s, d)),
    "ad_stats_province"    -> ((s, d) => MarketingAnalytics.adStatsByProvince(s, d)),
    "blacklist_users"      -> ((s, d) => MarketingAnalytics.blacklistUsers(s, d)),
    "blacklist_filtered_clicks" -> ((s, d) => MarketingAnalytics.blacklistFilteredClicks(s, d)),
    "login_fail_detect" -> ((s, d) => DetectionAnalytics.loginFailDetect(s, d)),
    "order_timeout"     -> ((s, d) => DetectionAnalytics.orderTimeout(s, d)),
    "tx_match"          -> ((s, d) => DetectionAnalytics.txMatch(s, d)),
    "interval_join"     -> ((s, d) => DetectionAnalytics.intervalJoin(s, d)),
    "range_join"        -> ((s, d) => DetectionAnalytics.rangeJoin(s, d)),
    // SPARK_GRAFT_TRI_BUCKETS > 1 splits the one wide probe shuffle
    // into that many sequential passes (union of additive partials —
    // semantics-free, property-pinned). The ops knob for a deployment
    // whose per-executor working set hits the sf10-scale memory cliff;
    // below the cliff the extra job rounds only cost, so default 1.
    "graph_triangles"   -> ((s, d) =>
      GraphAnalytics.graphTriangles(s, d, buckets = triBuckets)),
    "ts_similarity"     -> ((s, d) => TimeSeriesAnalytics.tsSimilarity(s, d)),
    "ts_similarity_paa" -> ((s, d) =>
      TimeSeriesAnalytics.tsSimilarityPaa(s, d)),
    "ts_similarity_paa_capped" -> ((s, d) =>
      TimeSeriesAnalytics.tsSimilarityPaaCapped(s, d)),
    "ts_paa_members" -> ((s, d) => TimeSeriesAnalytics.tsPaaMembers(s, d)),
    "ts_paa_candidate_stats" -> ((s, d) =>
      TimeSeriesAnalytics.tsPaaCandidateStats(s, d)),
    "ts_paa_autoscale" -> ((s, d) => TimeSeriesAnalytics.tsPaaAutoScale(s, d)),
    "ts_paa_recall"     -> ((s, d) => TimeSeriesAnalytics.tsPaaRecall(s, d)),
    "ts_paa_recall_curve" -> ((s, d) =>
      TimeSeriesAnalytics.tsPaaRecallCurve(s, d)),
    "asof_attribution"  -> ((s, d) => DetectionAnalytics.asofAttribution(s, d)),
    "cep_funnel"        -> ((s, d) => DetectionAnalytics.cepFunnel(s, d)),
    "funnel_rates"      -> ((s, d) => DetectionAnalytics.funnelRates(s, d)),
    "cep_funnel_relaxed" -> ((s, d) => DetectionAnalytics.cepFunnelRelaxed(s, d)),
    "cep_absence"        -> ((s, d) => DetectionAnalytics.cepAbsence(s, d)),
    "cep_bursts"         -> ((s, d) => DetectionAnalytics.cepBursts(s, d)),
    "late_events"       -> ((s, d) => LateDataAnalytics.lateEvents(s, d)),
    "hot_pages_late_split" -> ((s, d) => LateDataAnalytics.hotPagesLateSplit(s, d)),
    "pricing_summary"   -> ((s, d) => RelationalAnalytics.pricingSummary(s, d)),
    "top_customers"     -> ((s, d) => RelationalAnalytics.topCustomers(s, d)),
    "events_union"      -> ((s, d) => RelationalAnalytics.eventsUnion(s, d)),
    "small_quantity_revenue" -> ((s, d) => RelationalAnalytics.smallQuantityRevenue(s, d)),
    "user_segments"     -> ((s, d) => RelationalAnalytics.userSegments(s, d)),
    "revenue_by_region" -> ((s, d) => RelationalAnalytics.revenueByRegion(s, d)),
    "revenue_rollup"    -> ((s, d) => RelationalAnalytics.revenueRollup(s, d)),
    "revenue_cube"      -> ((s, d) => RelationalAnalytics.revenueCube(s, d)),
    "events_pivot"      -> ((s, d) => RelationalAnalytics.eventsPivot(s, d)),
    "events_cube"       -> ((s, d) => RelationalAnalytics.eventsCube(s, d)),
    "user_running_value" -> ((s, d) => RelationalAnalytics.userRunningValue(s, d)),
    "part_supplier_stats" -> ((s, d) => RelationalAnalytics.partSupplierStats(s, d)),
    "value_by_type_daily" -> ((s, d) => RelationalAnalytics.valueByTypeDaily(s, d)),
    "value_percentiles"   -> ((s, d) => RelationalAnalytics.valuePercentiles(s, d)),
    "value_percentiles_sampled" -> ((s, d) => RelationalAnalytics.valuePercentilesSampled(s, d)),
    "value_anomaly"       -> ((s, d) => RelationalAnalytics.valueAnomaly(s, d)),
    "bloom_join"          -> ((s, d) => RelationalAnalytics.bloomJoin(s, d)),
    "item_rank"           -> ((s, d) => GraphAnalytics.itemRank(s, d)),
    "dedup_exact"       -> ((s, d) => Dedup.dedupExact(s, d)),
    "span_dedup"        -> ((s, d) => Dedup.spanDedup(s, d)),
    "span_dedup_incremental" -> ((s, d) => Dedup.spanDedupIncremental(s, d)),
    "dedup_minhash_lsh" -> ((s, d) => Dedup.minhashLsh(s, d)),
    "dedup_minhash_lsh_capped" -> ((s, d) => Dedup.minhashLshCapped(s, d)),
    "minhash_error"     -> ((s, d) => Dedup.minhashError(s, d)),
    "dedup_incremental" -> ((s, d) => Dedup.dedupIncremental(s, d)),
    "dedup_simhash"     -> ((s, d) => Dedup.simhashDedup(s, d)),
    "dedup_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(s, d)),
    "dedup_ngram_jaccard_capped" -> ((s, d) => Dedup.ngramJaccardCapped(s, d)),
    "dedup_substring"   -> ((s, d) => Dedup.dedupSubstring(s, d)),
    "dedup_clusters"    -> ((s, d) => Dedup.dedupClusters(s, d)),
    "dedup_clusters_multi" -> ((s, d) => Dedup.dedupClustersMulti(s, d)),
    "dedup_clusters_multi_capped" -> ((s, d) => Dedup.dedupClustersMultiCapped(s, d)),
    "similarity_topk"   -> ((s, d) => Similarity.similarityTopK(s, d)),
    "dedup_embedding"   -> ((s, d) => Similarity.dedupEmbedding(s, d)),
    "dedup_embedding_capped" -> ((s, d) => Similarity.dedupEmbeddingCapped(s, d)),
    "dedup_embedding_capped_curve" -> ((s, d) =>
      Similarity.dedupEmbeddingCappedCurve(s, d)),
    "dedup_embedding_incremental" -> ((s, d) =>
      Similarity.dedupEmbeddingIncremental(s, d)),
    "dedup_embedding_clusters" -> ((s, d) =>
      Similarity.dedupEmbeddingClusters(s, d)),
    "embedding_spectrum" -> ((s, d) => Similarity.embeddingSpectrum(s, d)),
    "embedding_spectrum_residual" -> ((s, d) =>
      Similarity.embeddingSpectrumResidual(s, d)),
    "similarity_ivf"    -> ((s, d) => Similarity.similarityIvf(s, d)),
    "similarity_ivf_trained" -> ((s, d) => Similarity.similarityIvfTrained(s, d)),
    "similarity_lsh"    -> ((s, d) => Similarity.similarityLsh(s, d)),
    "similarity_sq8"    -> ((s, d) => Similarity.similaritySq8(s, d)),
    "similarity_pq"     -> ((s, d) => Similarity.similarityPq(s, d)),
    "similarity_recall_pq" -> ((s, d) => Similarity.similarityRecallPq(s, d)),
    "similarity_recall" -> ((s, d) => Similarity.similarityRecall(s, d)),
    "similarity_recall_lsh" -> ((s, d) => Similarity.similarityRecallLsh(s, d)),
    "similarity_lsh_multiprobe" -> ((s, d) => Similarity.similarityLshMultiprobe(s, d)),
    "pii_scrub"         -> ((s, d) => Scrub.piiScrub(s, d)),
    "dedup_containment" -> ((s, d) => Dedup.dedupContainment(s, d)),
    "dedup_candidate_stats" -> ((s, d) => Dedup.dedupCandidateStats(s, d)),
    "similarity_cell_stats" -> ((s, d) => Similarity.similarityCellStats(s, d)),
    "similarity_lsh_stats" -> ((s, d) => Similarity.similarityLshStats(s, d)),
    "dedup_substring_curve" -> ((s, d) => Dedup.substringDfCurve(s, d)),
    "similarity_recall_lshmp" -> ((s, d) =>
      Similarity.similarityRecallLsh(s, d, multiprobe = true)),
    "embedding_decontamination" -> ((s, d) =>
      Similarity.embeddingDecontamination(s, d)),
    "embedding_centroids" -> ((s, d) => Similarity.embeddingCentroids(s, d)),
    "embedding_outliers"  -> ((s, d) => Similarity.embeddingOutliers(s, d)),
    "text_stats"        -> ((s, d) => TextStats.textStats(s, d)),
    "text_normalize"    -> ((s, d) => TextStats.textNormalize(s, d)),
    "ngram_diversity"   -> ((s, d) => TextStats.ngramDiversity(s, d)),
    "mixture_plan"      -> ((s, d) => Sampling.mixturePlan(s, d)),
    "lang_id"           -> ((s, d) => TextStats.langId(s, d)),
    "lang_id_eval"      -> ((s, d) => TextStats.langIdEval(s, d)),
    "doc_fingerprint"   -> ((s, d) => TextStats.docFingerprint(s, d)),
    "doc_repetition"    -> ((s, d) => TextStats.docRepetition(s, d)),
    "decontamination"   -> ((s, d) => TextStats.decontamination(s, d)),
    "doc_top_terms"     -> ((s, d) => TextStats.docTopTerms(s, d)),
    "vocab_topv"        -> ((s, d) => TextStats.vocabTopV(s, d)),
    "oov_rate"          -> ((s, d) => TextStats.oovRate(s, d)),
    "quality_gopher"    -> ((s, d) => TextStats.qualityGopher(s, d)),
    "source_datacard"   -> ((s, d) => TextStats.sourceDatacard(s, d)),
    "bm25_rank"         -> ((s, d) => TextStats.bm25Rank(s, d)),
    "phrase_search"     -> ((s, d) => TextStats.phraseSearch(s, d)),
    "corpus_drift"      -> ((s, d) => TextStats.corpusDrift(s, d)),
    "ngram_next"        -> ((s, d) => TextStats.ngramNext(s, d)),
    "ngram_lm_score"    -> ((s, d) => TextStats.ngramLmScore(s, d)),
    "value_histogram"   -> ((s, d) => RelationalAnalytics.valueHistogram(s, d)),
    "multimodal_decode" -> ((s, d) => Multimodal.multimodalDecode(s, d)),
    "multimodal_resize" -> ((s, d) => Multimodal.multimodalResize(s, d)),
    "multimodal_framesample" -> ((s, d) => Multimodal.multimodalFrameSample(s, d)),
    "props_extract"     -> ((s, d) => Multimodal.propsExtract(s, d)),
    "corpus_sample"     -> ((s, d) => Sampling.corpusSample(s, d)),
    "corpus_prep"       -> ((s, d) => Sampling.corpusPrep(s, d)),
    "cluster_split"     -> ((s, d) => Sampling.clusterSplit(s, d)),
    "dsir_select"       -> ((s, d) => Sampling.dsirSelect(s, d)),
    "token_cms"         -> ((s, d) => Sketch.tokenCms(s, d)),
    "bpe_train"         -> ((s, d) => Bpe.bpeTrain(s, d)),
    "bpe_encode"        -> ((s, d) => Bpe.bpeEncode(s, d)),
    "seq_pack"          -> ((s, d) => Packing.seqPack(s, d)),
    "doc_chunks"        -> ((s, d) => Packing.docChunks(s, d)),
    "chunk_dedup"       -> ((s, d) => Packing.chunkDedup(s, d)),
    "shipping_priority" -> ((s, d) => RelationalAnalytics.shippingPriority(s, d)),
    "supplier_blame"    -> ((s, d) => RelationalAnalytics.supplierBlame(s, d)),
    "events_compact"    -> ((s, d) => RelationalAnalytics.eventsCompact(s, d)),
    "table_profile"     -> ((s, d) => RelationalAnalytics.tableProfile(s, d)),
  )

  /** Diagnostic queries: they measure the engine (candidate-volume
    * telemetry, df-cap recall curves) rather than serve a user query.
    * Still oracled in Verify — correctness coverage is unchanged — but
    * Bench skips them unless SPARK_GRAFT_DIAG=1 (or SPARK_GRAFT_ONLY
    * names them), so the headline total tracks serving cost.
    *
    * The UNCAPPED superlinear dedup tiers live here too: their own
    * skew rehearsals disqualify them at scale (305 s uncapped vs 26 s
    * capped on the sf1 boilerplate tier; clusters 3.0× vs 1.03× —
    * BASELINE.md skew table; dedup_embedding ~0.2·n² on uniform
    * vectors, 166.7 s / 41.8×/decade at sf10 — round 14 gave it the
    * occupancy-capped sibling the LSH tiers got in round 9), and
    * their `_capped` siblings are output-identical at the correctness
    * tiers. They remain oracled exactness anchors, not serving paths.
    *
    * similarity_pq (round 11): dominated as a SERVING tier by its
    * sibling similarity_sq8 at this dimensionality — 40.2 s vs 28.1 s
    * at sf1 on the SAME candidate set (BASELINE "PQ note"): a packed-
    * LUT ADC scan cannot beat one codegen'd 64-wide dot in a row-
    * pipeline engine. The property PQ actually buys — a 64× smaller
    * stored index — was measured too: a stored-codes serve took 1.76 s
    * against 1.42 s for the full-vector `Pipelines.annSearchFrom` at
    * sf0.1, and its top-5 agreed with it only 0.167 of the time, so
    * that stored form was removed. Kept as an oracled exactness anchor
    * (the ADC arithmetic replays bit-for-bit in DuckDB), demoted out
    * of the serving total.
    */
  val diagnosticQueries: Set[String] =
    Set("dedup_candidate_stats", "dedup_substring_curve",
      "dedup_embedding_capped_curve", "ts_paa_recall_curve",
      "ts_paa_candidate_stats", "ts_paa_autoscale",
      "similarity_cell_stats", "similarity_lsh_stats",
      "dedup_ngram_jaccard", "dedup_clusters_multi",
      "dedup_embedding",
      // round 16: the uncapped PAA self-join leaves the serving
      // surface like its siblings — O(occ²) on a hot signature bucket;
      // ts_similarity_paa_capped is the serving form (bit-identical at
      // the correctness tiers, AnalyticsSpec-pinned)
      "ts_similarity_paa",
      "similarity_pq")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    *
    * Sliding windows: DuckDB has no HOP window, so the grid is expanded
    * explicitly — every event belongs to size/slide consecutive windows
    * whose starts are epoch-aligned multiples of the slide
    * (`time_bucket` minus k*slide), matching Spark's `window()`
    * alignment (SURVEY.md §7.4).
    */
  def oracleSql: Map[String, String] = Map(
    "hot_items_topn" ->
      """WITH views AS (
        |  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS item_id, ts
        |  FROM events WHERE event_type = 'view'
        |), expanded AS (
        |  SELECT item_id,
        |         time_bucket(INTERVAL 5 MINUTE, ts) - k * (INTERVAL 5 MINUTE) AS ws, ts
        |  FROM views CROSS JOIN range(12) g(k)
        |  WHERE time_bucket(INTERVAL 5 MINUTE, ts) - k * (INTERVAL 5 MINUTE)
        |        + INTERVAL 60 MINUTE > ts
        |), counts AS (
        |  SELECT ws + INTERVAL 60 MINUTE AS window_end, item_id, count(*) AS cnt
        |  FROM expanded GROUP BY 1, 2
        |), ranked AS (
        |  SELECT window_end, item_id, cnt,
        |         row_number() OVER (PARTITION BY window_end
        |                            ORDER BY cnt DESC, item_id ASC) AS rnk
        |  FROM counts
        |)
        |SELECT window_end, item_id, cnt, CAST(rnk AS INT) AS rnk
        |FROM ranked WHERE rnk <= 5 ORDER BY window_end, rnk""".stripMargin,
    "hot_pages_topn" ->
      """WITH clicks AS (
        |  SELECT '/page/' || json_extract_string(props, '$.k') AS url, ts
        |  FROM events WHERE event_type = 'click'
        |), expanded AS (
        |  SELECT url,
        |         time_bucket(INTERVAL 1 MINUTE, ts) - k * (INTERVAL 1 MINUTE) AS ws, ts
        |  FROM clicks CROSS JOIN range(10) g(k)
        |  WHERE time_bucket(INTERVAL 1 MINUTE, ts) - k * (INTERVAL 1 MINUTE)
        |        + INTERVAL 10 MINUTE > ts
        |), counts AS (
        |  SELECT ws + INTERVAL 10 MINUTE AS window_end, url, count(*) AS cnt
        |  FROM expanded GROUP BY 1, 2
        |), ranked AS (
        |  SELECT window_end, url, cnt,
        |         row_number() OVER (PARTITION BY window_end
        |                            ORDER BY cnt DESC, url ASC) AS rnk
        |  FROM counts
        |)
        |SELECT window_end, url, cnt, CAST(rnk AS INT) AS rnk
        |FROM ranked WHERE rnk <= 3 ORDER BY window_end, rnk""".stripMargin,
    "page_views" ->
      """SELECT time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
        |       count(*) AS pv
        |FROM events WHERE event_type = 'view'
        |GROUP BY 1 ORDER BY window_end""".stripMargin,
    // salted two-stage form is bit-identical to page_views — same oracle
    "page_views_salted" ->
      """SELECT time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
        |       count(*) AS pv
        |FROM events WHERE event_type = 'view'
        |GROUP BY 1 ORDER BY window_end""".stripMargin,
    "unique_visitors" ->
      """SELECT time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
        |       count(DISTINCT user_id) AS uv
        |FROM events WHERE event_type = 'view'
        |GROUP BY 1 ORDER BY window_end""".stripMargin,
    // uv_approx: intentionally un-oracled (approximate HLL++ sketch);
    // driver records a rows-only check, exactness asserted in ScalaTest.
    // uv_approx_kmv is the hash-oracled approx-distinct: a KMV sketch
    // over the portable poly_hash is replayable exactly in DuckDB.
    "uv_approx_kmv" -> UserBehaviorAnalytics.uvApproxKmvOracle,
    // the aggregator form is bit-identical to the relational form by
    // construction (order-independent K-min distinct set) — same oracle
    "uv_approx_kmv_agg" -> UserBehaviorAnalytics.uvApproxKmvOracle,
    "uv_cube"           -> UserBehaviorAnalytics.uvCubeOracle,
    "value_quantiles_sketch" ->
      RelationalAnalytics.valueQuantilesSketchOracle,
    "user_sessions" -> UserBehaviorAnalytics.userSessionsOracle,
    "user_retention" -> UserBehaviorAnalytics.userRetentionOracle,
    "retention_kmv"  -> UserBehaviorAnalytics.retentionKmvOracle,
    "pv_uv_correlation" -> UserBehaviorAnalytics.pvUvCorrelationOracle,
    "lang_rebalance" -> Sampling.langRebalanceOracle,
    "corpus_shuffle" -> Sampling.corpusShuffleOracle(),
    "marketing_by_channel" ->
      """WITH base AS (
        |  SELECT 'ch_' || CAST(user_id % 4 AS VARCHAR) AS channel,
        |         event_type AS behavior, ts
        |  FROM events WHERE event_type <> 'error'
        |), expanded AS (
        |  SELECT channel, behavior,
        |         time_bucket(INTERVAL 6 HOUR, ts) - k * (INTERVAL 6 HOUR) AS ws, ts
        |  FROM base CROSS JOIN range(4) g(k)
        |  WHERE time_bucket(INTERVAL 6 HOUR, ts) - k * (INTERVAL 6 HOUR)
        |        + INTERVAL 24 HOUR > ts
        |)
        |SELECT ws AS window_start, ws + INTERVAL 24 HOUR AS window_end,
        |       channel, behavior, count(*) AS cnt
        |FROM expanded GROUP BY 1, 2, 3, 4
        |ORDER BY window_end, channel, behavior""".stripMargin,
    "ad_stats_province" ->
      """WITH clicks AS (
        |  SELECT CAST(user_id % 25 AS INT) AS nk, ts
        |  FROM events WHERE event_type = 'click'
        |), j AS (
        |  SELECT n.n_name AS province, c.ts
        |  FROM clicks c JOIN nation n ON c.nk = n.n_nationkey
        |), expanded AS (
        |  SELECT province,
        |         time_bucket(INTERVAL 15 MINUTE, ts) - k * (INTERVAL 15 MINUTE) AS ws, ts
        |  FROM j CROSS JOIN range(4) g(k)
        |  WHERE time_bucket(INTERVAL 15 MINUTE, ts) - k * (INTERVAL 15 MINUTE)
        |        + INTERVAL 60 MINUTE > ts
        |)
        |SELECT ws + INTERVAL 60 MINUTE AS window_end, province, count(*) AS cnt
        |FROM expanded GROUP BY 1, 2 ORDER BY window_end, province""".stripMargin,
    "blacklist_users" ->
      """SELECT user_id,
        |       CAST(json_extract_string(props, '$.k') AS INT) % 10 AS ad_id,
        |       CAST(ts AS DATE) AS day, count(*) AS click_cnt,
        |       'click over 2 times today' AS msg
        |FROM events WHERE event_type = 'click'
        |GROUP BY 1, 2, 3 HAVING count(*) >= 2
        |ORDER BY user_id, ad_id, day""".stripMargin,
    "blacklist_filtered_clicks" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id,
        |         CAST(json_extract_string(props, '$.k') AS INT) % 10 AS ad_id,
        |         CAST(ts AS DATE) AS day
        |  FROM events WHERE event_type = 'click'
        |), black AS (
        |  SELECT user_id, ad_id, day FROM clicks
        |  GROUP BY 1, 2, 3 HAVING count(*) >= 2
        |)
        |SELECT c.event_id, c.user_id, c.ad_id FROM clicks c
        |WHERE NOT EXISTS (SELECT 1 FROM black b
        |  WHERE c.user_id = b.user_id AND c.ad_id = b.ad_id AND c.day = b.day)
        |ORDER BY event_id""".stripMargin,
    "login_fail_detect" ->
      """WITH fails AS (
        |  SELECT user_id, ts, event_id,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events WHERE event_type = 'error'
        |)
        |SELECT user_id, prev_ts AS first_fail, ts AS last_fail,
        |       'consecutive login failures' AS msg
        |FROM fails
        |WHERE prev_ts IS NOT NULL AND ts - prev_ts <= INTERVAL 30 MINUTE
        |ORDER BY user_id, first_fail, last_fail""".stripMargin,
    "order_timeout" ->
      """WITH creates AS (
        |  SELECT event_id AS order_id, user_id, ts AS create_ts
        |  FROM events WHERE event_type = 'signup'
        |), pays AS (
        |  SELECT user_id, ts AS pay_ts FROM events WHERE event_type = 'purchase'
        |)
        |SELECT c.order_id, c.user_id, c.create_ts, min(p.pay_ts) AS pay_ts,
        |       CASE WHEN min(p.pay_ts) IS NOT NULL THEN 'payed successfully'
        |            ELSE 'timeout' END AS status
        |FROM creates c LEFT JOIN pays p
        |  ON c.user_id = p.user_id AND p.pay_ts > c.create_ts
        |  AND p.pay_ts <= c.create_ts + INTERVAL 24 HOUR
        |GROUP BY 1, 2, 3 ORDER BY order_id""".stripMargin,
    "tx_match" ->
      """WITH pays AS (
        |  SELECT CAST(user_id AS VARCHAR) || '-' || json_extract_string(props, '$.k') AS tx_id,
        |         count(*) AS pay_cnt
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1
        |), rcpts AS (
        |  SELECT CAST(user_id AS VARCHAR) || '-' || json_extract_string(props, '$.k') AS tx_id,
        |         count(*) AS receipt_cnt
        |  FROM events WHERE event_type = 'click' GROUP BY 1
        |)
        |SELECT COALESCE(p.tx_id, r.tx_id) AS tx_id,
        |       COALESCE(pay_cnt, 0) AS pay_cnt,
        |       COALESCE(receipt_cnt, 0) AS receipt_cnt,
        |       CASE WHEN p.tx_id IS NOT NULL AND r.tx_id IS NOT NULL THEN 'matched'
        |            WHEN r.tx_id IS NULL THEN 'unmatched-pay'
        |            ELSE 'unmatched-receipt' END AS status
        |FROM pays p FULL OUTER JOIN rcpts r ON p.tx_id = r.tx_id
        |ORDER BY tx_id""".stripMargin,
    "asof_attribution" ->
      """WITH views AS (
        |  SELECT event_id AS view_id, user_id, ts AS view_ts
        |  FROM events WHERE event_type = 'view'
        |), purchases AS (
        |  SELECT event_id AS purchase_id, user_id AS p_user, ts AS purchase_ts
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT v.view_id, v.user_id, v.view_ts, p.purchase_id, p.purchase_ts
        |FROM views v ASOF LEFT JOIN purchases p
        |  ON v.user_id = p.p_user AND v.view_ts >= p.purchase_ts
        |ORDER BY view_id""".stripMargin,
    "cep_funnel"           -> DetectionAnalytics.cepFunnelOracle,
    "funnel_rates"         -> DetectionAnalytics.funnelRatesOracle,
    "cep_funnel_relaxed"   -> DetectionAnalytics.cepFunnelRelaxedOracle,
    "cep_absence"          -> DetectionAnalytics.cepAbsenceOracle,
    "cep_bursts"           -> DetectionAnalytics.cepBurstsOracle,
    "late_events"          -> graft.analytics.LateDataAnalytics.lateEventsOracle,
    "hot_pages_late_split" -> graft.analytics.LateDataAnalytics.hotPagesLateSplitOracle,
    "range_join" -> graft.analytics.DetectionAnalytics.rangeJoinOracle,
    "graph_triangles" -> graft.analytics.GraphAnalytics.graphTrianglesOracle,
    "ts_similarity" -> graft.analytics.TimeSeriesAnalytics.tsSimilarityOracle(),
    "ts_similarity_paa" ->
      graft.analytics.TimeSeriesAnalytics.tsSimilarityPaaOracle(),
    "ts_similarity_paa_capped" ->
      graft.analytics.TimeSeriesAnalytics.tsSimilarityPaaCappedOracle(),
    "ts_paa_members" ->
      graft.analytics.TimeSeriesAnalytics.tsPaaMembersOracle(),
    "ts_paa_candidate_stats" ->
      graft.analytics.TimeSeriesAnalytics.tsPaaCandidateStatsOracle(),
    "ts_paa_autoscale" ->
      graft.analytics.TimeSeriesAnalytics.tsPaaAutoScaleOracle(),
    "ts_paa_recall" ->
      graft.analytics.TimeSeriesAnalytics.tsPaaRecallOracle(),
    "ts_paa_recall_curve" ->
      graft.analytics.TimeSeriesAnalytics.tsPaaRecallCurveOracle(),
    "interval_join" ->
      """SELECT o_orderkey, l_linenumber, o_orderdate, l_shipdate
        |FROM orders o JOIN lineitem l ON o_orderkey = l_orderkey
        | AND l_shipdate >= o_orderdate
        | AND l_shipdate <= o_orderdate + INTERVAL 5 DAY
        |ORDER BY o_orderkey, l_linenumber""".stripMargin,
    "pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
        |           * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE) AS sum_charge,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "top_customers" ->
      """WITH revenue AS (
        |  SELECT o_custkey,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |         count(*) AS order_cnt
        |  FROM orders GROUP BY 1
        |), j AS (
        |  SELECT r.revenue, r.order_cnt, c.c_custkey, c.c_name, n.n_name AS nation
        |  FROM revenue r
        |  JOIN customer c ON r.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |), ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY revenue DESC, c_custkey ASC) AS rnk
        |  FROM j
        |)
        |SELECT CAST(rnk AS INT) AS rnk, c_custkey, c_name, nation, revenue, order_cnt
        |FROM ranked WHERE rnk <= 10 ORDER BY rnk""".stripMargin,
    "events_union" ->
      """SELECT event_type, count(*) AS cnt, count(DISTINCT user_id) AS users
        |FROM (SELECT * FROM events WHERE event_type = 'view'
        |      UNION ALL SELECT * FROM events WHERE event_type = 'click')
        |GROUP BY 1 ORDER BY event_type""".stripMargin,
    "revenue_rollup" -> RelationalAnalytics.revenueRollupOracle,
    "revenue_cube"   -> RelationalAnalytics.revenueCubeOracle,
    "user_segments"  -> RelationalAnalytics.userSegmentsOracle,
    "value_percentiles" -> RelationalAnalytics.valuePercentilesOracle,
    "value_percentiles_sampled" -> RelationalAnalytics.valuePercentilesSampledOracle,
    "value_anomaly"     -> RelationalAnalytics.valueAnomalyOracle,
    "bloom_join"        -> RelationalAnalytics.bloomJoinOracle,
    "item_rank"         -> GraphAnalytics.itemRankOracle,
    "events_pivot"   -> RelationalAnalytics.eventsPivotOracle,
    "small_quantity_revenue" -> RelationalAnalytics.smallQuantityRevenueOracle,
    "events_cube"    -> RelationalAnalytics.eventsCubeOracle,
    "user_running_value" -> RelationalAnalytics.userRunningValueOracle,
    "revenue_by_region" ->
      """SELECT r.r_name AS region,
        |       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       count(*) AS order_cnt
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY 1 ORDER BY region""".stripMargin,
    "part_supplier_stats" ->
      """SELECT s.s_name, p.p_brand,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
        |           * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS net_revenue,
        |  CAST(sum(CAST(p.p_retailprice AS DECIMAL(12,2))
        |           * CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS retail_value,
        |  count(*) AS line_cnt
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |GROUP BY 1, 2 ORDER BY s_name, p_brand""".stripMargin,
    "value_by_type_daily" ->
      """SELECT CAST(ts AS DATE) AS day, event_type,
        |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
        |       count(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "dedup_exact"         -> Dedup.dedupExactOracle,
    "span_dedup"          -> Dedup.spanDedupOracle(),
    "span_dedup_incremental" -> Dedup.spanDedupIncrementalOracle(),
    "dedup_minhash_lsh"   -> Dedup.minhashLshOracle,
    "dedup_minhash_lsh_capped" -> Dedup.minhashLshCappedOracle,
    "minhash_error"       -> Dedup.minhashErrorOracle,
    "dedup_incremental"   -> Dedup.dedupIncrementalOracle,
    "dedup_simhash"       -> Dedup.simhashDedupOracle,
    "dedup_ngram_jaccard" -> Dedup.ngramJaccardOracle,
    // capped tier: oracle maxDf=10 ≡ autoMaxDf(500) at the sf0.01
    // correctness tier (same tier coupling as the similarity oracles)
    "dedup_ngram_jaccard_capped" -> Dedup.ngramJaccardCappedOracle(),
    "dedup_substring"     -> Dedup.dedupSubstringOracle(),
    "dedup_clusters"      -> Dedup.dedupClustersOracle,
    "dedup_clusters_multi" -> Dedup.dedupClustersMultiOracle,
    // capped tier: the oracle derives the bucket cap from the corpus
    // itself (autoMaxDfDuck) — parity defined at every SF
    "dedup_clusters_multi_capped" -> Dedup.dedupClustersMultiCappedOracle,
    "similarity_topk"     -> Similarity.similarityTopKOracle(),
    "dedup_embedding"     -> Similarity.dedupEmbeddingOracle,
    "dedup_embedding_capped" -> Similarity.dedupEmbeddingCappedOracle,
    "dedup_embedding_capped_curve" ->
      Similarity.dedupEmbeddingCappedCurveOracle,
    "dedup_embedding_incremental" -> Similarity.dedupEmbeddingIncrementalOracle,
    "dedup_embedding_clusters" -> Similarity.dedupEmbeddingClustersOracle,
    "embedding_spectrum"  -> Similarity.embeddingSpectrumOracle,
    "embedding_spectrum_residual" -> Similarity.embeddingSpectrumResidualOracle,
    "similarity_ivf"      -> Similarity.similarityIvfOracle,
    "similarity_ivf_trained" -> Similarity.similarityIvfTrainedOracle,
    "similarity_lsh"      -> Similarity.similarityLshOracle,
    "similarity_sq8"      -> Similarity.similaritySq8Oracle,
    "similarity_pq"       -> Similarity.similarityPqOracle,
    "similarity_recall_pq" -> Similarity.similarityRecallPqOracle(),
    "similarity_recall"   -> Similarity.similarityRecallOracle(),
    "similarity_recall_lsh" -> Similarity.similarityRecallLshOracle(),
    "similarity_lsh_multiprobe" -> Similarity.similarityLshMultiprobeOracle,
    "similarity_cell_stats" -> Similarity.similarityCellStatsOracle,
    "similarity_lsh_stats" -> Similarity.similarityLshStatsOracle,
    "pii_scrub"           -> Scrub.piiScrubOracle,
    "dedup_containment"   -> Dedup.dedupContainmentOracle,
    "dedup_candidate_stats" -> Dedup.dedupCandidateStatsOracle(),
    "dedup_substring_curve" -> Dedup.substringDfCurveOracle(),
    "similarity_recall_lshmp" -> Similarity.similarityRecallLshOracle(multiprobe = true),
    "embedding_decontamination" -> Similarity.embeddingDecontaminationOracle(),
    "embedding_centroids" -> Similarity.embeddingCentroidsOracle,
    "embedding_outliers"  -> Similarity.embeddingOutliersOracle(),
    "text_stats"          -> TextStats.textStatsOracle,
    "text_normalize"      -> TextStats.textNormalizeOracle,
    "ngram_diversity"     -> TextStats.ngramDiversityOracle,
    "mixture_plan"        -> Sampling.mixturePlanOracle,
    "lang_id"             -> TextStats.langIdOracle,
    "lang_id_eval"        -> TextStats.langIdEvalOracle,
    "doc_fingerprint"     -> TextStats.docFingerprintOracle,
    "doc_repetition"      -> TextStats.docRepetitionOracle,
    "decontamination"     -> TextStats.decontaminationOracle,
    "doc_top_terms"       -> TextStats.docTopTermsOracle,
    "vocab_topv"          -> TextStats.vocabTopVOracle(),
    "oov_rate"            -> TextStats.oovRateOracle(),
    "quality_gopher"      -> TextStats.qualityGopherOracle(),
    "source_datacard"     -> TextStats.sourceDatacardOracle,
    "bm25_rank"           -> TextStats.bm25RankOracle(),
    "phrase_search"       -> TextStats.phraseSearchOracle(),
    "corpus_drift"        -> TextStats.corpusDriftOracle(),
    "ngram_next"          -> TextStats.ngramNextOracle(),
    "ngram_lm_score"      -> TextStats.ngramLmScoreOracle,
    "value_histogram"     -> RelationalAnalytics.valueHistogramOracle,
    "multimodal_decode"   -> Multimodal.multimodalDecodeOracle,
    "multimodal_resize"   -> Multimodal.multimodalResizeOracle,
    "multimodal_framesample" -> Multimodal.multimodalFrameSampleOracle,
    "props_extract"       -> Multimodal.propsExtractOracle,
    "corpus_sample"       -> Sampling.corpusSampleOracle,
    "corpus_prep"         -> Sampling.corpusPrepOracle,
    "cluster_split"       -> Sampling.clusterSplitOracle,
    "dsir_select"         -> Sampling.dsirSelectOracle(),
    "token_cms"           -> Sketch.tokenCmsOracle(),
    "bpe_train"           -> Bpe.bpeTrainOracle,
    "bpe_encode"          -> Bpe.bpeEncodeOracle,
    "seq_pack"            -> Packing.seqPackOracle(),
    "doc_chunks"          -> Packing.docChunksOracle(),
    "chunk_dedup"         -> Packing.chunkDedupOracle(),
    "shipping_priority"   -> RelationalAnalytics.shippingPriorityOracle(),
    "supplier_blame"      -> RelationalAnalytics.supplierBlameOracle(),
    "events_compact"      -> RelationalAnalytics.eventsCompactOracle,
    "table_profile"       -> RelationalAnalytics.tableProfileOracle,
  )
}
