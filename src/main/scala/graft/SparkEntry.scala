package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.analytics.{ExtPipelines, Pipelines}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every `queries` entry has a matching `oracleSql` ANSI-SQL statement
  * (DuckDB dialect-compatible) over the same parquet tables, with
  * IDENTICAL output column names; aggregates run on exact integer cents
  * so hashes are bit-stable (SURVEY.md §7.6). Queries with no SQL
  * equivalent (LSH, streaming, …) intentionally omit the oracle entry.
  */
object SparkEntry {

  /** Flagship query (§3.2 full profile) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Pipelines.flagshipProfile(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // reference-parity surface (SURVEY.md §2) on `events`
    "e1_categorize" -> (Pipelines.categorize _),
    "p3p4_valid_rows" -> (Pipelines.validRows _),
    "a1_duration_by_category" -> (Pipelines.durationByCategory _),
    "a2_devices_faithful" -> (Pipelines.devicesFaithful _),
    "a2_devices_distinct" -> (Pipelines.devicesDistinct _),
    "a3_pivot_durations" -> (Pipelines.pivotDurations _),
    "flagship_profile" -> (Pipelines.flagshipProfile _),
    "flagship_profile_fast" -> (Pipelines.flagshipProfile _),
    "flagship_profile_incremental" -> (Pipelines.incrementalProfile _),
    "e8_one_day" -> (Pipelines.oneDay _),
    "u1_union_days" -> (Pipelines.unionDays _),
    // generic relational coverage on the TPC-H-ish tables
    "g1_pricing_summary" -> (Pipelines.pricingSummary _),
    "g2_revenue_by_nation" -> (Pipelines.revenueByNation _),
    "g3_top_orders_per_customer" -> (Pipelines.topOrdersPerCustomer _),
    "g4_top_orders_global" -> (Pipelines.topOrdersGlobal _),
    "g5_distinct_segments" -> (Pipelines.distinctSegments _),
    "g6_customers_without_orders" -> (Pipelines.customersWithoutOrders _),
    "g7_customer_order_stats" -> (Pipelines.customerOrderStats _),
    "g8_rollup_summary" -> (Pipelines.rollupSummary _),
    "g9_intersect_segments" -> (Pipelines.intersectSegments _),
    "g10_except_segments" -> (Pipelines.exceptSegments _),
    "g11_orders_with_big_lines" -> (Pipelines.ordersWithBigLines _),
    "g12_string_functions" -> (Pipelines.stringFunctions _),
    "g13_date_functions" -> (Pipelines.dateFunctions _),
    "g14_explode_tokens" -> (Pipelines.explodeTokens _),
    "g15_above_avg_balance" -> (Pipelines.aboveAvgBalance _),
    "g16_approx_distinct_parts" -> (Pipelines.approxDistinctParts _),
    "g16b_hll_bounded" -> (Pipelines.approxDistinctBounded _),
    "g17_asof_last_purchase" -> (Pipelines.asofLastPurchase _),
    "g31_asof_next_purchase" -> (Pipelines.asofNextPurchase _),
    "g18_json_extract" -> (Pipelines.jsonExtract _),
    "g19_array_functions" -> (Pipelines.arrayFunctions _),
    // bucketed co-located join: storage pre-shuffled on the join key,
    // the whole agg+join plan runs with zero exchanges (PlanSpec)
    "g20_bucketed_join" -> (graft.ops.Bucketed.orderLineStats _),
    "g21_percentiles" -> (Pipelines.percentiles _),
    "g21b_percentile_bounded" -> (Pipelines.percentileBounded _),
    "g22_range_join" -> (Pipelines.attributionRangeJoin _),
    "g23_profile_stats" -> (Pipelines.profileStats _),
    "g24_window_analytics" -> (Pipelines.windowAnalytics _),
    "g25_cube_summary" -> (Pipelines.cubeSummary _),
    "g26_promo_revenue" -> (Pipelines.promoRevenue _),
    "g27_map_functions" -> (Pipelines.mapFunctions _),
    "g28_grouping_sets" -> (Pipelines.groupingSetsSummary _),
    "g29_unpivot" -> (Pipelines.unpivotDurations _),
    // SQL-text front end: the same ANSI string runs in Spark AND DuckDB
    "sql1_q3_shipping" -> (Pipelines.sqlQ3 _),
    "sql2_exists_subquery" -> (Pipelines.sqlExists _),
    "sql3_cte_having" -> (Pipelines.sqlCteHaving _),
    "sql4_in_subquery" -> (Pipelines.sqlInSubquery _),
    "sql5_window" -> (Pipelines.sqlWindow _),
    "sql6_set_ops" -> (Pipelines.sqlSetOps _),
    "sql7_rollup" -> (Pipelines.sqlRollup _),
    "sql8_select_subquery" -> (Pipelines.sqlSelectSubquery _),
    "sql9_multi_join" -> (Pipelines.sqlMultiJoin _),
    "sql10_window_dedup" -> (Pipelines.sqlWindowDedup _),
    "sql11_lateral_topn" -> (Pipelines.sqlLateralTopN _),
    "x28_dedup_stats" -> (ExtPipelines.dedupStats _),
    "g30_copurchase_pairs" -> ((s: SparkSession, d: String) =>
      Pipelines.coPurchasePairs(s, d)),
    "g32_sketch_rollup" -> (Pipelines.sketchRollup _),
    "g36_theta_segments" -> (Pipelines.thetaSegments _),
    "g37_theta_retention" -> (Pipelines.thetaRetentionRollup _),
    "g38_sketch_store_serve" -> (Pipelines.thetaStoreServe _),
    "g39_hll_store_serve" -> (Pipelines.hllStoreServe _),
    "g40_sketch_store_retention" -> (Pipelines.thetaStoreRetention _),
    "s22_stream_theta_segments" -> (Pipelines.streamThetaSegments _),
    "s23_stream_sketch_store" -> (Pipelines.streamSketchStore _),
    "g33_pagerank" -> ((s: SparkSession, d: String) => Pipelines.pageRank(s, d)),
    "x8_skew_salted_agg" -> (Pipelines.skewSaltedAgg _),
    "x9_dedup_clusters" -> (ExtPipelines.dedupClusters _),
    "x10_contamination" -> (ExtPipelines.contamination _),
    "x16_incremental_ingest" -> (ExtPipelines.incrementalIngest _),
    "x17_bloom_ingest" -> (ExtPipelines.bloomIngest _),
    "x17b_bloom_ingest_bounded" -> (ExtPipelines.bloomIngestBounded _),
    "x26_minhash_index_ingest" -> (ExtPipelines.minhashIndexIngest _),
    "x26b_minhash_index_serve" -> (ExtPipelines.minhashIndexServe _),
    "x26c_minhash_index_append" -> (ExtPipelines.minhashIndexAppend _),
    "x26d_minhash_index_delete" -> (ExtPipelines.minhashIndexDelete _),
    "x26e_minhash_index_refresh" -> (ExtPipelines.minhashIndexRefresh _),
    "x30_minhash_index_rebucket" -> (ExtPipelines.minhashIndexRebucket _),
    "x31_index_describe" -> (ExtPipelines.indexDescribe _),
    "x32_index_autopilot" -> (ExtPipelines.minhashIndexMaintain _),
    "x33_minhash_index_asof" -> (ExtPipelines.minhashIndexAsOf _),
    "x34_index_diff" -> (ExtPipelines.indexDiff _),
    "x35_minhash_index_fold" -> (ExtPipelines.minhashIndexFold _),
    "x29_cc_incremental" -> (ExtPipelines.ccIncremental _),
    "x11_clean_corpus" -> (ExtPipelines.cleanCorpus _),
    // training-data-pipeline operators (dedup / text / similarity)
    "x1_dedup_exact" -> (ExtPipelines.dedupExact _),
    "x2_dedup_keep_first" -> (ExtPipelines.dedupKeepFirst _),
    "x3_neardup_jaccard" -> (ExtPipelines.neardupJaccard _),
    "x4_neardup_minhash" -> (ExtPipelines.neardupMinhash _),
    "x27_containment_dups" -> (ExtPipelines.containmentDups _),
    "x5_neardup_embedding" -> (ExtPipelines.neardupEmbedding _),
    "x15_semantic_dedup" -> (ExtPipelines.semanticDedup _),
    "x6_simhash_dups" -> (ExtPipelines.simhashDups _),
    "x23_editdist_neardup" -> (ExtPipelines.editDistNearDups _),
    "x25_jaro_name_match" -> (ExtPipelines.jaroWinklerNameMatch _),
    "x25b_jaro_name_match_blocked" -> (ExtPipelines.jaroWinklerNameMatchBlocked _),
    "x23b_editdist_blocked" -> (ExtPipelines.editDistNearDupsBlocked _),
    "x24_dedup_apply" -> (ExtPipelines.dedupApplyClusters _),
    "x24b_dedup_apply_persisted" -> (ExtPipelines.dedupApplyPersisted _),
    "x7_neardup_embedding_lsh" -> (ExtPipelines.neardupEmbeddingLsh _),
    "t5_normalize" -> (ExtPipelines.normalizedDocs _),
    "t6_top_docs_per_source" -> (ExtPipelines.topDocsPerSource _),
    "t7_train_test_split" -> (ExtPipelines.trainTestSplit _),
    "t1_token_stats" -> (ExtPipelines.tokenStats _),
    "t33_heavy_hitters" -> (ExtPipelines.heavyHitters _),
    "t2_quality_signals" -> (ExtPipelines.qualitySignals _),
    "t3_lang_id" -> (ExtPipelines.langId _),
    "t4_fingerprints" -> (ExtPipelines.fingerprints _),
    "t4b_fingerprint_bounded" -> (ExtPipelines.fingerprintBounded _),
    "t8_top_ngrams" -> (ExtPipelines.topNgrams _),
    "t9_redact_pii" -> (ExtPipelines.redactedDocs _),
    "t10_sample_per_source" -> (ExtPipelines.samplePerSource _),
    "t34_weighted_sample" -> (ExtPipelines.weightedSample _),
    "t35_quantile_sketch" -> (ExtPipelines.quantileSketch _),
    "s20_stream_quantile_sketch" -> (ExtPipelines.streamQuantileSketch _),
    "s21_stream_heavy_hitters" -> (ExtPipelines.streamHeavyHitters _),
    "t36_quantile_rollup" -> (ExtPipelines.quantileRollup _),
    "t37_qdigest_store_serve" -> (ExtPipelines.quantileStoreServe _),
    "t11_repetition_signals" -> (ExtPipelines.repetitionSignals _),
    "t12_corpus_mix" -> (ExtPipelines.corpusMix _),
    "t13_token_shards" -> (ExtPipelines.tokenShards _),
    "t17_shuffled_shards" -> (ExtPipelines.shuffledShards _),
    "t18_quality_gate_adaptive" -> (ExtPipelines.qualityGateAdaptive _),
    "t19_bm25" -> (ExtPipelines.bm25Scores _),
    "t20_lm_coverage" -> (ExtPipelines.lmCoverage _),
    "t21_importance_ratio" -> (ExtPipelines.importanceRatio _),
    "t22_rag_chunks" -> (ExtPipelines.ragChunks _),
    "t23_inverted_index" -> (ExtPipelines.invertedIndex _),
    "t24_novelty" -> (ExtPipelines.noveltyScores _),
    "t25_phrase_search" -> (ExtPipelines.phraseSearch _),
    "t26_bpe_pairs" -> (ExtPipelines.bpePairStats _),
    "t27_source_drift" -> (ExtPipelines.sourceDrift _),
    "t28_tfidf_keywords" -> (ExtPipelines.tfidfKeywords _),
    "t29_token_budget" -> (ExtPipelines.tokenBudget _),
    "t30_tokenizer_encode" -> (ExtPipelines.tokenizerEncode _),
    "t31_bigram_nll" -> (ExtPipelines.bigramNll _),
    "t32_nb_quality" -> (ExtPipelines.nbQualityScore _),
    "x18_source_overlap" -> (ExtPipelines.sourceOverlap _),
    "x19_snapshot_diff" -> (ExtPipelines.snapshotDiff _),
    "x20_corpus_refresh" -> (ExtPipelines.corpusRefresh _),
    "x21_change_magnitude" -> (ExtPipelines.changeMagnitude _),
    "x22_next_snapshot" -> (ExtPipelines.nextSnapshot _),
    "v9_ivf_ingest" -> (ExtPipelines.ivfIngest _),
    "v10_centroid_outliers" -> (ExtPipelines.centroidOutliers _),
    "v11_centroid_drift" -> (ExtPipelines.centroidDrift _),
    "v12_ivf_index_persist" -> (ExtPipelines.ivfIndexPersist _),
    "v18_ivf_index_append" -> (ExtPipelines.ivfIndexAppend _),
    "v19_ivf_index_delete" -> (ExtPipelines.ivfIndexDelete _),
    "v23_ivf_index_retrain" -> (ExtPipelines.ivfIndexRetrain _),
    "v24_ivf_drift_gate" -> (ExtPipelines.ivfIndexDriftGate _),
    "v25_ivf_autopilot" -> (ExtPipelines.ivfIndexMaintain _),
    "v26_ivf_index_asof" -> (ExtPipelines.ivfIndexAsOf _),
    "v27_ivf_index_fold" -> (ExtPipelines.ivfIndexFold _),
    "v13_kmeans_lloyd" -> (ExtPipelines.kmeansLloyd _),
    "v15_cluster_balanced" -> (ExtPipelines.clusterBalancedSelect _),
    "v16_mmr_topk" -> (ExtPipelines.mmrTopK _),
    "v17_range_search" -> (ExtPipelines.rangeSearch _),
    "g34_retention_cohorts" -> (Pipelines.retentionCohorts _),
    "g35_funnel" -> ((s: SparkSession, d: String) => Pipelines.funnel(s, d)),
    "g35b_funnel_single_scan" ->
      ((s: SparkSession, d: String) => Pipelines.funnelSingleScan(s, d)),
    "t14_seq_manifest" -> (ExtPipelines.seqManifest _),
    "x12_segment_dedup" -> (ExtPipelines.segmentDedup _),
    "x13_span_dedup" -> (ExtPipelines.spanDedup _),
    "x14_clean_corpus_v2" -> (ExtPipelines.cleanCorpusV2 _),
    "v1_cosine_topk" -> (ExtPipelines.cosineTopK _),
    "v2_ann_lsh_topk" -> (ExtPipelines.annLshTopK _),
    "v4_ann_quantized_topk" -> (ExtPipelines.annQuantizedTopK _),
    "v5_filtered_ann" -> (ExtPipelines.filteredCosineTopK _),
    "t15_vocabulary" -> (ExtPipelines.vocabulary _),
    "t16_cluster_split" -> (ExtPipelines.clusterSplit _),
    "v3_ann_ivf_topk" -> (ExtPipelines.annIvfTopK _),
    "v3b_ivf_recall_bounded" -> (ExtPipelines.annIvfRecallBounded _),
    "v8_ann_pq_topk" -> (ExtPipelines.annPqTopK _),
    "v8b_pq_recall_bounded" -> (ExtPipelines.annPqRecallBounded _),
    "v14_ann_ivfpq_topk" -> (ExtPipelines.annIvfPqTopK _),
    "v14b_ivfpq_recall_bounded" -> (ExtPipelines.annIvfPqRecallBounded _),
    "v6_knn_graph" -> (ExtPipelines.knnGraph _),
    "v7_knn_graph_clustered" -> (ExtPipelines.knnGraphClustered _),
    "v7b_knn_recall_bounded" -> (ExtPipelines.knnRecallBounded _),
    "s1_stream_daily_totals" -> (ExtPipelines.streamDailyTotals _),
    "s2_sessionize_batch" -> (ExtPipelines.sessionizeBatch _),
    "s3_sessionize_stream" -> (ExtPipelines.sessionizeStream _),
    "s4_stream_enrich" -> (ExtPipelines.streamEnrich _),
    "s5_stream_dedup" -> (ExtPipelines.streamDedup _),
    "s5b_stream_dedup_watermark" -> (ExtPipelines.streamDedupWithinWatermark _),
    "s6_stream_range_join" -> (ExtPipelines.streamRangeJoin _),
    "s7_stream_profile" -> (ExtPipelines.streamProfile _),
    "s8_stream_quality_gate" -> (ExtPipelines.streamQualityGate _),
    "s9_stream_ingest_dedup" -> (ExtPipelines.streamIngestDedup _),
    "s10_stream_sliding_totals" -> (ExtPipelines.streamSlidingTotals _),
    "s11_stream_cdc" -> (ExtPipelines.streamCdc _),
    "s12_stream_distinct_users" -> (ExtPipelines.streamDistinctUsers _),
    "s13_stream_hot_types" -> (ExtPipelines.streamHotTypes _),
    "s14_stream_spikes" -> (ExtPipelines.streamSpikes _),
    "s15_stream_neardup_ingest" -> (ExtPipelines.streamNearDupIngest _),
    "s16_stream_ivf_ingest" -> (ExtPipelines.streamIvfIngest _),
    "s17_stream_ivf_serve" -> (ExtPipelines.streamIvfServe _),
    "s18_stream_index_delete" -> (ExtPipelines.streamIndexDelete _),
    "s19_stream_ivf_delete" -> (ExtPipelines.streamIvfDelete _),
    "v21_ivf_int8_index" -> (ExtPipelines.ivfIndexQuantized _),
    "v22_ivf_pq_index" -> (ExtPipelines.ivfIndexPq _),
    "v22b_pq_index_recall" -> (ExtPipelines.ivfIndexPqRecallBounded _),
    "v20_ivf_index_serve" -> (ExtPipelines.ivfIndexServe _),
    "m1_media_meta" -> (ExtPipelines.mediaMeta _),
    "m2_media_features" -> (ExtPipelines.mediaFeatures _),
    "m3_frame_sample" -> (ExtPipelines.mediaFrameSample _),
    "m4_media_neardup" -> (ExtPipelines.mediaNearDups _),
    "m5_consensus_neardup" -> (ExtPipelines.consensusNearDups _),
    "m6_media_sig_dedup" -> (ExtPipelines.mediaSigDedup _),
    "m7_image_decode" -> (ExtPipelines.mediaImageDecode _),
    "m8_perceptual_neardup" -> (ExtPipelines.mediaPerceptualNearDup _),
    "sql12_recursive_spine" -> (Pipelines.sqlRecursiveSpine _),
    "sql13_multi_exists" -> (Pipelines.sqlMultiExists _),
    "sql14_not_in" -> (Pipelines.sqlNotIn _)
  )

  /** Shared SQL prelude mirroring `graft.ops.Viewing`: integer-cents value
    * + the E1 category when-chain. */
  private val baseCte: String =
    """WITH base AS (
      |  SELECT user_id, event_type, props, ts,
      |         CAST(round(value * 100) AS BIGINT) AS value_cents,
      |         CASE WHEN event_type IN ('view','impression') THEN 'ViewDuration'
      |              WHEN event_type IN ('click','tap') THEN 'ClickDuration'
      |              WHEN event_type = 'purchase' THEN 'PurchaseDuration'
      |              WHEN event_type = 'signup' THEN 'SignupDuration'
      |              ELSE 'Error' END AS Type
      |  FROM events)""".stripMargin

  private val pivotCols: String =
    """    CAST(COALESCE(SUM(CASE WHEN Type = 'ClickDuration' THEN value_cents END), 0) AS BIGINT) AS ClickDuration,
      |    CAST(COALESCE(SUM(CASE WHEN Type = 'PurchaseDuration' THEN value_cents END), 0) AS BIGINT) AS PurchaseDuration,
      |    CAST(COALESCE(SUM(CASE WHEN Type = 'SignupDuration' THEN value_cents END), 0) AS BIGINT) AS SignupDuration,
      |    CAST(COALESCE(SUM(CASE WHEN Type = 'ViewDuration' THEN value_cents END), 0) AS BIGINT) AS ViewDuration""".stripMargin

  /** Shared by x23 (exact all-pairs) and x23b (PassJoin-blocked twin,
    * zero recall loss by pigeonhole — same result set by theorem). */
  private val editDistOracle: String =
    """WITH p AS (SELECT doc_id, lower(substr(text, 1, 32)) AS pfx
      |           FROM documents)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |       levenshtein(a.pfx, b.pfx) AS dist
      |FROM p a JOIN p b ON a.doc_id < b.doc_id
      |WHERE levenshtein(a.pfx, b.pfx) <= 4""".stripMargin

  /** Shared by g35 (chained per-stage aggregates) and g35b (the
    * single-scan greedy-fold twin — equal result by the greedy
    * first-touch argument). */
  private val funnelOracle: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |s1 AS (SELECT user_id, min(us) AS t FROM e
      |       WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, min(e.us) AS t FROM e
      |       JOIN s1 ON e.user_id = s1.user_id
      |       WHERE e.event_type = 'click' AND e.us > s1.t
      |       GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, min(e.us) AS t FROM e
      |       JOIN s2 ON e.user_id = s2.user_id
      |       WHERE e.event_type = 'purchase' AND e.us > s2.t
      |       GROUP BY e.user_id)
      |SELECT 1 AS stage, 'view' AS event_type,
      |       CAST(count(*) AS BIGINT) AS n_users FROM s1
      |UNION ALL
      |SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
      |UNION ALL
      |SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3""".stripMargin

  /** Shared by x25 (brand-blocked exact all-pairs) and x25b (the
    * distinct-name prefix-filtered twin — equal result by theorem). */
  private val jaroOracle: String =
    """SELECT a.p_partkey AS p1, b.p_partkey AS p2,
      |       jaro_winkler_similarity(a.p_name, b.p_name) AS jw
      |FROM part a
      |JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.9""".stripMargin

  /** Shared jaccard-pairs oracle (x3 exact and x4 MinHash-LSH must agree:
    * LSH recall at jaccard≥0.5-with-verification is ~1 for this banding). */
  private val jaccardOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT doc_id,
      |         unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                               for i in range(1, len(w) - 1)])) AS s
      |       FROM t WHERE len(w) >= 3),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT a_id, b_id, CAST(i AS DOUBLE) / (x.n + y.n - i) AS jaccard
      |FROM inter JOIN sz x ON a_id = x.doc_id JOIN sz y ON b_id = y.doc_id
      |WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.5""".stripMargin

  /** m4's oracle: m2's histogram CTE + an L1 chain summed in BIN
    * ORDER — the same fold order as Spark's expression chain, so the
    * distances are bit-identical and the threshold compare is
    * deterministic. */
  private val mediaL1Oracle: String = {
    val hs = (0 until 16).map(i =>
      s"  CAST(len(list_filter(bs, x -> x[1] = '${"0123456789ABCDEF"(i)}')) AS DOUBLE)" +
      s" / greatest(len(bs), 1) AS h${f"$i%02d"}").mkString(",\n")
    val l1 = (0 until 16).map(i => f"abs(a.h$i%02d - b.h$i%02d)").mkString(" + ")
    s"""WITH b0 AS (SELECT doc_id,
       |  regexp_extract_all(upper(hex(encode(text))), '..') AS bs FROM documents),
       |h AS (SELECT doc_id,
       |$hs
       |FROM b0)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |FROM h a JOIN h b ON a.doc_id < b.doc_id
       |WHERE $l1 <= 0.001""".stripMargin
  }

  /** Shared sessionization oracle — the batch (window-function) and
    * streaming (flatMapGroupsWithState) forms must both match it:
    * equal-timestamp events always share a session, so replay order
    * inside the state function can't diverge from the SQL ordering. */
  private val sessionizeOracle: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us,
      |                  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |f AS (SELECT user_id, ts_us, cents,
      |        CASE WHEN lag(ts_us) OVER w IS NULL
      |                  OR ts_us - lag(ts_us) OVER w > 1800000000
      |             THEN 1 ELSE 0 END AS new_sess
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
      |g AS (SELECT user_id, ts_us, cents,
      |        SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
      |                            ROWS UNBOUNDED PRECEDING) AS sess_id
      |      FROM f)
      |SELECT user_id, CAST(min(ts_us) AS BIGINT) AS session_start_us,
      |       count(*) AS n_events, CAST(SUM(cents) AS BIGINT) AS total_cents
      |FROM g GROUP BY user_id, sess_id""".stripMargin

  /** Shared exact embedding-pairs oracle (x5 exact and x7 multiprobe-LSH
    * must agree: recall at cos≥0.4 with distance-1 probes over 16 tables
    * is ~1-6e-6 per pair; precision is exact via the verify stage). */
  private val embeddingPairsOracle: String =
    """SELECT a.vec_id AS a_id, b.vec_id AS b_id
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                             CAST(b.embedding AS DOUBLE[])) >= 0.4""".stripMargin

  /** Shared exact cosine top-k oracle (v1 brute-force and v2 multiprobe
    * ANN must agree — see the v2 comment at the Map entry). */
  private val cosineTopkOracle: String =
    """SELECT query_id, neighbor_id, rk FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         row_number() OVER (
      |           PARTITION BY q.vec_id
      |           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                           CAST(c.embedding AS DOUBLE[])) DESC,
      |                    c.vec_id ASC) AS rk
      |  FROM embeddings q JOIN embeddings c
      |    ON q.vec_id < 10 AND q.vec_id <> c.vec_id) t
      |WHERE rk <= 5""".stripMargin

  /** v13's oracle: the full 2-round Lloyd iteration unrolled as chained
    * CTEs — buildable for ANY round count because each round is the
    * same (distance, argmin, quantized mean, empty-cluster COALESCE)
    * block. Distances are index-ordered list-comprehension sums over
    * the same doubles Spark's kernel folds, argmin is ORDER BY d, cid,
    * and `floor(avg·10⁴ + 0.5)/10⁴` re-quantizes each mean onto the
    * grid Spark broadcasts — see `Similarity.kmeansLloyd` for why the
    * quantization makes the iteration hash-exact cross-engine. */
  private def kmeansOracleCte(k: Int, iters: Int, dim: Int): String = {
    val sb = new StringBuilder(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, v AS cv
         |       FROM e ORDER BY vec_id LIMIT $k)""".stripMargin)
    def dist(prev: String) =
      s"list_sum([(e.v[i+1] - $prev.cv[i+1]) * (e.v[i+1] - $prev.cv[i+1]) for i in range($dim)])"
    for (it <- 1 to iters) {
      val prev = s"c${it - 1}"
      sb.append(s""",
        |d$it AS (SELECT e.vec_id, $prev.cid, ${dist(prev)} AS d
        |       FROM e CROSS JOIN $prev),
        |a$it AS (SELECT vec_id, cid FROM (
        |         SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk FROM d$it)
        |       WHERE rk = 1),
        |m$it AS (SELECT a$it.cid, g.i, floor(avg(e.v[g.i+1]) * 10000.0 + 0.5) / 10000.0 AS m
        |       FROM a$it JOIN e USING (vec_id) CROSS JOIN (SELECT unnest(range($dim)) AS i) g
        |       GROUP BY a$it.cid, g.i),
        |c$it AS (SELECT $prev.cid, COALESCE(mm.cv, $prev.cv) AS cv
        |       FROM $prev LEFT JOIN (SELECT cid, list(m ORDER BY i) AS cv FROM m$it GROUP BY cid) mm USING (cid))""".stripMargin)
    }
    sb.append(s""",
      |df AS (SELECT e.vec_id, c$iters.cid, ${dist(s"c$iters")} AS d
      |       FROM e CROSS JOIN c$iters),
      |km AS (SELECT vec_id, cid AS cluster FROM (
      |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk FROM df)
      |WHERE rk = 1)""".stripMargin)
    sb.toString
  }

  /** The full v13 assignment recompute (km CTE + projection). */
  private def kmeansOracle(k: Int, iters: Int, dim: Int): String =
    kmeansOracleCte(k, iters, dim) + "\nSELECT vec_id, cluster FROM km"

  /** Full SimHash pipeline recomputed in SQL — possible because the
    * token hash is md5-derived (`Dedup.tokenHash60`), shared by both
    * engines. The oracle does the all-pairs O(n^2) check; Spark does the
    * pigeonhole-banded join — identical output, different cost shape. */
  private val simhashOracle: String = {
    val bitSums = (0 until 60).map(b =>
      s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b").mkString(",\n        ")
    val pack = (0 until 60).map(b =>
      s"CASE WHEN b$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END").mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |h AS (SELECT doc_id,
       |        CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM tok),
       |b AS (SELECT doc_id,
       |        $bitSums
       |      FROM h GROUP BY doc_id),
       |s AS (SELECT doc_id, ($pack) AS sh FROM b)
       |SELECT x.doc_id AS a_id, y.doc_id AS b_id,
       |       CAST(bit_count(xor(x.sh, y.sh)) AS INT) AS dist
       |FROM s x JOIN s y ON x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.sh, y.sh)) <= 3""".stripMargin
  }

  /** Flagship oracle — the reference's branch+join shape in SQL, shared
    * by `flagship_profile` and `flagship_profile_fast` (one body, kept
    * under both names) and by the incremental and streaming forms. */
  private val flagshipOracle: String =
    s"""$baseCte,
       |devices AS (SELECT user_id, count(*) AS TotalDevices FROM base GROUP BY user_id),
       |stats AS (
       |  SELECT user_id,
       |$pivotCols
       |  FROM base
       |  WHERE user_id <> 0 AND Type <> 'Error'
       |  GROUP BY user_id),
       |prof AS (
       |  SELECT s.*, d.TotalDevices,
       |    greatest(ClickDuration, PurchaseDuration, SignupDuration, ViewDuration) AS mx,
       |    (ClickDuration + PurchaseDuration + SignupDuration + ViewDuration) / 86400.0 AS days
       |  FROM stats s JOIN devices d USING (user_id))
       |SELECT user_id, ClickDuration, PurchaseDuration, SignupDuration, ViewDuration, TotalDevices,
       |  CASE WHEN ClickDuration = mx THEN 'Giải trí'
       |       WHEN PurchaseDuration = mx THEN 'Phim truyện'
       |       WHEN SignupDuration = mx THEN 'Thể thao'
       |       WHEN ViewDuration = mx THEN 'Truyền hình' END AS most_watch,
       |  concat_ws('-',
       |    CASE WHEN ClickDuration <> 0 THEN 'Giải trí' END,
       |    CASE WHEN PurchaseDuration <> 0 THEN 'Phim truyện' END,
       |    CASE WHEN SignupDuration <> 0 THEN 'Thể thao' END,
       |    CASE WHEN ViewDuration <> 0 THEN 'Truyền hình' END) AS Taste,
       |  CASE WHEN days < 10 THEN 'Low'
       |       WHEN days >= 10 AND days < 20 THEN 'Medium'
       |       WHEN days >= 20 THEN 'High' END AS Active_day
       |FROM prof""".stripMargin

  /** t27's oracle, generated over the same stopword list the Spark
    * side folds, so the fixed-order KL tree is spelled identically
    * (left-assoc sum of p·ln(p/q) terms, zero-count terms exactly 0). */
  private def t27OracleSql: String = {
    val ws = graft.ext.TextAnalysis.stopwords
    val counts = ws.map(w =>
      s"""CAST(sum(len(list_filter(string_split(text, ' '),
         |        x -> x = '$w'))) AS BIGINT) AS c_$w""".stripMargin)
      .mkString(",\n    ")
    val totals = ws.map(w => s"CAST(sum(c_$w) AS BIGINT) AS t_$w")
      .mkString(", ")
    val m = ws.map(w => s"c_$w").mkString(" + ")
    val bigM = ws.map(w => s"t_$w").mkString(" + ")
    val terms = ws.map(w =>
      s"""CASE WHEN c_$w > 0
         |     THEN (CAST(c_$w AS DOUBLE) / CAST(m AS DOUBLE))
         |          * ln((CAST(c_$w AS DOUBLE) / CAST(m AS DOUBLE))
         |               / (CAST(t_$w AS DOUBLE) / CAST(mm AS DOUBLE)))
         |     ELSE 0.0 END""".stripMargin).mkString("\n  + ")
    s"""WITH c AS (SELECT source,
       |    $counts
       |  FROM documents GROUP BY source),
       |t AS (SELECT $totals FROM c),
       |j AS (SELECT c.*, t.*, ($m) AS m, ($bigM) AS mm FROM c, t)
       |SELECT source, CAST(m AS BIGINT) AS n_stop,
       |  ($terms) AS kl
       |FROM j""".stripMargin
  }

  /** t33/s21: the exact heavy-token set plus the pinned Misra-Gries
    * guarantees — shared verbatim by the streamed run (both guarantees
    * are merge-order-independent). */
  private val t33HeavyHittersOracle: String =
    """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok
      |            FROM documents),
      |tot AS (SELECT count(*) AS n FROM tk),
      |c AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok)
      |SELECT tok, CAST(cnt AS BIGINT) AS cnt,
      |       TRUE AS found_ok, TRUE AS err_ok
      |FROM c, tot WHERE cnt * 100 >= n""".stripMargin

  /** g38/s23: the persisted theta store's serve facts — g37's exact
    * retention counts plus the stored-day count and the bit-identity
    * pin. Shared verbatim by the STREAMED store run (s23): bottomK(S)
    * is a pure function of the set, so the store is bit-identical
    * whether its days landed by batch save+append or by streaming
    * delta drain + day close. */
  private val thetaStoreOracle: String =
    """WITH w AS (SELECT DISTINCT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
      |                  user_id
      |           FROM events),
      |wk AS (SELECT week, lead(week) OVER (ORDER BY week) AS next_week
      |       FROM (SELECT DISTINCT week FROM w)),
      |r AS (SELECT a.week AS wa, b.week AS wb, count(*) AS ret
      |      FROM w a JOIN w b ON a.user_id = b.user_id
      |      GROUP BY 1, 2),
      |d AS (SELECT CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n
      |      FROM events)
      |SELECT wk.week, wk.next_week,
      |       CAST(COALESCE(r.ret, 0) AS BIGINT) AS exact_returning,
      |       TRUE AS returning_ok,
      |       (SELECT n FROM d) AS n_days_stored,
      |       TRUE AS store_matches_direct
      |FROM wk LEFT JOIN r ON r.wa = wk.week AND r.wb = wk.next_week
      |WHERE wk.next_week IS NOT NULL""".stripMargin

  /** g36/s22: exact pairwise distinct-set cardinalities per event-type
    * segment pair — every ordered pair present (left join, coalesce 0)
    * so the engine's all-pairs emission and the SQL side can never
    * disagree on row sets; the sketch estimates surface only as the
    * pinned booleans. Shared verbatim by the streamed run: a bottom-k
    * sketch is a pure function of the set, so stream ≡ batch
    * bit-for-bit. */
  private val thetaSegmentsOracle: String =
    """WITH d AS (SELECT DISTINCT event_type AS seg, user_id FROM events),
      |c AS (SELECT seg, count(*) AS n FROM d GROUP BY seg),
      |i AS (SELECT a.seg AS sa, b.seg AS sb, count(*) AS ni
      |      FROM d a JOIN d b ON a.user_id = b.user_id AND a.seg < b.seg
      |      GROUP BY 1, 2),
      |p AS (SELECT ca.seg AS sa, cb.seg AS sb, ca.n AS na, cb.n AS nb
      |      FROM c ca JOIN c cb ON ca.seg < cb.seg)
      |SELECT p.sa AS a_seg, p.sb AS b_seg,
      |       CAST(p.na AS BIGINT) AS exact_a, CAST(p.nb AS BIGINT) AS exact_b,
      |       CAST(COALESCE(i.ni, 0) AS BIGINT) AS exact_inter,
      |       CAST(p.na + p.nb - COALESCE(i.ni, 0) AS BIGINT) AS exact_union,
      |       CAST(p.na - COALESCE(i.ni, 0) AS BIGINT) AS exact_diff,
      |       TRUE AS union_ok, TRUE AS inter_ok, TRUE AS diff_ok
      |FROM p LEFT JOIN i ON i.sa = p.sa AND i.sb = p.sb""".stripMargin

  // clamp bound interpolated from the engine's ONE definition site
  // (QDigest.DefaultM) so a constants change cannot silently
  // desynchronize the DuckDB oracle from the query
  private val t35QuantileOracle: String =
    s"""WITH v AS (SELECT source,
      |                  least(greatest(n_chars, 0),
      |                        ${(1L << graft.functions.QDigest.DefaultM) - 1}) AS v
      |           FROM documents),
      |cum AS (SELECT source, v,
      |               sum(count(*)) OVER (PARTITION BY source
      |                                   ORDER BY v) AS cum
      |        FROM v GROUP BY source, v),
      |n AS (SELECT source, count(*) AS n FROM v GROUP BY source),
      |phis(phi_pct) AS (VALUES (10), (50), (90), (99)),
      |tgt AS (SELECT source, phi_pct, n,
      |               (n * phi_pct + 99) // 100 AS target
      |        FROM n CROSS JOIN phis)
      |SELECT t.source, t.phi_pct, t.n, min(c.v) AS exact_q,
      |       TRUE AS sketch_ok
      |FROM tgt t JOIN cum c ON c.source = t.source AND c.cum >= t.target
      |GROUP BY t.source, t.phi_pct, t.n""".stripMargin

  /** v9: incremental IVF ingest — t7's md5-bucket split carves the
    * standing index (80%) from the new batch (20%); seeds are x15's
    * md5 draw but from the STANDING subset only; assignment is the
    * x15 argmax (double cosine, lowest-seed-id tie-break) over the
    * batch only — the delta a stored index appends. Shared verbatim
    * by s16 (the batch streamed in micro-batches): assignment is
    * per-row independent, so stream ≡ batch. */
  private val v9IvfIngestOracle: String =
    """WITH h AS (SELECT vec_id, embedding,
      |             md5(CAST(vec_id AS VARCHAR)) AS m FROM embeddings),
      |b AS (SELECT vec_id, embedding,
      |        ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
      |       + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
      |       + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
      |       + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) AS bucket
      |      FROM h),
      |standing AS (SELECT vec_id, embedding FROM b WHERE bucket < 52428),
      |batch AS (SELECT vec_id, embedding FROM b WHERE bucket >= 52428),
      |seeds AS (SELECT vec_id AS seed_id, CAST(embedding AS DOUBLE[]) AS cvec
      |          FROM standing
      |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
      |assign AS (SELECT e.vec_id, s.seed_id,
      |             row_number() OVER (PARTITION BY e.vec_id
      |               ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |                                               s.cvec) DESC,
      |                        s.seed_id ASC) AS rk
      |           FROM batch e CROSS JOIN seeds s)
      |SELECT vec_id, seed_id AS list_id FROM assign WHERE rk = 1""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "t27_source_drift" -> t27OracleSql,

    // t29: the oracle's GLOBAL window is the semantic spec; the engine
    // computes the identical running total via the two-level prefix
    // sum (band totals -> driver prefix -> in-band window). Quality
    // doubles are s8's expression, bit-equal across engines, ties
    // broken by doc_id — a total order, so cum_tokens is exact.
    "t29_token_budget" ->
      """WITH sig AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    len(list_filter(string_split(text, ' '),
        |        x -> x IN ('the','a','of','and','in','to','is','it','for','on'))) AS n_stop,
        |    length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS n_punct,
        |    length(text) AS len
        |  FROM documents),
        |q AS (SELECT doc_id, n_tokens,
        |  (least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
        |     + least((CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / n_tokens END) * 5.0, 1.0) * 0.3
        |     + (1.0 - least((CASE WHEN len = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / len END) * 10.0, 1.0)) * 0.3) AS quality
        |  FROM sig),
        |r AS (SELECT doc_id, quality, CAST(n_tokens AS BIGINT) AS n_tokens,
        |        CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
        |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |      FROM q)
        |SELECT doc_id, quality, n_tokens, cum_tokens
        |FROM r WHERE cum_tokens <= 10000""".stripMargin,

    // t30: the ORACLE IS THE FULL TOKENIZER — DuckDB re-trains the
    // 20-merge table with t26's exact SQL (same (n DESC, pair) total
    // order → same ranks) and re-runs the greedy scan as a recursive
    // CTE (one row per doc per token; a merge hit advances 2 chars,
    // else 1 char emits its codepoint), so every id of every document
    // is cross-engine-checked. Id scheme: codepoint | 1114112 + rank.
    "t30_tokenizer_encode" ->
      """WITH RECURSIVE w AS (SELECT word, CAST(count(*) AS BIGINT) AS wn
        |           FROM (SELECT unnest(string_split(text, ' ')) AS word
        |                 FROM documents)
        |           GROUP BY word),
        |p AS (SELECT unnest([substr(word, i, 2)
        |                     for i in range(1, len(word))]) AS pair, wn
        |      FROM w),
        |pc AS (SELECT pair, CAST(sum(wn) AS BIGINT) AS n FROM p GROUP BY pair),
        |merges AS (SELECT pair,
        |             CAST(row_number() OVER (ORDER BY n DESC, pair) AS INTEGER) AS rnk
        |           FROM pc ORDER BY n DESC, pair LIMIT 20),
        |enc AS (
        |  SELECT doc_id, 1 AS pos, CAST(0 AS BIGINT) AS n_tokens, '' AS ids_str
        |  FROM documents
        |  UNION ALL
        |  SELECT e.doc_id,
        |         e.pos + CASE WHEN m.pair IS NOT NULL THEN 2 ELSE 1 END,
        |         e.n_tokens + 1,
        |         e.ids_str || CASE WHEN e.n_tokens = 0 THEN '' ELSE ',' END ||
        |           CAST(CASE WHEN m.pair IS NOT NULL THEN 1114112 + m.rnk
        |                     ELSE unicode(substr(d.text, e.pos, 1)) END AS VARCHAR)
        |  FROM enc e JOIN documents d USING (doc_id)
        |  LEFT JOIN merges m ON substr(d.text, e.pos, 2) = m.pair
        |  WHERE e.pos <= length(d.text)
        |)
        |SELECT e.doc_id, e.n_tokens, e.ids_str
        |FROM enc e JOIN documents d USING (doc_id)
        |WHERE e.pos > length(d.text)""".stripMargin,

    // t28: tf/df/n_docs are exact integers; the one double is the
    // per-row tf·ln(n_docs/df) finishing score, one expression tree in
    // both engines, so the (tfidf DESC, tok) top-3 order is total
    "t28_tfidf_keywords" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |           FROM documents),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |       FROM t GROUP BY 1, 2),
        |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |s AS (SELECT tf.doc_id, tf.tok, tf.tf, df.df,
        |        CAST(tf.tf AS DOUBLE) *
        |          ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) AS tfidf
        |      FROM tf JOIN df USING (tok) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |                                   ORDER BY tfidf DESC, tok) AS rnk
        |      FROM s)
        |SELECT doc_id, rnk, tok, tf, df, tfidf FROM r WHERE rnk <= 3""".stripMargin,
    "s1_stream_daily_totals" ->
      s"""$baseCte
         |SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, Type,
         |       CAST(SUM(value_cents) AS BIGINT) AS value_cents
         |FROM base
         |WHERE user_id <> 0 AND Type <> 'Error'
         |GROUP BY 1, 2""".stripMargin,

    // s12: the oracle recomputes the exact daily cardinality and pins
    // the sketch contract (g16b pattern, streaming form)
    "s12_stream_distinct_users" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |       TRUE AS hll_ok
        |FROM events GROUP BY 1""".stripMargin,

    // s10: each event lands in exactly two sliding windows (duration 2d,
    // slide 1d, epoch-aligned like Spark's window()); integer cents keep
    // the sum exact under any merge order
    "s10_stream_sliding_totals" ->
      s"""$baseCte
         |SELECT strftime(date_trunc('day', ts) - o * INTERVAL 1 DAY, '%Y-%m-%d') AS win_start,
         |       strftime(date_trunc('day', ts) - o * INTERVAL 1 DAY + 2 * INTERVAL 1 DAY, '%Y-%m-%d') AS win_end,
         |       Type, CAST(SUM(value_cents) AS BIGINT) AS value_cents
         |FROM base, (SELECT unnest([0, 1]) AS o)
         |WHERE user_id <> 0 AND Type <> 'Error'
         |GROUP BY 1, 2, 3""".stripMargin,

    // s13: the streaming windowed totals (s1's state shape keyed by raw
    // event_type) ranked top-3 per day; integer cents keep the rank
    // basis exact, event_type breaks ties deterministically
    "s13_stream_hot_types" ->
      s"""$baseCte
         |, agg AS (
         |  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
         |         CAST(SUM(value_cents) AS BIGINT) AS value_cents
         |  FROM base
         |  WHERE user_id <> 0 AND Type <> 'Error'
         |  GROUP BY 1, 2)
         |SELECT day, event_type, value_cents, rk FROM (
         |  SELECT day, event_type, value_cents,
         |         CAST(row_number() OVER (
         |           PARTITION BY day ORDER BY value_cents DESC, event_type
         |         ) AS INT) AS rk
         |  FROM agg) WHERE rk <= 3""".stripMargin,

    // s14: the streaming per-(day, type) counts classified day-over-day
    // — integer ratio test (n·10 ≥ prev·25), lag over observed days,
    // first day NULL prev ⇒ never a spike; both engines agree on the
    // NULL rows byte-for-byte
    "s14_stream_spikes" ->
      s"""$baseCte
         |, agg AS (
         |  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
         |         CAST(count(*) AS BIGINT) AS n
         |  FROM base
         |  WHERE user_id <> 0 AND Type <> 'Error'
         |  GROUP BY 1, 2)
         |SELECT day, event_type, n,
         |  lag(day) OVER (PARTITION BY event_type ORDER BY day) AS prev_day,
         |  lag(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n,
         |  (lag(n) OVER (PARTITION BY event_type ORDER BY day) IS NOT NULL
         |   AND n * 10 >= lag(n) OVER (PARTITION BY event_type ORDER BY day) * 25
         |   AND n >= 20) AS spike
         |FROM agg""".stripMargin,

    "s2_sessionize_batch" -> sessionizeOracle,
    "s3_sessionize_stream" -> sessionizeOracle,

    "s4_stream_enrich" ->
      """SELECT event_id, user_id, c_mktsegment AS segment
        |FROM events JOIN customer ON user_id = c_custkey""".stripMargin,

    "s5_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    // s5b: with the 40-day delay dominating the 30-day replay span the
    // watermark never reaches any eviction horizon, so the bounded-state
    // dedup provably equals global dedup on this input (see
    // ExtPipelines.streamDedupWithinWatermark)
    "s5b_stream_dedup_watermark" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    // same closure as the batch g22 range join — stream-stream interval
    // joins with matching watermarks emit exactly the batch result on a
    // bounded replay
    "s6_stream_range_join" ->
      """SELECT p.event_id, r.event_id AS purchase_id
        |FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |      WHERE event_type <> 'purchase') p
        |JOIN (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |      WHERE event_type = 'purchase') r
        |ON p.user_id = r.user_id
        |   AND p.ts_us >= r.ts_us AND p.ts_us < r.ts_us + 86400000000""".stripMargin,

    "m1_media_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS byte_len,
        |       'application/octet-stream' AS mime
        |FROM documents""".stripMargin,

    "x1_dedup_exact" ->
      """SELECT sha256(text) AS text_sha256, min(doc_id) AS keep_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY sha256(text)""".stripMargin,

    "x2_dedup_keep_first" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin,

    "x3_neardup_jaccard" -> jaccardOracle,
    "x4_neardup_minhash" -> jaccardOracle,

    // x27: the jaccard oracle's shingle/intersection CTEs, projected to
    // the asymmetric containment measure, one row per DIRECTION (the
    // i/na and i/nb divisions are single deterministic IEEE ops)
    "x27_containment_dups" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                               for i in range(1, len(w) - 1)])) AS s
        |       FROM t WHERE len(w) >= 3),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |dir AS (
        |  SELECT a_id AS src_id, b_id AS dst_id,
        |         CAST(i AS DOUBLE) / x.n AS containment, x.n AS n_src
        |  FROM inter JOIN sz x ON a_id = x.doc_id
        |  UNION ALL
        |  SELECT b_id, a_id, CAST(i AS DOUBLE) / y.n, y.n
        |  FROM inter JOIN sz y ON b_id = y.doc_id)
        |SELECT src_id, dst_id, containment FROM dir
        |WHERE containment >= 0.6 AND n_src >= 10""".stripMargin,

    // the train/test split is t7's md5 bucket rule; shingles are the
    // same distinct word 3-grams as the jaccard oracle. `rare` mirrors
    // the maxShingleDf=100 train-side cap the Spark pipeline applies
    // (ExtPipelines.contamination → Dedup.contaminationPairs): shingles
    // in >100 train docs are dropped BEFORE the overlap join, so a
    // boilerplate trigram can neither create pairs nor count toward
    // n_shared.
    "x10_contamination" ->
      """WITH h AS (SELECT doc_id, text, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
        |b AS (SELECT doc_id, text,
        |        ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) AS bucket
        |      FROM h),
        |tw AS (SELECT doc_id, bucket, string_split(text, ' ') AS w FROM b),
        |sh AS (SELECT doc_id, bucket,
        |         unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                               for i in range(1, len(w) - 1)])) AS s
        |       FROM tw WHERE len(w) >= 3),
        |tr0 AS (SELECT doc_id, s FROM sh WHERE bucket < 52428),
        |rare AS (SELECT s FROM tr0 GROUP BY s HAVING count(*) <= 100),
        |tr AS (SELECT tr0.doc_id, tr0.s FROM tr0 JOIN rare USING (s)),
        |te AS (SELECT doc_id, s FROM sh WHERE bucket >= 52428)
        |SELECT te.doc_id AS test_id, tr.doc_id AS train_id, count(*) AS n_shared
        |FROM te JOIN tr ON te.s = tr.s
        |GROUP BY 1, 2
        |HAVING count(*) >= 5""".stripMargin,

    // x16 = x10's corpus/batch split and shingle rule, composed into the
    // admitted-set form: batch minus exact dups of the corpus (text
    // equality ≡ Spark's sha2 join up to collisions), minus near-dups
    // (x10's >= 5 shared rare shingles), minus intra-batch exact dups of
    // an earlier batch id.
    "x16_incremental_ingest" ->
      """WITH h AS (SELECT doc_id, text, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
        |b AS (SELECT doc_id, text,
        |        ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) AS bucket
        |      FROM h),
        |trd AS (SELECT doc_id, text FROM b WHERE bucket < 52428),
        |ted AS (SELECT doc_id, text FROM b WHERE bucket >= 52428),
        |ex AS (SELECT DISTINCT ted.doc_id FROM ted JOIN trd ON ted.text = trd.text),
        |tw AS (SELECT doc_id, bucket, string_split(text, ' ') AS w FROM b),
        |sh AS (SELECT doc_id, bucket,
        |         unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                               for i in range(1, len(w) - 1)])) AS s
        |       FROM tw WHERE len(w) >= 3),
        |tr0 AS (SELECT doc_id, s FROM sh WHERE bucket < 52428),
        |rare AS (SELECT s FROM tr0 GROUP BY s HAVING count(*) <= 100),
        |tr AS (SELECT tr0.doc_id, tr0.s FROM tr0 JOIN rare USING (s)),
        |te AS (SELECT doc_id, s FROM sh WHERE bucket >= 52428),
        |near AS (SELECT DISTINCT test_id AS doc_id FROM (
        |           SELECT te.doc_id AS test_id, tr.doc_id AS train_id
        |           FROM te JOIN tr ON te.s = tr.s
        |           GROUP BY 1, 2
        |           HAVING count(*) >= 5)),
        |intra AS (SELECT DISTINCT y.doc_id
        |          FROM ted x JOIN ted y
        |            ON x.text = y.text AND x.doc_id < y.doc_id),
        |dropped AS (SELECT doc_id FROM ex UNION
        |            SELECT doc_id FROM near UNION
        |            SELECT doc_id FROM intra)
        |SELECT ted.doc_id FROM ted
        |LEFT JOIN dropped d ON ted.doc_id = d.doc_id
        |WHERE d.doc_id IS NULL""".stripMargin,

    // x17 itself is rows-only (the sketch's bit positions are
    // xxhash64-engine-specific); x17b pins its contract the v3b way:
    // a Bloom filter never misses a present key, so n_dups_admitted
    // must be 0; n_exact is the join-based admitted count the oracle
    // recomputes independently; excess_ok asserts the false-positive
    // rejections stay within max(5, 1% of batch).
    "x17b_bloom_ingest_bounded" ->
      """WITH h AS (SELECT doc_id, text, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
        |b AS (SELECT doc_id, text,
        |        ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) AS bucket
        |      FROM h),
        |trd AS (SELECT DISTINCT text FROM b WHERE bucket < 52428),
        |ted AS (SELECT doc_id, text FROM b WHERE bucket >= 52428),
        |ex AS (SELECT ted.doc_id FROM ted LEFT JOIN trd ON ted.text = trd.text
        |       WHERE trd.text IS NULL)
        |SELECT CAST(0 AS BIGINT) AS n_dups_admitted,
        |       (SELECT count(*) FROM ex) AS n_exact,
        |       TRUE AS excess_ok""".stripMargin,

    // x26: persisted MinHash-LSH index ingest. The admitted SET is
    // engine-internal (xxhash64 signatures), so the driver-checkable
    // facts are: the split size (md5-bucket rule, recomputed), the
    // index-vs-memory identity pin (v12's discipline), and the no-
    // exact-dup-admitted guarantee (identical docs always collide in
    // LSH and verify at j = 1, so the count is exactly 0).
    "x26_minhash_index_ingest" ->
      """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
        |b AS (SELECT doc_id,
        |        ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) AS bucket
        |      FROM h)
        |SELECT CAST(count(*) AS BIGINT) AS n_batch,
        |       TRUE AS identical,
        |       CAST(0 AS BIGINT) AS n_exact_admitted
        |FROM b WHERE bucket >= 52428""".stripMargin,

    // s15: the streaming composition of x26b — the test split streamed
    // through foreachBatch against the same standing index, with
    // cross-batch deltas. The admitted SET is engine-internal; the
    // driver-checkable facts are x26b's exactly (the s9 ≡ x16
    // pattern: one SQL covers the batch serve and the streaming run,
    // because LSH admission of exact duplicates is deterministic —
    // they always collide and verify at j = 1, so n_exact_admitted is
    // 0 regardless of how the stream micro-batched)
    "s15_stream_neardup_ingest" ->
      """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
        |b AS (SELECT doc_id,
        |        ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) AS bucket
        |      FROM h)
        |SELECT CAST(count(*) AS BIGINT) AS n_batch,
        |       CAST(0 AS BIGINT) AS n_exact_admitted
        |FROM b WHERE bucket >= 52428""".stripMargin,

    // s18: streaming index takedown — the doomed ids arrive as three
    // micro-batches of tombstones instead of one batch delete; the
    // driver-checkable facts are x26d's verbatim (batch size by the
    // md5-bucket rule; tombstoned serve ≡ rebuild over the survivors,
    // exact because deletion strikes candidate b_ids, which is all the
    // probe ever reads of a standing doc — regardless of how the
    // deletes micro-batched)
    "s18_stream_index_delete" ->
      """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
        |b AS (SELECT doc_id,
        |        ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) AS bucket
        |      FROM h)
        |SELECT CAST(count(*) AS BIGINT) AS n_batch,
        |       TRUE AS identical
        |FROM b WHERE bucket >= 52428""".stripMargin,

    // x26b: the serving-only twin (load stored index + one batch
    // ingest) — same driver-checkable facts minus the dual-build
    // identity probe, which stays x26's job
    "x26b_minhash_index_serve" ->
      """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
        |b AS (SELECT doc_id,
        |        ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) AS bucket
        |      FROM h)
        |SELECT CAST(count(*) AS BIGINT) AS n_batch,
        |       CAST(0 AS BIGINT) AS n_exact_admitted
        |FROM b WHERE bucket >= 52428""".stripMargin,

    // x26c: index APPEND maintenance. The admitted sets are
    // engine-internal; the driver-checkable facts are the day-2 batch
    // size (md5-bucket rule, buckets >= 0.9*65536) and the identity
    // pin — append-then-serve must equal rebuild-then-serve exactly
    // (frames are per-doc functions of text, so frame sets are equal
    // by construction; the flag probes the two served admitted sets)
    "x26c_minhash_index_append" ->
      """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
        |b AS (SELECT doc_id,
        |        ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) AS bucket
        |      FROM h)
        |SELECT CAST(count(*) AS BIGINT) AS n_batch2,
        |       TRUE AS identical
        |FROM b WHERE bucket >= 58982""".stripMargin,

    // x33: index AS-OF serve. Appends/deletes are monotonic manifest
    // commits, so a serve pinned at a retained seq sees exactly that
    // commit's index: pinned@0 re-serves the pre-append answer and
    // pinned@1 ignores the later tombstones — both exact set
    // equalities probed by the engine. Facts: the batch size (md5
    // bucket rule, >= 0.8*65536) + the two pins.
    "x33_minhash_index_asof" ->
      """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
        |b AS (SELECT doc_id,
        |        ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) AS bucket
        |      FROM h)
        |SELECT CAST(count(*) AS BIGINT) AS n_batch,
        |       TRUE AS pinned_pre_append, TRUE AS future_delete_invisible
        |FROM b WHERE bucket >= 52428""".stripMargin,

    // x34: the commit-log diff. Every emitted number is a LAYOUT
    // CONSTANT of the driven verb (see the pipeline scaladoc) — the
    // manifest entry arithmetic is data- and SF-independent, so the
    // oracle states the whole table as literals; only the
    // partition-dependent shingles/sizes diffs hide behind the
    // composition_bounded boolean.
    "x34_index_diff" ->
      """SELECT 'append' AS leg, CAST(0 AS BIGINT) AS gen_delta,
        |       CAST(1 AS BIGINT) AS seq_delta,
        |       CAST(1 AS BIGINT) AS bands_added,
        |       CAST(0 AS BIGINT) AS bands_removed,
        |       CAST(0 AS BIGINT) AS tomb_added,
        |       CAST(0 AS BIGINT) AS tomb_removed,
        |       '' AS params_changed, TRUE AS composition_bounded
        |UNION ALL SELECT 'delete', 0, 1, 0, 0, 1, 0, '', TRUE
        |UNION ALL SELECT 'compact', 1, 1, 1, 2, 1, 2, '', TRUE
        |UNION ALL SELECT 'rebucket', 1, 1, 0, 0, 0, 0, 'buckets', TRUE
        |UNION ALL SELECT 'window', 2, 4, 1, 1, 1, 1, 'buckets', TRUE""".stripMargin,

    // x35: the autopilot's composition-length fold trigger on an
    // append-only index. Every number is a LAYOUT CONSTANT of the
    // fixture regime (2 vs 4 committed appends against bound 3): batch
    // roots stand until the fold returns them to 0 in one flip; the
    // other triggers are cold by construction (nothing deleted, sizing
    // exact), so the whole table is literals.
    "x35_minhash_index_fold" ->
      """SELECT 'under' AS leg, FALSE AS compacted, FALSE AS rebucketed,
        |       CAST(2 AS BIGINT) AS batches_before,
        |       CAST(2 AS BIGINT) AS batches_after,
        |       CAST(0 AS BIGINT) AS gen_after,
        |       CAST(0 AS BIGINT) AS n_tombstones_after,
        |       TRUE AS serve_identical
        |UNION ALL SELECT 'over', TRUE, FALSE, 4, 0, 1, 0, TRUE""".stripMargin,

    // x26d: index DELETE maintenance. The admitted sets are
    // engine-internal; the driver-checkable facts are the batch size
    // (md5-bucket rule, buckets >= 0.8*65536) and the identity pin —
    // tombstoned-serve and compacted-serve must both equal a rebuild
    // over standing-minus-deleted exactly (tombstones strike candidate
    // b_ids, which is all the probe ever reads of a standing doc; the
    // compaction preserves surviving rows row-for-row)
    "x26d_minhash_index_delete" ->
      """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
        |b AS (SELECT doc_id,
        |        ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) AS bucket
        |      FROM h)
        |SELECT CAST(count(*) AS BIGINT) AS n_batch,
        |       TRUE AS identical
        |FROM b WHERE bucket >= 52428""".stripMargin,

    // x30: index REBUCKET maintenance — the rebucketed index's frames
    // and admitted set are engine-internal; the driver-checkable facts
    // are the batch size (md5-bucket rule), the flipped manifest's
    // stored bucket count (read back by the serve path — 48 by the
    // verb's argument), and the identity pin: frames ≡ a fresh build
    // at 48 over the survivors (rows are per-doc functions of text;
    // bucket is a pure function of (id, count))
    "x30_minhash_index_rebucket" ->
      """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
        |b AS (SELECT doc_id,
        |        ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) AS bucket
        |      FROM h)
        |SELECT CAST(count(*) AS BIGINT) AS n_batch,
        |       CAST(48 AS BIGINT) AS buckets_after,
        |       TRUE AS identical
        |FROM b WHERE bucket >= 52428""".stripMargin,

    // x26e: index REFRESH maintenance — x20's decision CTEs verbatim
    // (same salted #snap snapshots, digest dup gate, quality gate);
    // the driver-checkable facts are the admitted count and the
    // frame-multiset identity flag (refreshed index ≡ fresh build over
    // the x22 next snapshot, exact because every index row is a
    // per-doc function of text)
    "x26e_minhash_index_refresh" ->
      """WITH h AS (SELECT doc_id, text,
        |             md5(CAST(doc_id AS VARCHAR) || '#snap') AS m FROM documents),
        |b AS (SELECT doc_id, text,
        |        ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) AS bucket
        |      FROM h),
        |o AS (SELECT doc_id, text FROM b WHERE bucket < 58982),
        |n AS (SELECT doc_id,
        |        CASE WHEN bucket >= 26214 AND bucket < 32768
        |             THEN text || ' [recrawled]' ELSE text END AS text
        |      FROM b WHERE bucket >= 6554),
        |d AS (SELECT n.doc_id, n.text,
        |        CASE WHEN o.doc_id IS NULL THEN 'added'
        |             WHEN o.text <> n.text THEN 'changed' END AS status
        |      FROM n LEFT JOIN o ON n.doc_id = o.doc_id
        |      WHERE o.doc_id IS NULL OR o.text <> n.text),
        |q AS (SELECT doc_id, text, status,
        |        (least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) * 0.4
        |         + least((CASE WHEN len(string_split(text, ' ')) = 0 THEN 0.0
        |                  ELSE CAST(len(list_filter(string_split(text, ' '),
        |                       x -> x IN ('the','a','of','and','in','to','is','it','for','on'))) AS DOUBLE)
        |                     / len(string_split(text, ' ')) END) * 5.0, 1.0) * 0.3
        |         + (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0
        |                  ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
        |                     / length(text) END) * 10.0, 1.0)) * 0.3) AS quality
        |      FROM d),
        |od AS (SELECT DISTINCT text FROM o),
        |acts AS (SELECT q.doc_id,
        |           CASE WHEN od.text IS NOT NULL THEN 'reject_dup'
        |                WHEN q.quality < 0.5 THEN 'reject_quality'
        |                WHEN q.status = 'added' THEN 'admit_new'
        |                ELSE 'admit_update' END AS action
        |         FROM q LEFT JOIN od ON q.text = od.text)
        |SELECT CAST(count(*) AS BIGINT) AS n_admitted, TRUE AS identical
        |FROM acts WHERE action IN ('admit_new', 'admit_update')""".stripMargin,

    // the composite pipeline: dedup keep-first → t7 split → x10
    // decontamination (train side) → t2 quality ≥ 0.5. CTEs mirror the
    // verified per-stage oracles exactly, including x10's
    // maxShingleDf=100 train-side cap (rare/tr below).
    "x11_clean_corpus" ->
      """WITH dd AS (
        |  SELECT doc_id, source, text FROM (
        |    SELECT doc_id, source, text,
        |           row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |    FROM documents) WHERE rn = 1),
        |b AS (SELECT doc_id, source, text,
        |        ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) AS bucket
        |      FROM (SELECT doc_id, source, text,
        |              md5(CAST(doc_id AS VARCHAR)) AS m FROM dd)),
        |tw AS (SELECT doc_id, bucket, string_split(text, ' ') AS w FROM b),
        |sh AS (SELECT doc_id, bucket,
        |         unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                               for i in range(1, len(w) - 1)])) AS s
        |       FROM tw WHERE len(w) >= 3),
        |tr0 AS (SELECT doc_id, s FROM sh WHERE bucket < 52428),
        |rare AS (SELECT s FROM tr0 GROUP BY s HAVING count(*) <= 100),
        |tr AS (SELECT tr0.doc_id, tr0.s FROM tr0 JOIN rare USING (s)),
        |te AS (SELECT doc_id, s FROM sh WHERE bucket >= 52428),
        |dirty AS (SELECT DISTINCT train_id FROM (
        |  SELECT te.doc_id AS test_id, tr.doc_id AS train_id
        |  FROM te JOIN tr ON te.s = tr.s
        |  GROUP BY 1, 2 HAVING count(*) >= 5)),
        |clean AS (SELECT doc_id, source, text FROM b
        |          WHERE bucket < 52428
        |            AND doc_id NOT IN (SELECT train_id FROM dirty)),
        |sig AS (
        |  SELECT doc_id, source,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    len(list_filter(string_split(text, ' '),
        |        x -> x IN ('the','a','of','and','in','to','is','it','for','on'))) AS n_stop,
        |    length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS n_punct,
        |    length(text) AS len
        |  FROM clean)
        |SELECT doc_id, source, n_tokens, quality FROM (
        |  SELECT doc_id, source, n_tokens,
        |    (least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
        |     + least((CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / n_tokens END) * 5.0, 1.0) * 0.3
        |     + (1.0 - least((CASE WHEN len = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / len END) * 10.0, 1.0)) * 0.3) AS quality
        |  FROM sig) q
        |WHERE quality >= 0.5""".stripMargin,

    // transitive closure of the jaccard pairs via recursive reachability;
    // cluster label = component minimum, matching min-label propagation
    "x9_dedup_clusters" ->
      s"""WITH RECURSIVE edges AS (
         |  SELECT a_id, b_id FROM (
         |$jaccardOracle
         |  ) jp
         |),
         |nodes AS (SELECT a_id AS id FROM edges UNION SELECT b_id AS id FROM edges),
         |sym AS (SELECT a_id AS u, b_id AS v FROM edges
         |        UNION ALL SELECT b_id AS u, a_id AS v FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT reach.id, sym.v AS r FROM reach JOIN sym ON reach.r = sym.u
         |)
         |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin,

    // x24: the dedup decision applied — survivors are docs that are
    // either unclustered or their cluster's minimum-id member
    "x24_dedup_apply" ->
      s"""WITH RECURSIVE edges AS (
         |  SELECT a_id, b_id FROM (
         |$jaccardOracle
         |  ) jp
         |),
         |nodes AS (SELECT a_id AS id FROM edges UNION SELECT b_id AS id FROM edges),
         |sym AS (SELECT a_id AS u, b_id AS v FROM edges
         |        UNION ALL SELECT b_id AS u, a_id AS v FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT reach.id, sym.v AS r FROM reach JOIN sym ON reach.r = sym.u
         |),
         |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT d.doc_id, d.source
         |FROM documents d LEFT JOIN cl USING (doc_id)
         |WHERE cl.cluster_id IS NULL OR cl.cluster_id = d.doc_id""".stripMargin,

    // x24b: identical semantics to x24 (the persisted-label apply must
    // reproduce the self-contained form exactly — parquet round-trips
    // the integer labels bit-exactly), so the oracle is the same SQL
    "x24b_dedup_apply_persisted" ->
      s"""WITH RECURSIVE edges AS (
         |  SELECT a_id, b_id FROM (
         |$jaccardOracle
         |  ) jp
         |),
         |nodes AS (SELECT a_id AS id FROM edges UNION SELECT b_id AS id FROM edges),
         |sym AS (SELECT a_id AS u, b_id AS v FROM edges
         |        UNION ALL SELECT b_id AS u, a_id AS v FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT reach.id, sym.v AS r FROM reach JOIN sym ON reach.r = sym.u
         |),
         |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT d.doc_id, d.source
         |FROM documents d LEFT JOIN cl USING (doc_id)
         |WHERE cl.cluster_id IS NULL OR cl.cluster_id = d.doc_id""".stripMargin,

    // leakage-safe split: x9's recursive closure labels the clusters,
    // then t7's md5 bucket rule runs on the cluster key (own id for
    // singletons) — near-dup docs land on the same side by construction
    "t16_cluster_split" ->
      s"""WITH RECURSIVE edges AS (
         |  SELECT a_id, b_id FROM (
         |$jaccardOracle
         |  ) jp
         |),
         |nodes AS (SELECT a_id AS id FROM edges UNION SELECT b_id AS id FROM edges),
         |sym AS (SELECT a_id AS u, b_id AS v FROM edges
         |        UNION ALL SELECT b_id AS u, a_id AS v FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT reach.id, sym.v AS r FROM reach JOIN sym ON reach.r = sym.u
         |),
         |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |k AS (SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS key
         |      FROM documents d LEFT JOIN cl USING (doc_id)),
         |h AS (SELECT doc_id, md5(CAST(key AS VARCHAR)) AS m FROM k),
         |b AS (SELECT doc_id,
         |        ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
         |       + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
         |       + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
         |       + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) AS bucket
         |      FROM h)
         |SELECT doc_id,
         |       CASE WHEN bucket < 52428 THEN 'train' ELSE 'test' END AS split
         |FROM b""".stripMargin,

    "x5_neardup_embedding" -> embeddingPairsOracle,

    // x15 recomputes the whole SemDeDup pipeline in SQL: same md5-drawn
    // seed centroids, same argmax assignment (row_number rk=1 ≡ Spark's
    // max_by tie-break), same intra-cluster pair removal. Possible
    // because the nIters=0 centroids are RAW corpus vectors — no Lloyd
    // averaging, so both engines score identical doubles.
    "x15_semantic_dedup" ->
      """WITH seeds AS (
        |  SELECT vec_id AS seed_id, CAST(embedding AS DOUBLE[]) AS cvec
        |  FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        |  LIMIT 8),
        |assign AS (
        |  SELECT e.vec_id, s.seed_id,
        |         row_number() OVER (PARTITION BY e.vec_id
        |           ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                           s.cvec) DESC,
        |                    s.seed_id ASC) AS rk
        |  FROM embeddings e CROSS JOIN seeds s),
        |a AS (SELECT vec_id, seed_id AS list_id FROM assign WHERE rk = 1),
        |removed AS (
        |  SELECT DISTINCT y.vec_id AS b_id
        |  FROM a x JOIN a y ON x.list_id = y.list_id AND x.vec_id < y.vec_id
        |  JOIN embeddings ex ON ex.vec_id = x.vec_id
        |  JOIN embeddings ey ON ey.vec_id = y.vec_id
        |  WHERE list_cosine_similarity(CAST(ex.embedding AS DOUBLE[]),
        |                               CAST(ey.embedding AS DOUBLE[])) >= 0.4)
        |SELECT a.vec_id, a.list_id
        |FROM a LEFT JOIN removed r ON a.vec_id = r.b_id
        |WHERE r.b_id IS NULL""".stripMargin,
    // multiprobe LSH recall at these (bits, tables, probes) is 1-6e-6
    // per pair; precision is exact (cosine verify) — so the exact-pairs
    // SQL is the oracle, same precedent as x4-vs-x3 (ExtSpec measures
    // recall explicitly).
    "x7_neardup_embedding_lsh" -> embeddingPairsOracle,

    "x6_simhash_dups" -> simhashOracle,

    // x23: exact all-pairs edit distance on the lowercased 32-char head
    // — both engines implement classic Levenshtein. x23b (PassJoin
    // segment blocking + the same banded verify) shares the SAME SQL:
    // the pigeonhole blocking provably loses no pair, so the blocked
    // twin is held to the exact oracle, x4-vs-x3 style.
    "x23_editdist_neardup" -> editDistOracle,
    "x23b_editdist_blocked" -> editDistOracle,

    // x25: the native JaroWinklerExpr is bit-exact with DuckDB's
    // jaro_winkler_similarity (validated on 7k part-name pairs), so the
    // raw double hash-compares; blocking key (p_brand) spelled in both.
    // x25b (identical-name fast path + zero-loss prefix-filtered
    // distinct-name verify) shares it, the x23/x23b relationship: the
    // result set is equal BY THEOREM, including the jw doubles (the
    // fast path's literal 1.0 is exactly what the formula yields on
    // identical strings).
    "x25_jaro_name_match" -> jaroOracle,
    "x25b_jaro_name_match_blocked" -> jaroOracle,

    "t5_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
        |                      '\s+', ' ', 'g')) AS norm_text
        |FROM documents""".stripMargin,

    "t7_train_test_split" ->
      """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
        |b AS (SELECT doc_id,
        |        ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) AS bucket
        |      FROM h)
        |SELECT doc_id,
        |       CASE WHEN bucket < 52428 THEN 'train' ELSE 'test' END AS split
        |FROM b""".stripMargin,

    "t6_top_docs_per_source" ->
      """SELECT source, CAST(rk AS INT) AS rk, doc_id FROM (
        |  SELECT source, doc_id,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY n_chars DESC, doc_id ASC) AS rk
        |  FROM documents) t WHERE rk <= 3""".stripMargin,

    "t10_sample_per_source" ->
      """SELECT source, doc_id, CAST(rk AS INT) AS rk FROM (
        |  SELECT source, doc_id,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents) t WHERE rk <= 5""".stripMargin,

    // t34: A-Res weighted sample — the oracle recomputes the exact
    // 52-bit md5 uniform and the same ln(u)/w picogrid key, then takes
    // the same (key DESC, doc_id ASC) top-1000
    "t34_weighted_sample" ->
      """WITH h AS (SELECT doc_id, n_chars,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS v
        |  FROM documents WHERE n_chars >= 1),
        |k AS (SELECT doc_id, n_chars,
        |    CAST(round(ln((CAST(v AS DOUBLE) + 0.5) / 4503599627370496.0)
        |               / CAST(n_chars AS DOUBLE) * 1000000000000.0) AS BIGINT)
        |      AS key_pnat
        |  FROM h)
        |SELECT doc_id, n_chars, key_pnat FROM k
        |ORDER BY key_pnat DESC, doc_id ASC LIMIT 1000""".stripMargin,

    // Gopher-style repetition signals; the Spark side computes them with
    // a per-row sorted-array scan, the oracle with explode+group — same
    // exact integers either way
    "t11_repetition_signals" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ucnt AS (SELECT doc_id, tok, count(*) AS c
        |         FROM (SELECT doc_id, unnest(w) AS tok FROM t) GROUP BY 1, 2),
        |ustat AS (SELECT doc_id, max(c) AS top_word_n, sum(c) AS n_words
        |          FROM ucnt GROUP BY 1),
        |bi AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bg
        |       FROM t, unnest(range(1, len(w))) AS r(i) WHERE len(w) >= 2),
        |bcnt AS (SELECT doc_id, bg, count(*) AS c FROM bi GROUP BY 1, 2),
        |bstat AS (SELECT doc_id, max(c) AS top_bigram_n,
        |                 sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_bigram_n,
        |                 sum(c) AS n_bigrams FROM bcnt GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(COALESCE(n_words, 0) AS BIGINT) AS n_words,
        |  CAST(COALESCE(top_word_n, 0) AS BIGINT) AS top_word_n,
        |  CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  CAST(COALESCE(top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
        |  CAST(COALESCE(dup_bigram_n, 0) AS BIGINT) AS dup_bigram_n
        |FROM documents d
        |LEFT JOIN ustat USING (doc_id) LEFT JOIN bstat USING (doc_id)""".stripMargin,

    // weighted mixing: same 16-bit md5 bucket rule as t7, salted with
    // '#mix' so the sampling decision is independent of the split;
    // thresholds are exact 1/65536ths (32768 = .5, 16384 = .25, 49152 = .75)
    "t12_corpus_mix" ->
      """WITH h AS (SELECT doc_id, source,
        |             md5(CAST(doc_id AS VARCHAR) || '#mix') AS m FROM documents),
        |b AS (SELECT doc_id, source,
        |        ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) AS bucket
        |      FROM h),
        |c AS (SELECT doc_id, source,
        |  CASE WHEN source = 'src0' THEN 2
        |       WHEN source = 'src1' THEN 1 + (CASE WHEN bucket < 32768 THEN 1 ELSE 0 END)
        |       WHEN source = 'src2' THEN (CASE WHEN bucket < 16384 THEN 1 ELSE 0 END)
        |       ELSE (CASE WHEN bucket < 49152 THEN 1 ELSE 0 END) END AS copies
        |  FROM b)
        |SELECT doc_id, source, CAST(t.copy_idx AS BIGINT) AS copy_idx
        |FROM c, unnest(range(copies)) AS t(copy_idx) WHERE copies > 0""".stripMargin,

    // token-offset sharding: the oracle IS the naive global window the
    // Spark side deliberately avoids — bit-identical by construction
    "t13_token_shards" ->
      """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        |           FROM documents),
        |o AS (SELECT doc_id, n_tokens,
        |        CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |          AS tok_offset
        |      FROM t)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, tok_offset,
        |  tok_offset // 2048 AS seq_id,
        |  CASE WHEN n_tokens = 0 THEN 0
        |       ELSE ((tok_offset + n_tokens - 1) // 2048)
        |          - (tok_offset // 2048) + 1 END AS n_seqs
        |FROM o""".stripMargin,

    // t17 mirrors DataSplit.shuffledShards: same salted md5 (salt
    // appended to the id's decimal string), same 4-hex-char bucket mod
    // nShards (the strpos expansion is the engine-portable hex→int, t7
    // precedent), same (md5, id) within-shard ordering.
    "t17_shuffled_shards" ->
      """WITH h AS (SELECT doc_id,
        |             md5(CAST(doc_id AS VARCHAR) || '#shard') AS m
        |           FROM documents),
        |b AS (SELECT doc_id, m,
        |        CAST(((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |            + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |            + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |            + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) % 8
        |          AS INT) AS shard
        |      FROM h)
        |SELECT doc_id, shard,
        |       CAST(row_number() OVER (PARTITION BY shard ORDER BY m, doc_id)
        |            AS INT) AS pos
        |FROM b""".stripMargin,

    // the per-(sequence, doc) slice manifest over t13's offsets: lateral
    // range-unnest mirrors Spark's explode(sequence(...)); arithmetic is
    // exact integer token offsets
    "t14_seq_manifest" ->
      """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        |           FROM documents),
        |o AS (SELECT doc_id, n_tokens,
        |        CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |          AS tok_offset
        |      FROM t),
        |e AS (SELECT doc_id, n_tokens, tok_offset,
        |        tok_offset // 2048 AS s0,
        |        (tok_offset + n_tokens - 1) // 2048 AS s1
        |      FROM o WHERE n_tokens > 0)
        |SELECT CAST(u.s AS BIGINT) AS seq_id, doc_id,
        |  CAST(greatest(tok_offset, u.s * 2048) - u.s * 2048 AS BIGINT) AS seq_start,
        |  CAST(least(tok_offset + n_tokens, (u.s + 1) * 2048)
        |       - greatest(tok_offset, u.s * 2048) AS BIGINT) AS n_tok
        |FROM e, unnest(range(s0, s1 + 1)) AS u(s)""".stripMargin,

    // sub-document boilerplate removal: 8-word segments in >2 docs drop,
    // survivors reassemble in original order
    "x12_segment_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |seg AS (SELECT doc_id, i AS pos, array_to_string(w[i:i+7], ' ') AS s
        |        FROM w, unnest(range(1, len(w) + 1, 8)) AS t(i)),
        |keep AS (SELECT s FROM (SELECT DISTINCT doc_id, s FROM seg)
        |         GROUP BY s HAVING count(*) <= 2),
        |kept AS (SELECT seg.doc_id, seg.pos, seg.s FROM seg JOIN keep USING (s)),
        |re AS (SELECT doc_id, string_agg(s, ' ' ORDER BY pos) AS clean_text
        |       FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(re.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN re USING (doc_id)""".stripMargin,

    // span-removal substring dedup: overlapping 8-token windows shared
    // by ≥2 docs excise every covered token; coverage tested per token
    // position so overlapping hits merge into spans
    "x13_span_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |win AS (SELECT doc_id, i AS s, array_to_string(w[i:i+7], ' ') AS wd
        |        FROM w, unnest(range(1, len(w) - 6)) AS t(i) WHERE len(w) >= 8),
        |dup AS (SELECT wd FROM (SELECT DISTINCT doc_id, wd FROM win)
        |        GROUP BY wd HAVING count(*) > 1),
        |ds AS (SELECT win.doc_id, win.s FROM win JOIN dup USING (wd)),
        |tok AS (SELECT doc_id, w[t.pos] AS tok, t.pos AS pos
        |        FROM w, unnest(range(1, len(w) + 1)) AS t(pos)),
        |kept AS (SELECT tok.* FROM tok WHERE NOT EXISTS (
        |           SELECT 1 FROM ds WHERE ds.doc_id = tok.doc_id
        |             AND tok.pos BETWEEN ds.s AND ds.s + 7)),
        |re AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
        |       FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(re.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN re USING (doc_id)""".stripMargin,

    // round-6 composite: keep-first dedup → span dedup → repetition
    // gate; CTEs mirror the x2/x13/t11 oracles stage by stage, and the
    // thresholds are integer arithmetic (top word ≤ 1/5 of tokens,
    // duplicated-bigram mass ≤ 3/10 of bigrams)
    "x14_clean_corpus_v2" ->
      """WITH dd AS (
        |  SELECT doc_id, source, text FROM (
        |    SELECT doc_id, source, text,
        |           row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |    FROM documents) WHERE rn = 1),
        |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM dd),
        |win AS (SELECT doc_id, i AS s, array_to_string(w[i:i+7], ' ') AS wd
        |        FROM w, unnest(range(1, len(w) - 6)) AS t(i) WHERE len(w) >= 8),
        |dup AS (SELECT wd FROM (SELECT DISTINCT doc_id, wd FROM win)
        |        GROUP BY wd HAVING count(*) > 1),
        |ds AS (SELECT win.doc_id, win.s FROM win JOIN dup USING (wd)),
        |tok AS (SELECT doc_id, w[t.pos] AS tok, t.pos AS pos
        |        FROM w, unnest(range(1, len(w) + 1)) AS t(pos)),
        |kept AS (SELECT tok.* FROM tok WHERE NOT EXISTS (
        |           SELECT 1 FROM ds WHERE ds.doc_id = tok.doc_id
        |             AND tok.pos BETWEEN ds.s AND ds.s + 7)),
        |re AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
        |       FROM kept GROUP BY doc_id),
        |cw AS (SELECT dd.doc_id, dd.source,
        |         string_split(COALESCE(re.clean_text, ''), ' ') AS w
        |       FROM dd LEFT JOIN re USING (doc_id)),
        |ucnt AS (SELECT doc_id, tok, count(*) AS c
        |         FROM (SELECT doc_id, unnest(w) AS tok FROM cw) GROUP BY 1, 2),
        |ustat AS (SELECT doc_id, max(c) AS top_word_n, sum(c) AS n_words
        |          FROM ucnt GROUP BY 1),
        |bi AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bg
        |       FROM cw, unnest(range(1, len(w))) AS r(i) WHERE len(w) >= 2),
        |bcnt AS (SELECT doc_id, bg, count(*) AS c FROM bi GROUP BY 1, 2),
        |bstat AS (SELECT doc_id,
        |                 sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_bigram_n,
        |                 sum(c) AS n_bigrams FROM bcnt GROUP BY 1)
        |SELECT cw.doc_id, cw.source, CAST(n_words AS BIGINT) AS n_words
        |FROM cw JOIN ustat USING (doc_id) LEFT JOIN bstat USING (doc_id)
        |WHERE n_words >= 5 AND top_word_n * 5 <= n_words
        |  AND COALESCE(dup_bigram_n, 0) * 10 <= COALESCE(n_bigrams, 0) * 3""".stripMargin,

    "t9_redact_pii" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
        |      'https?://[^\s]+', '<URL>', 'g'),
        |    '[0-9][0-9 ()+.-]{6,}[0-9]', '<NUMBER>', 'g') AS redacted
        |FROM documents""".stripMargin,

    "t8_top_ngrams" ->
      """WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS ngram
        |      FROM t WHERE len(w) >= 2)
        |SELECT ngram, count(*) AS n FROM b
        |GROUP BY ngram ORDER BY n DESC, ngram ASC LIMIT 20""".stripMargin,

    "t1_token_stats" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
        |  length(text) AS n_chars_calc
        |FROM documents""".stripMargin,

    "t2_quality_signals" ->
      """WITH sig AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    len(list_filter(string_split(text, ' '),
        |        x -> x IN ('the','a','of','and','in','to','is','it','for','on'))) AS n_stop,
        |    length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS n_punct,
        |    length(text) AS len
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |  CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / n_tokens END AS stopword_ratio,
        |  CASE WHEN len = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / len END AS punct_ratio,
        |  CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(len - n_tokens + 1 AS DOUBLE) / n_tokens END AS mean_token_len,
        |  (least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
        |   + least((CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / n_tokens END) * 5.0, 1.0) * 0.3
        |   + (1.0 - least((CASE WHEN len = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / len END) * 10.0, 1.0)) * 0.3) AS quality
        |FROM sig""".stripMargin,

    "t3_lang_id" ->
      """WITH sc AS (
        |  SELECT doc_id, text, string_split(lower(text), ' ') AS toks FROM documents),
        |v AS (
        |  SELECT doc_id, text,
        |    len(list_filter(toks, x -> x IN ('the','and','of','to','in','is','that','it','for','was'))) AS s_en,
        |    len(list_filter(toks, x -> x IN ('el','la','de','que','los','las','una','por','con','para'))) AS s_es,
        |    len(list_filter(toks, x -> x IN ('der','die','und','das','ist','nicht','ein','mit','sich','auf'))) AS s_de,
        |    len(list_filter(toks, x -> x IN ('le','la','les','et','des','est','une','dans','pour','que'))) AS s_fr
        |  FROM sc)
        |SELECT doc_id,
        |  CASE WHEN length(text) > 0
        |            AND CAST(length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS DOUBLE)
        |                / length(text) > 0.3 THEN 'zh'
        |       WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
        |       WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
        |       WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
        |       WHEN s_fr = greatest(s_en, s_es, s_de, s_fr) THEN 'fr' END AS lang_pred
        |FROM v""".stripMargin,

    "v1_cosine_topk" -> cosineTopkOracle,
    // distance-2 multiprobe over 16 tables: per-neighbor miss ~4e-10
    // even at cos≈0 — the ANN result is rank-exact on this data, so the
    // exact top-k SQL is the oracle (recall measured in SimilaritySpec).
    "v2_ann_lsh_topk" -> cosineTopkOracle,
    // int8 quantization error ≤ maxAbs/254 per element; the exact
    // re-rank of a 4× over-fetch makes the result rank-identical to the
    // full-precision top-k (ExtSpec pins v4 ≡ v1), so v1's SQL applies.
    "v4_ann_quantized_topk" -> cosineTopkOracle,
    // metadata-filtered search: v1's exact SQL with the corpus-side
    // label predicate
    "v5_filtered_ann" ->
      """SELECT query_id, neighbor_id, rk FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         row_number() OVER (
        |           PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                           CAST(c.embedding AS DOUBLE[])) DESC,
        |                    c.vec_id ASC) AS rk
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id < 10 AND q.vec_id <> c.vec_id AND c.label < 5) t
        |WHERE rk <= 5""".stripMargin,

    "t15_vocabulary" ->
      """SELECT word, count(*) AS n, count(DISTINCT doc_id) AS df
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |      FROM documents)
        |GROUP BY word HAVING count(*) >= 3""".stripMargin,

    // t33: the oracle recomputes the exact heavy-token set (integer
    // cnt·100 ≥ N) and pins both Misra-Gries guarantees TRUE — the
    // sketch side is engine-specific state, its CONTRACT is not
    "t33_heavy_hitters" -> t33HeavyHittersOracle,

    // s21 = t33 with the documents STREAMED into the summary: both
    // pinned guarantees are merge-order-independent (Misra-Gries
    // mergeability), so one SQL covers batch and stream — the s20
    // pattern, completing the streaming twin for all three sketches
    "s21_stream_heavy_hitters" -> t33HeavyHittersOracle,
    // t35: q-digest per-source quantiles — the oracle recomputes n and
    // the rank-definition exact quantile (integer arithmetic) and pins
    // the order-independent ε·n rank bound TRUE; the estimate itself
    // is merge-tree state and never emitted (t33's discipline)
    "t35_quantile_sketch" -> t35QuantileOracle,

    // s20 = t35 with the documents STREAMED into the digest: the digest
    // contents depend on the micro-batch merge tree, but every emitted
    // fact (exact n, exact quantile, the ε·n bound) is merge-order-
    // independent — one SQL covers batch and stream (the s16 = v9
    // pattern, with a bound where bit-equality is not promised)
    "s20_stream_quantile_sketch" -> t35QuantileOracle,

    // t36: the day→week digest rollup — t35's fact form over event
    // cents per week; the merged-digest estimate is merge-tree state,
    // the pinned bound and the exact side are not. Clamp bound
    // interpolated from QDigest.RollupM (the one definition site).
    "t36_quantile_rollup" ->
      s"""WITH v AS (SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
        |                  least(greatest(CAST(round(value * 100) AS BIGINT),
        |                                 0), ${(1L << graft.functions.QDigest.RollupM) - 1}) AS v
        |           FROM events),
        |cum AS (SELECT week, v,
        |               sum(count(*)) OVER (PARTITION BY week
        |                                   ORDER BY v) AS cum
        |        FROM v GROUP BY week, v),
        |n AS (SELECT week, count(*) AS n FROM v GROUP BY week),
        |phis(phi_pct) AS (VALUES (10), (50), (90), (99)),
        |tgt AS (SELECT week, phi_pct, n,
        |               (n * phi_pct + 99) // 100 AS target
        |        FROM n CROSS JOIN phis)
        |SELECT t.week, t.phi_pct, t.n, min(c.v) AS exact_q,
        |       TRUE AS sketch_ok
        |FROM tgt t JOIN cum c ON c.week = t.week AND c.cum >= t.target
        |GROUP BY t.week, t.phi_pct, t.n""".stripMargin,

    // v3_ann_ivf_topk has no SQL oracle: probe membership depends on
    // the trained coarse quantizer, which SQL can't recompute. ExtSpec
    // pins the defining IVF property instead — exact top-k within the
    // probed lists, plus a recall floor vs brute force.

    // Driver-checkable BOUNDS for the three engine-specific queries
    // (g16 HLL, t4 fingerprints, v3 IVF): the oracle recomputes the
    // exact/structural side and pins the ok-flag TRUE, so a value
    // drifting out of its contract hash-fails the row even though the
    // engine-specific value itself is not SQL-expressible.
    "g16b_hll_bounded" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
        |       TRUE AS hll_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    // g32: persisted daily HLL sketches merged per week — the oracle
    // recomputes the exact weekly cardinality and pins both sketch
    // contracts (estimate-in-band, merge-agrees-with-direct) TRUE
    "g32_sketch_rollup" ->
      """SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |       TRUE AS hll_ok, TRUE AS merge_ok
        |FROM events GROUP BY 1""".stripMargin,
    // g36 (and s22 verbatim — bottom-k sketches are EXACTLY merge-order
    // independent, so the streamed run is bit-identical to batch): the
    // oracle recomputes every pairwise exact cardinality (distinct
    // (seg, user) self-join, ALL ordered pairs via the left join so a
    // zero-overlap pair cannot desynchronize row sets) and pins the
    // three 10σ sketch contracts TRUE; the estimates themselves are
    // engine-internal (the t33/t35 discipline)
    "g36_theta_segments" -> thetaSegmentsOracle,
    "s22_stream_theta_segments" -> thetaSegmentsOracle,
    // g37: persisted daily bottom-k sketches merged per week, adjacent
    // weeks INTERSECTED — the retention question the HLL rollup cannot
    // answer; oracle recomputes exact returning users per adjacent
    // week pair and pins the 10σ contract TRUE
    "g37_theta_retention" ->
      """WITH w AS (SELECT DISTINCT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
        |                  user_id
        |           FROM events),
        |wk AS (SELECT week, lead(week) OVER (ORDER BY week) AS next_week
        |       FROM (SELECT DISTINCT week FROM w)),
        |r AS (SELECT a.week AS wa, b.week AS wb, count(*) AS ret
        |      FROM w a JOIN w b ON a.user_id = b.user_id
        |      GROUP BY 1, 2)
        |SELECT wk.week, wk.next_week,
        |       CAST(COALESCE(r.ret, 0) AS BIGINT) AS exact_returning,
        |       TRUE AS returning_ok
        |FROM wk LEFT JOIN r ON r.wa = wk.week AND r.wb = wk.next_week
        |WHERE wk.next_week IS NOT NULL""".stripMargin,

    // g38: the sketch store SERVED FOR REAL — same exact facts as g37
    // (the serve must answer identically whether the daily rows were
    // persisted or computed in-query), plus the stored-day count and
    // the bit-identity pin (bottomK is a pure set function, so parquet
    // round trip + incremental append change nothing)
    "g38_sketch_store_serve" -> thetaStoreOracle,
    // s23: the same store filled BY STREAM (delta drain + day-close
    // appends) — bottom-k sketches are exactly merge-order
    // independent, so the streamed store is bit-identical to the batch
    // build and g38's oracle covers the run verbatim (the s22 = g36
    // pattern extended to the persisted store)
    "s23_stream_sketch_store" -> thetaStoreOracle,

    // g40: the store's retention-horizon + as-of lifecycle verbs —
    // exact day arithmetic (total, post-horizon count, the median
    // horizon day itself) recomputed in SQL; the only-removes-never-
    // rewrites and pre-retention-sees-all claims are the pinned TRUEs
    "g40_sketch_store_retention" ->
      """WITH dd AS (SELECT DISTINCT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
        |            FROM events),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS days_total FROM dd),
        |h AS (SELECT day AS horizon_day
        |      FROM (SELECT day, row_number() OVER (ORDER BY day) AS rn FROM dd)
        |      WHERE rn = (SELECT days_total // 2 + 1 FROM n))
        |SELECT n.days_total,
        |       (SELECT CAST(count(*) AS BIGINT) FROM dd
        |        WHERE day >= (SELECT horizon_day FROM h)) AS days_after_retention,
        |       (SELECT horizon_day FROM h) AS horizon_day,
        |       TRUE AS survivors_identical,
        |       TRUE AS asof_sees_all
        |FROM n""".stripMargin,

    // g39: the HLL rollup routed through the persisted store — g32's
    // exact facts and contract pins, plus the stored-day count and the
    // store-equals-in-query estimate pin (registers round-trip parquet
    // bit-identically; HLL union is a per-register max, so merge order
    // cannot move the estimate)
    "g39_hll_store_serve" ->
      """WITH d AS (SELECT CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n
        |           FROM events)
        |SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |       TRUE AS hll_ok, TRUE AS merge_ok,
        |       (SELECT n FROM d) AS n_days_stored,
        |       TRUE AS store_matches_inquery
        |FROM events GROUP BY 1""".stripMargin,

    // t37: the q-digest rollup routed through the persisted store —
    // t36's exact facts and ε·n bound pin (the bound holds under ANY
    // merge tree, including the store round trip), plus the stored-day
    // count
    "t37_qdigest_store_serve" ->
      s"""WITH v AS (SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
        |                  least(greatest(CAST(round(value * 100) AS BIGINT),
        |                                 0), ${(1L << graft.functions.QDigest.RollupM) - 1}) AS v
        |           FROM events),
        |cum AS (SELECT week, v,
        |               sum(count(*)) OVER (PARTITION BY week
        |                                   ORDER BY v) AS cum
        |        FROM v GROUP BY week, v),
        |n AS (SELECT week, count(*) AS n FROM v GROUP BY week),
        |phis(phi_pct) AS (VALUES (10), (50), (90), (99)),
        |tgt AS (SELECT week, phi_pct, n,
        |               (n * phi_pct + 99) // 100 AS target
        |        FROM n CROSS JOIN phis),
        |d AS (SELECT CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS nd
        |      FROM events)
        |SELECT t.week, t.phi_pct, t.n, min(c.v) AS exact_q,
        |       TRUE AS sketch_ok,
        |       (SELECT nd FROM d) AS n_days_stored
        |FROM tgt t JOIN cum c ON c.week = t.week AND c.cum >= t.target
        |GROUP BY t.week, t.phi_pct, t.n""".stripMargin,

    "t4b_fingerprint_bounded" ->
      """SELECT COUNT(*) AS n_docs, COUNT(DISTINCT text) AS n_distinct_text,
        |       TRUE AS fp_ok
        |FROM documents""".stripMargin,
    "v3b_ivf_recall_bounded" ->
      """SELECT vec_id AS query_id, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    // v12: the persisted index must answer exactly like the in-memory
    // build (shared probe/re-rank code + bit-exact parquet round trip)
    // — the oracle pins the identity flag and the query-batch size
    "v12_ivf_index_persist" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS identical
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    // v18: index APPEND maintenance — build on the standing split,
    // append the batch under the stored quantizer, serve; must equal a
    // same-centroid rebuild over the union (assignment is per-row
    // independent, so the identity is exact). Facts: query-batch size
    // + the identity flag, v12's form.
    "v18_ivf_index_append" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS identical
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    // v26: index AS-OF serve — every maintenance verb is one monotonic
    // manifest commit, so a serve pinned at a retained seq sees exactly
    // the index as of that commit: serve@seq0 ≡ the pre-append result
    // and serve@seq1 ≡ the pre-delete result, both exact set equalities
    // probed by the engine. Facts: query-batch size + the two pins.
    "v26_ivf_index_asof" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |       TRUE AS pinned_pre_append, TRUE AS future_delete_invisible
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    // v27: the IVF autopilot's composition-length fold trigger —
    // x35's layout constants on the vector family (2 vs 4 committed
    // appends against bound 3; nothing deleted, imbalance threshold
    // 1,000,000µ = arithmetic-unreachable, so the whole table is
    // literals).
    "v27_ivf_index_fold" ->
      """SELECT 'under' AS leg, FALSE AS compacted, FALSE AS retrained,
        |       CAST(2 AS BIGINT) AS batches_before,
        |       CAST(2 AS BIGINT) AS batches_after,
        |       CAST(0 AS BIGINT) AS gen_after,
        |       CAST(0 AS BIGINT) AS n_tombstones_after,
        |       TRUE AS serve_identical
        |UNION ALL SELECT 'over', TRUE, FALSE, 4, 0, 1, 0, TRUE""".stripMargin,

    // v19: index DELETE maintenance — tombstoned serve and
    // compacted serve must both equal a same-centroid rebuild over
    // standing∖deleted (candidates are struck pre-top-k, so freed
    // slots refill; compaction preserves survivors row-for-row).
    // Facts: query-batch size + the identity flag, v12's form.
    "v19_ivf_index_delete" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS identical
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    // v23: index RETRAIN maintenance — the retrained serve must equal
    // a fresh deterministic build at the new nList over the survivors
    // (identical survivor multiset, deterministic seed draw + Lloyd).
    // Facts: query-batch size, the flipped manifest's stored nList
    // (12 by the verb's argument), the identity flag.
    "v23_ivf_index_retrain" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |       CAST(12 AS BIGINT) AS n_list_after,
        |       TRUE AS identical
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    // x31: the describe report's facts are all deterministic — fresh
    // builds have one composition entry per frame PLUS the one
    // manifest-committed tombstone batch the delete spliced in
    // (appends/deletes grow the composition by one entry per commit,
    // consolidated back at compaction), fp/minhash layouts stamp
    // schemaVersion 1, and the tombstone backlog is exactly the
    // doomed md5-bucket range's row count, recomputed here
    "x31_index_describe" ->
      """WITH bd AS (SELECT ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) AS bucket
        |      FROM (SELECT md5(CAST(doc_id AS VARCHAR)) AS m FROM documents)),
        |bv AS (SELECT ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) AS bucket
        |      FROM (SELECT md5(CAST(vec_id AS VARCHAR)) AS m FROM embeddings))
        |SELECT 'minhash' AS leg, 'graft-minhash-index' AS format,
        |  CAST(1 AS BIGINT) AS schema_version, CAST(0 AS BIGINT) AS gen,
        |  CAST(4 AS BIGINT) AS n_frames, CAST(5 AS BIGINT) AS n_entries,
        |  (SELECT count(*) FROM bd WHERE bucket >= 58982) AS n_tombstones,
        |  TRUE AS lease_free, CAST(0 AS BIGINT) AS n_retired
        |UNION ALL
        |SELECT 'ivf', 'graft-ivf-index',
        |  CAST(1 AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(3 AS BIGINT), CAST(4 AS BIGINT),
        |  (SELECT count(*) FROM bv WHERE bucket >= 58982),
        |  TRUE, CAST(0 AS BIGINT)""".stripMargin,

    // x32: the autopilot's three legs are decided BY CONSTRUCTION
    // (idle: exact sizing-rule build, nothing deleted; backlog: ~25%
    // backlog vs the 10% policy; outgrown: desired ≥ 2× stored) — the
    // oracle recomputes the sizing rule over the exact corpus/survivor
    // counts and states the decisions and flip counts as facts
    "x32_index_autopilot" ->
      """WITH b AS (SELECT ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) AS bucket
        |      FROM (SELECT md5(CAST(doc_id AS VARCHAR)) AS m FROM documents)),
        |tot AS (SELECT count(*) AS n FROM b),
        |liv AS (SELECT count(*) AS n FROM b WHERE bucket < 52428)
        |SELECT 'idle' AS leg, FALSE AS compacted, FALSE AS rebucketed,
        |  (SELECT (n + 49) // 50 FROM tot) AS buckets_after,
        |  CAST(0 AS BIGINT) AS gen_after,
        |  CAST(0 AS BIGINT) AS n_tombstones_after
        |UNION ALL
        |SELECT 'backlog', TRUE, FALSE,
        |  (SELECT (n + 49) // 50 FROM tot),
        |  CAST(1 AS BIGINT), CAST(0 AS BIGINT)
        |UNION ALL
        |SELECT 'outgrown', FALSE, TRUE,
        |  (SELECT (n + 49) // 50 FROM liv),
        |  CAST(1 AS BIGINT), CAST(0 AS BIGINT)""".stripMargin,

    // v25: x32's backlog policy on the vector index — decisions by
    // construction (~25% backlog vs the 10% policy), survivor count
    // recomputed from the md5-bucket rule
    "v25_ivf_autopilot" ->
      """WITH b AS (SELECT ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) AS bucket
        |      FROM (SELECT md5(CAST(vec_id AS VARCHAR)) AS m FROM embeddings))
        |SELECT 'idle' AS leg, FALSE AS retrained, FALSE AS compacted,
        |  CAST(0 AS BIGINT) AS gen_after,
        |  CAST(0 AS BIGINT) AS n_tombstones_after,
        |  (SELECT count(*) FROM b) AS n_live_after
        |UNION ALL
        |SELECT 'backlog', FALSE, TRUE, CAST(1 AS BIGINT), CAST(0 AS BIGINT),
        |  (SELECT count(*) FROM b WHERE bucket < 52428)
        |UNION ALL
        |SELECT 'imbalanced', TRUE, FALSE, CAST(1 AS BIGINT), CAST(0 AS BIGINT),
        |  (SELECT count(*) FROM b WHERE bucket % 8 = 0)""".stripMargin,

    // v24: the drift gate's two legs are decided BY CONSTRUCTION
    // (measured TV 0.05–0.16 stable vs 0.87 collapsed against the 0.5
    // threshold — ≥ 0.3 margin on both sides at every SF), so the
    // oracle states the decisions as literal facts and recomputes the
    // post-verb corpus count: both legs index every embeddings row
    // (standing 80% + the gated 20% batch)
    "v24_ivf_drift_gate" ->
      """SELECT c.cse AS leg,
        |       (SELECT count(*) FROM embeddings) AS n_indexed,
        |       c.cse = 'drifted' AS retrained,
        |       CAST(CASE WHEN c.cse = 'drifted' THEN 12 ELSE 8 END
        |            AS BIGINT) AS n_list_after
        |FROM (VALUES ('stable'), ('drifted')) AS c(cse)""".stripMargin,

    // v8 (PQ ANN) is rows-only: the packed codes depend on trained
    // codebooks no SQL can recompute. ExtSpec pins the defining
    // property instead (exact top-k within the ADC candidate set,
    // mirrored driver-side bit-for-bit); v8b is the recall floor.
    "v8b_pq_recall_bounded" ->
      """SELECT vec_id AS query_id, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    // v14 (IVF-PQ) is rows-only like v8: trained coarse + residual
    // quantizers no SQL can recompute. v14b is its recall floor —
    // both approximations stacked must keep ≥2/5 true neighbors.
    "v14b_ivfpq_recall_bounded" ->
      """SELECT vec_id AS query_id, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    // v6: the exact kNN graph is v1's SQL with the corpus as its own
    // query set. v7 (clustered) is engine-specific → rows-only; v7b is
    // its self-certified recall bound, v3b-style.
    "v6_knn_graph" ->
      """SELECT query_id, neighbor_id, rk FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         row_number() OVER (
        |           PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                           CAST(c.embedding AS DOUBLE[])) DESC,
        |                    c.vec_id ASC) AS rk
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id) t
        |WHERE rk <= 3""".stripMargin,

    "v7b_knn_recall_bounded" ->
      """SELECT TRUE AS recall_ok""".stripMargin,

    "e1_categorize" ->
      """SELECT event_id,
        |  CASE WHEN event_type IN ('view','impression') THEN 'ViewDuration'
        |       WHEN event_type IN ('click','tap') THEN 'ClickDuration'
        |       WHEN event_type = 'purchase' THEN 'PurchaseDuration'
        |       WHEN event_type = 'signup' THEN 'SignupDuration'
        |       ELSE 'Error' END AS Type
        |FROM events""".stripMargin,

    "p3p4_valid_rows" ->
      """SELECT event_id, user_id,
        |  CASE WHEN event_type IN ('view','impression') THEN 'ViewDuration'
        |       WHEN event_type IN ('click','tap') THEN 'ClickDuration'
        |       WHEN event_type = 'purchase' THEN 'PurchaseDuration'
        |       WHEN event_type = 'signup' THEN 'SignupDuration'
        |       ELSE 'Error' END AS Type
        |FROM events
        |WHERE user_id <> 0
        |  AND (CASE WHEN event_type IN ('view','impression') THEN 'ViewDuration'
        |            WHEN event_type IN ('click','tap') THEN 'ClickDuration'
        |            WHEN event_type = 'purchase' THEN 'PurchaseDuration'
        |            WHEN event_type = 'signup' THEN 'SignupDuration'
        |            ELSE 'Error' END) <> 'Error'""".stripMargin,

    "a1_duration_by_category" ->
      s"""$baseCte
         |SELECT user_id, Type, CAST(SUM(value_cents) AS BIGINT) AS value_cents
         |FROM base
         |WHERE user_id <> 0 AND Type <> 'Error'
         |GROUP BY user_id, Type""".stripMargin,

    "a2_devices_faithful" ->
      """SELECT user_id, count(*) AS TotalDevices FROM events GROUP BY user_id""",

    "a2_devices_distinct" ->
      """SELECT user_id, count(DISTINCT props) AS TotalDevices FROM events GROUP BY user_id""",

    "a3_pivot_durations" ->
      s"""$baseCte
         |SELECT user_id,
         |$pivotCols
         |FROM base
         |WHERE user_id <> 0 AND Type <> 'Error'
         |GROUP BY user_id""".stripMargin,

    // g29: the unpivoted zero-filled pivot IS a1's aggregation
    // completed onto the full user × category grid with explicit zeros
    "g29_unpivot" ->
      s"""$baseCte,
         |a1 AS (SELECT user_id, Type, CAST(SUM(value_cents) AS BIGINT) AS v
         |       FROM base WHERE user_id <> 0 AND Type <> 'Error'
         |       GROUP BY user_id, Type),
         |grid AS (SELECT u.user_id, t.Type
         |         FROM (SELECT DISTINCT user_id FROM a1) u
         |         CROSS JOIN (VALUES ('ClickDuration'), ('PurchaseDuration'),
         |                            ('SignupDuration'), ('ViewDuration')) t(Type))
         |SELECT g.user_id, g.Type, CAST(COALESCE(a1.v, 0) AS BIGINT) AS value_cents
         |FROM grid g LEFT JOIN a1 ON g.user_id = a1.user_id AND g.Type = a1.Type""".stripMargin,

    "flagship_profile" -> flagshipOracle,
    "flagship_profile_fast" -> flagshipOracle,
    // incremental (state-merge) and streaming (state-store) forms must be
    // indistinguishable from the batch recompute — one oracle, three plans
    "flagship_profile_incremental" -> flagshipOracle,
    "s7_stream_profile" -> flagshipOracle,
    // stateless ingest gate: identical to the batch quality filter
    "s8_stream_quality_gate" ->
      """WITH sig AS (
        |  SELECT doc_id, source,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    len(list_filter(string_split(text, ' '),
        |        x -> x IN ('the','a','of','and','in','to','is','it','for','on'))) AS n_stop,
        |    length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS n_punct,
        |    length(text) AS len
        |  FROM documents)
        |SELECT doc_id, source, n_tokens, quality FROM (
        |  SELECT doc_id, source, n_tokens,
        |    (least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
        |     + least((CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / n_tokens END) * 5.0, 1.0) * 0.3
        |     + (1.0 - least((CASE WHEN len = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / len END) * 10.0, 1.0)) * 0.3) AS quality
        |  FROM sig) q
        |WHERE quality >= 0.5""".stripMargin,

    // t18 reuses s8's quality CTE; the per-source median threshold is
    // exact linear-interpolated percentile in both engines (both
    // compute lo + (hi-lo)*frac over bit-identical doubles — same
    // precedent as g21).
    "t18_quality_gate_adaptive" ->
      """WITH sig AS (
        |  SELECT doc_id, source,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    len(list_filter(string_split(text, ' '),
        |        x -> x IN ('the','a','of','and','in','to','is','it','for','on'))) AS n_stop,
        |    length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS n_punct,
        |    length(text) AS len
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, source,
        |    (least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
        |     + least((CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / n_tokens END) * 5.0, 1.0) * 0.3
        |     + (1.0 - least((CASE WHEN len = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / len END) * 10.0, 1.0)) * 0.3) AS quality
        |  FROM sig),
        |thr AS (SELECT source, quantile_cont(quality, 0.5) AS q50
        |        FROM q GROUP BY source)
        |SELECT q.doc_id, q.source, q.quality
        |FROM q JOIN thr USING (source)
        |WHERE q.quality >= thr.q50""".stripMargin,

    // t19: all aggregates (N, Σdl, df_i) are exact integers; the BM25
    // doubles are per-row expressions spelled in the SAME left-to-right
    // association as the Spark expression tree, so both engines run the
    // identical IEEE operation sequence (ln's ≤1-ulp libm divergence is
    // 6 orders under the 1e-9 compare) — the same precedent as t2/t18.
    "t19_bm25" ->
      """WITH per_doc AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' ')) AS dl,
        |    len(list_filter(string_split(text, ' '), x -> x = 'spark')) AS tf0,
        |    len(list_filter(string_split(text, ' '), x -> x = 'vector')) AS tf1,
        |    len(list_filter(string_split(text, ' '), x -> x = 'stream')) AS tf2
        |  FROM documents),
        |stats AS (
        |  SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        |  FROM per_doc)
        |SELECT * FROM (
        |  SELECT doc_id, dl, tf0, tf1, tf2,
        |    ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df0 AS DOUBLE) + 0.5) / (CAST(df0 AS DOUBLE) + 0.5))
        |      * CAST(tf0 AS DOUBLE) * (1.2 + 1.0)
        |      / (CAST(tf0 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE)))
        |    + ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5))
        |      * CAST(tf1 AS DOUBLE) * (1.2 + 1.0)
        |      / (CAST(tf1 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE)))
        |    + ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df2 AS DOUBLE) + 0.5) / (CAST(df2 AS DOUBLE) + 0.5))
        |      * CAST(tf2 AS DOUBLE) * (1.2 + 1.0)
        |      / (CAST(tf2 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE)))
        |    AS bm25
        |  FROM per_doc, stats)
        |WHERE bm25 > 0""".stripMargin,

    // t20: LM-coverage quality filter — all cross-row aggregates are
    // exact integers (bigram counts / known masses); coverage and
    // familiarity are per-row finishing doubles spelled in the same IEEE
    // order as the Spark tree (t19's precedent)
    "t20_lm_coverage" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
        |db AS (SELECT doc_id, lang,
        |         unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS b
        |       FROM t WHERE len(w) >= 2),
        |lm AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM db
        |       WHERE lang = 'en' GROUP BY b HAVING count(*) >= 2),
        |agg AS (SELECT d.doc_id,
        |          CAST(count(*) AS BIGINT) AS n_bigrams,
        |          CAST(sum(CASE WHEN lm.c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_known,
        |          CAST(COALESCE(sum(lm.c), 0) AS BIGINT) AS known_mass
        |        FROM db d LEFT JOIN lm ON d.b = lm.b GROUP BY 1)
        |SELECT doc_id, n_bigrams, n_known, known_mass,
        |  CAST(n_known AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS coverage,
        |  ln(1.0 + CAST(known_mass AS DOUBLE) / CAST(n_bigrams AS DOUBLE)) AS familiarity,
        |  n_known * 5 >= n_bigrams * 3 AS keep
        |FROM agg""".stripMargin,

    // t31: the per-TYPE -ln p is rounded to integer micro-nats before
    // the per-doc sum, so the only cross-row double never exists —
    // engine-exact under any aggregation order (see LmQuality.bigramNll)
    "t31_bigram_nll" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 2),
        |pos AS (SELECT doc_id,
        |          unnest([substr(text, i, 2) for i in range(1, length(text))]) AS b
        |        FROM d),
        |model AS (SELECT b, CAST(count(*) AS BIGINT) AS cbg FROM pos GROUP BY 1),
        |pre AS (SELECT substr(b, 1, 1) AS p, CAST(sum(cbg) AS BIGINT) AS cpre
        |        FROM model GROUP BY 1),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM (
        |        SELECT substr(b, 1, 1) AS ch FROM model
        |        UNION SELECT substr(b, 2, 1) FROM model)),
        |u AS (SELECT m.b,
        |        CAST(round(ln((CAST(m.cbg AS DOUBLE) + 1.0) /
        |                      (CAST(pre.cpre AS DOUBLE) + CAST(v.v AS DOUBLE)))
        |                   * -1000000.0) AS BIGINT) AS unat
        |      FROM model m JOIN pre ON substr(m.b, 1, 1) = pre.p CROSS JOIN v),
        |s AS (SELECT pos.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |        CAST(sum(u.unat) AS BIGINT) AS nll_unats
        |      FROM pos JOIN u ON pos.b = u.b GROUP BY 1)
        |SELECT doc_id, n_bigrams, nll_unats,
        |  CAST(nll_unats AS DOUBLE) / (CAST(n_bigrams AS DOUBLE) * 1000000.0) AS nll
        |FROM s""".stripMargin,

    // t32: NB log-odds quality classifier — per-TYPE weights µnat-
    // rounded before the per-doc integer sum (t31's discipline);
    // types with total count < 2 are pruned and score the smoothed
    // unknown weight, so the oracle exercises the bounded-model path
    "t32_nb_quality" ->
      """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
        |             FROM documents),
        |m AS (SELECT t, CAST(count(*) AS BIGINT) AS c_all,
        |        CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_t
        |      FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_t,
        |          CAST(sum(c_all - c_t) AS BIGINT) AS n_o,
        |          CAST(count(*) AS BIGINT) AS v FROM m),
        |d AS (SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS d_t,
        |        CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS d_o
        |      FROM documents),
        |w AS (SELECT m.t,
        |        CAST(round(ln(((CAST(m.c_t AS DOUBLE) + 1.0) *
        |                       (CAST(tot.n_o AS DOUBLE) + CAST(tot.v AS DOUBLE))) /
        |                      ((CAST(m.c_all - m.c_t AS DOUBLE) + 1.0) *
        |                       (CAST(tot.n_t AS DOUBLE) + CAST(tot.v AS DOUBLE))))
        |                   * 1000000.0) AS BIGINT) AS w_unat
        |      FROM m CROSS JOIN tot WHERE m.c_all >= 2),
        |consts AS (SELECT
        |    CAST(round(ln((CAST(tot.n_o AS DOUBLE) + CAST(tot.v AS DOUBLE)) /
        |                  (CAST(tot.n_t AS DOUBLE) + CAST(tot.v AS DOUBLE)))
        |               * 1000000.0) AS BIGINT) AS w_unk,
        |    CAST(round(ln((CAST(d.d_t AS DOUBLE) + 1.0) /
        |                  (CAST(d.d_o AS DOUBLE) + 1.0))
        |               * 1000000.0) AS BIGINT) AS prior_unat
        |  FROM tot CROSS JOIN d),
        |s AS (SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |        CAST(consts.prior_unat + sum(coalesce(w.w_unat, consts.w_unk))
        |             AS BIGINT) AS logodds_unats
        |      FROM tok LEFT JOIN w ON tok.t = w.t CROSS JOIN consts
        |      GROUP BY tok.doc_id, consts.prior_unat)
        |SELECT doc_id, n_tokens, logodds_unats,
        |  CAST(logodds_unats AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1000000.0)
        |    AS mean_logodds,
        |  logodds_unats > 0 AS keep
        |FROM s""".stripMargin,

    // t21: DSIR importance selection — the feature id reproduces
    // DataSplit.bucket's md5-hex rule (t7's oracle arithmetic); the
    // ratio is one exactly-rounded division of exact integer masses, so
    // ORDER BY ratio is engine-portable; doc_id breaks all ties
    "t21_importance_ratio" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
        |db AS (SELECT doc_id, lang,
        |         unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS b
        |       FROM t WHERE len(w) >= 2),
        |f AS (SELECT doc_id, lang,
        |        ((strpos('0123456789abcdef', substr(md5(b), 1, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(md5(b), 2, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(md5(b), 3, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(md5(b), 4, 1)) - 1)) AS feat
        |      FROM db),
        |lm AS (SELECT feat, CAST(count(*) AS BIGINT) AS c_s,
        |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_t
        |       FROM f GROUP BY 1),
        |agg AS (SELECT f.doc_id,
        |          CAST(sum(lm.c_t) AS BIGINT) AS target_mass,
        |          CAST(sum(lm.c_s) AS BIGINT) AS source_mass
        |        FROM f JOIN lm USING (feat) GROUP BY 1)
        |SELECT doc_id, target_mass, source_mass,
        |  (CAST(target_mass AS DOUBLE) + 1.0) / (CAST(source_mass AS DOUBLE) + 1.0) AS ratio
        |FROM agg ORDER BY ratio DESC, doc_id ASC LIMIT 100""".stripMargin,

    // t22: RAG chunk grid — all-integer tiling (1 + ceil((n-64)/48)
    // chunks, integer ceil via (n-64+47)//48), so both engines compute
    // the identical grid; the chunk text is an exact token slice
    "t22_rag_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n,
        |        CASE WHEN len(w) <= 64 THEN CAST(1 AS BIGINT)
        |             ELSE (CAST(len(w) AS BIGINT) - 64 + 47) // 48 + 1 END AS nc
        |      FROM t),
        |e AS (SELECT doc_id, w, n, unnest(range(0, nc)) AS chunk_id FROM c)
        |SELECT doc_id, chunk_id, chunk_id * 48 AS start_tok,
        |  LEAST(64, n - chunk_id * 48) AS n_tok,
        |  array_to_string(w[chunk_id*48 + 1 : chunk_id*48 + LEAST(64, n - chunk_id*48)], ' ')
        |    AS chunk_text
        |FROM e""".stripMargin,

    // t23: positional inverted index — postings rendered in the same
    // canonical order both sides (doc ascending, positions ascending),
    // df/tf exact integers; the [2,500] band covers this corpus's whole
    // vocabulary so every posting list is oracle-checked
    "t23_inverted_index" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |p AS (SELECT doc_id,
        |        unnest([{'t': w[i], 'p': i - 1} for i in range(1, len(w) + 1)]) AS u
        |      FROM t),
        |tp AS (SELECT doc_id, u.t AS tok, CAST(u.p AS BIGINT) AS pos FROM p),
        |vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
        |          FROM (SELECT DISTINCT tok, doc_id FROM tp) GROUP BY tok
        |          HAVING count(*) BETWEEN 2 AND 500),
        |pd AS (SELECT tok, df, doc_id, CAST(count(*) AS BIGINT) AS cnt,
        |         string_agg(pos, '|' ORDER BY pos) AS pl
        |       FROM tp JOIN vocab USING (tok) GROUP BY 1, 2, 3)
        |SELECT tok, df, CAST(sum(cnt) AS BIGINT) AS tf,
        |  string_agg(doc_id || ':' || pl, ';' ORDER BY doc_id) AS postings
        |FROM pd GROUP BY 1, 2""".stripMargin,

    // t24: per-doc novelty — x3's shingle construction, integer
    // shared-shingle counts, one finishing double (1 − shared/total)
    // spelled in the Spark tree's IEEE order (division, subtraction)
    // t25: phrase search — the oracle re-derives the same top bigram
    // (count desc, w1, w2 total order) and scans for adjacent matches;
    // start is 0-based to match posexplode
    "t25_phrase_search" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT unnest([w[i] || ' ' || w[i+1]
        |                      for i in range(1, len(w))]) AS p FROM t),
        |top AS (SELECT p, string_split(p, ' ')[1] AS w1,
        |               string_split(p, ' ')[2] AS w2
        |        FROM bg GROUP BY p ORDER BY count(*) DESC, p LIMIT 1)
        |SELECT doc_id,
        |  CAST(unnest([i - 1 for i in range(1, len(w))
        |               if w[i] = w1 AND w[i+1] = w2]) AS BIGINT) AS start,
        |  p AS phrase
        |FROM t, top""".stripMargin,

    // t26: BPE pair statistics — pairs generated over the distinct-word
    // dictionary, weighted by word frequency; (count desc, pair asc) is
    // a total order so the top-50 cut is deterministic
    "t26_bpe_pairs" ->
      """WITH w AS (SELECT word, CAST(count(*) AS BIGINT) AS wn
        |           FROM (SELECT unnest(string_split(text, ' ')) AS word
        |                 FROM documents)
        |           GROUP BY word),
        |p AS (SELECT unnest([substr(word, i, 2)
        |                     for i in range(1, len(word))]) AS pair, wn
        |      FROM w)
        |SELECT pair, CAST(sum(wn) AS BIGINT) AS n
        |FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 50""".stripMargin,

    "t24_novelty" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                               for i in range(1, len(w) - 1)])) AS s
        |       FROM t WHERE len(w) >= 3),
        |dfs AS (SELECT s, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY s),
        |agg AS (SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |          CAST(sum(CASE WHEN dfs.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
        |        FROM sh JOIN dfs USING (s) GROUP BY 1)
        |SELECT doc_id, n_shingles, n_shared,
        |  1.0 - CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS novelty
        |FROM agg""".stripMargin,

    // x18: source-pair overlap — jaccardOracle's arithmetic with the
    // doc axis replaced by the source axis (distinct per source);
    // disjoint pairs drop out on both sides (inner-join semantics)
    "x18_source_overlap" ->
      """WITH t AS (SELECT source, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT source,
        |         unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                 for i in range(1, len(w) - 1)]) AS s
        |       FROM t WHERE len(w) >= 3),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.source AS src_a, b.source AS src_b,
        |            CAST(count(*) AS BIGINT) AS n_inter
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
        |          GROUP BY 1, 2)
        |SELECT src_a, src_b, x.n AS n_a, y.n AS n_b, n_inter,
        |  CAST(n_inter AS DOUBLE) / (x.n + y.n - n_inter) AS jaccard
        |FROM inter JOIN sz x ON src_a = x.source JOIN sz y ON src_b = y.source""".stripMargin,

    // v10: centroid outliers — the oracle rebuilds the whole pipeline
    // exactly because every aggregate is an integer: fixed-point
    // projection (floor(x·10⁴+0.5)), bottom-256-by-(salted bucket, id)
    // sample, elementwise BIGINT centroid sums, integer moments; the
    // one double expression (dot/(√na·√nb)) is IEEE-identical in both
    // engines. Dim fixed at 64 (the testdata embedding width).
    // The output sums MUST be CAST to BIGINT: DuckDB's sum(BIGINT)
    // returns HUGEINT (arrow decimal128), which hash-compares unequal
    // to Spark's int64 even when every value matches (the round-9
    // hash-fail: rows/schema matched, values matched to 9 digits,
    // types didn't).
    "v10_centroid_outliers" ->
      """WITH e AS (SELECT vec_id,
        |             [CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)
        |              for x in embedding] AS f
        |           FROM embeddings),
        |j AS (SELECT e.vec_id, d.source, e.f
        |      FROM e JOIN documents d ON e.vec_id = d.doc_id),
        |bk AS (SELECT vec_id, source, f,
        |         ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |        + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |        + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |        + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) AS bucket
        |       FROM (SELECT *, md5(CAST(vec_id AS VARCHAR) || '#cent') AS m FROM j)),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY source
        |                                    ORDER BY bucket, vec_id) AS r FROM bk),
        |cent AS (SELECT source, i, sum(f[i]) AS cs
        |         FROM rk, range(1, 65) t(i) WHERE r <= 256 GROUP BY 1, 2),
        |nbs AS (SELECT source, CAST(sum(cs * cs) AS BIGINT) AS nb FROM cent GROUP BY 1),
        |mom AS (SELECT j.vec_id, j.source,
        |          CAST(sum(j.f[c.i] * c.cs) AS BIGINT) AS dot,
        |          CAST(sum(j.f[c.i] * j.f[c.i]) AS BIGINT) AS na
        |        FROM j JOIN cent c ON j.source = c.source GROUP BY 1, 2)
        |SELECT m.vec_id, m.source, m.dot, m.na, nbs.nb,
        |  CASE WHEN m.na > 0 AND nbs.nb > 0
        |       THEN CAST(m.dot AS DOUBLE) /
        |            (sqrt(CAST(m.na AS DOUBLE)) * sqrt(CAST(nbs.nb AS DOUBLE)))
        |  END AS centroid_cos
        |FROM mom m JOIN nbs ON m.source = nbs.source""".stripMargin,

    // v11: v10's integer-centroid recipe per (source, snapshot side) —
    // '#cent' salt picks the 256-sample, '#snap' the x19 memberships;
    // the CAST-to-BIGINT on every sum is load-bearing (HUGEINT/decimal
    // would hash-mismatch Spark's int64, the round-9 v10 lesson)
    // v13: the iterative algorithm itself is the oracle target — see
    // kmeansOracle for the per-round determinism contract
    "v13_kmeans_lloyd" -> kmeansOracle(k = 8, iters = 2, dim = 64),

    // v15: cluster-balanced selection — the km CTE recomputes v13's
    // quantized-centroid assignment exactly; the per-cluster quota
    // ranks an integer (n_chars) with a doc_id tie-break, so the
    // top-10 per cluster is engine-exact
    "v15_cluster_balanced" -> (kmeansOracleCte(k = 8, iters = 2, dim = 64) +
      """
        |SELECT cluster, doc_id, n_chars, rk FROM (
        |  SELECT km.cluster, d.doc_id, d.n_chars,
        |         CAST(row_number() OVER (
        |           PARTITION BY km.cluster
        |           ORDER BY d.n_chars DESC, d.doc_id
        |         ) AS INT) AS rk
        |  FROM km JOIN documents d ON km.vec_id = d.doc_id)
        |WHERE rk <= 10""".stripMargin),

    // v16: the ENTIRE greedy MMR trajectory recomputed — fixed-point
    // integer sims (v10/v13 recipe: floor(10⁶·dot/(√na·√nb)+0.5) on
    // exact integer moments is one IEEE op sequence, bit-equal across
    // engines), candidates by (rel DESC, cid ASC), then a recursive CTE
    // replays the 7·rel−3·maxsim greedy with the same id tie-break
    // v17: v16's µ-cosine basis without the greedy stage — the
    // in-radius pair set and the µ-scores hash-compare directly
    "v17_range_search" ->
      """WITH fx AS (SELECT vec_id AS id,
        |         [CAST(floor(x * 10000.0 + 0.5) AS BIGINT)
        |          for x in CAST(embedding AS DOUBLE[])] AS f
        |       FROM embeddings),
        |nrm AS (SELECT id, f,
        |          list_sum([f[i+1] * f[i+1] for i in range(64)]) AS nn
        |        FROM fx)
        |SELECT query_id, neighbor_id, mu_cos FROM (
        |  SELECT q.id AS query_id, c.id AS neighbor_id,
        |    CAST(floor(1000000.0 *
        |      (CAST(list_sum([q.f[i+1] * c.f[i+1] for i in range(64)]) AS DOUBLE)
        |       / (sqrt(CAST(q.nn AS DOUBLE)) * sqrt(CAST(c.nn AS DOUBLE))))
        |      + 0.5) AS BIGINT) AS mu_cos
        |  FROM nrm q JOIN nrm c ON q.id < 10 AND q.id <> c.id) t
        |WHERE mu_cos >= 150000""".stripMargin,

    // g35: first-touch funnel — stage anchors chained on exact integer
    // microseconds, so membership and counts are engine-exact. g35b
    // (single-scan greedy fold) shares it: greedy chronological
    // advancement computes exactly the chained minima (any stage-k
    // witness implies the greedy sweep reaches k).
    "g35_funnel" -> funnelOracle,
    "g35b_funnel_single_scan" -> funnelOracle,

    // g34: all-integer retention matrix — distinct activity days,
    // min-day cohorts, exact distinct counts per (cohort, offset)
    "g34_retention_cohorts" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |                  strftime(ts, '%Y-%m-%d') AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY user_id)
        |SELECT c.cohort_day,
        |  CAST(date_diff('day', CAST(c.cohort_day AS DATE),
        |                 CAST(d.day AS DATE)) AS INT) AS k,
        |  CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_users
        |FROM d JOIN c ON d.user_id = c.user_id
        |GROUP BY 1, 2""".stripMargin,

    "v16_mmr_topk" ->
      """WITH RECURSIVE
        |fx AS (SELECT vec_id AS id,
        |         [CAST(floor(x * 10000.0 + 0.5) AS BIGINT)
        |          for x in CAST(embedding AS DOUBLE[])] AS f
        |       FROM embeddings),
        |nrm AS (SELECT id, f,
        |          list_sum([f[i+1] * f[i+1] for i in range(64)]) AS nn
        |        FROM fx),
        |rel0 AS (SELECT q.id AS qid, c.id AS cid,
        |           CAST(floor(1000000.0 *
        |             (CAST(list_sum([q.f[i+1] * c.f[i+1] for i in range(64)]) AS DOUBLE)
        |              / (sqrt(CAST(q.nn AS DOUBLE)) * sqrt(CAST(c.nn AS DOUBLE))))
        |             + 0.5) AS BIGINT) AS rel
        |         FROM nrm q JOIN nrm c ON q.id < 10 AND q.id <> c.id),
        |cand AS (SELECT qid, cid, rel,
        |           row_number() OVER (PARTITION BY qid
        |                              ORDER BY rel DESC, cid ASC) AS rk
        |         FROM rel0 QUALIFY rk <= 20),
        |psim AS (SELECT a.qid, a.cid AS ca, b.cid AS cb,
        |           CAST(floor(1000000.0 *
        |             (CAST(list_sum([x.f[i+1] * y.f[i+1] for i in range(64)]) AS DOUBLE)
        |              / (sqrt(CAST(x.nn AS DOUBLE)) * sqrt(CAST(y.nn AS DOUBLE))))
        |             + 0.5) AS BIGINT) AS sim
        |         FROM cand a JOIN cand b ON a.qid = b.qid AND a.cid <> b.cid
        |         JOIN nrm x ON x.id = a.cid JOIN nrm y ON y.id = b.cid),
        |rec AS (
        |  SELECT qid, [cid] AS picked, 1 AS step FROM cand WHERE rk = 1
        |  UNION ALL
        |  SELECT r.qid, list_append(r.picked, pick.cid), r.step + 1
        |  FROM rec r, LATERAL (
        |    SELECT c.cid
        |    FROM cand c
        |    WHERE c.qid = r.qid AND NOT list_contains(r.picked, c.cid)
        |    ORDER BY 7 * c.rel - 3 * (SELECT max(p.sim) FROM psim p
        |                              WHERE p.qid = r.qid AND p.ca = c.cid
        |                                AND list_contains(r.picked, p.cb)) DESC,
        |             c.cid ASC
        |    LIMIT 1) pick
        |  WHERE r.step < 5)
        |SELECT qid AS query_id, CAST(s + 1 AS BIGINT) AS step,
        |       picked[s + 1] AS pick_id
        |FROM rec, LATERAL (SELECT unnest(range(5)) AS s)
        |WHERE len(picked) = 5""".stripMargin,

    "v11_centroid_drift" ->
      """WITH e AS (SELECT vec_id,
        |             [CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)
        |              for x in embedding] AS f
        |           FROM embeddings),
        |j AS (SELECT e.vec_id, d.source, e.f
        |      FROM e JOIN documents d ON e.vec_id = d.doc_id),
        |bk AS (SELECT vec_id, source, f,
        |         ((strpos('0123456789abcdef', substr(cm, 1, 1)) - 1) * 4096
        |        + (strpos('0123456789abcdef', substr(cm, 2, 1)) - 1) * 256
        |        + (strpos('0123456789abcdef', substr(cm, 3, 1)) - 1) * 16
        |        + (strpos('0123456789abcdef', substr(cm, 4, 1)) - 1)) AS cbucket,
        |         ((strpos('0123456789abcdef', substr(sm, 1, 1)) - 1) * 4096
        |        + (strpos('0123456789abcdef', substr(sm, 2, 1)) - 1) * 256
        |        + (strpos('0123456789abcdef', substr(sm, 3, 1)) - 1) * 16
        |        + (strpos('0123456789abcdef', substr(sm, 4, 1)) - 1)) AS sbucket
        |       FROM (SELECT *, md5(CAST(vec_id AS VARCHAR) || '#cent') AS cm,
        |                       md5(CAST(vec_id AS VARCHAR) || '#snap') AS sm
        |             FROM j)),
        |rko AS (SELECT *, row_number() OVER (PARTITION BY source
        |                                     ORDER BY cbucket, vec_id) AS r
        |        FROM bk WHERE sbucket < 58982),
        |rkn AS (SELECT *, row_number() OVER (PARTITION BY source
        |                                     ORDER BY cbucket, vec_id) AS r
        |        FROM bk WHERE sbucket >= 6554),
        |co AS (SELECT source, i, CAST(sum(f[i]) AS BIGINT) AS cs
        |       FROM rko, range(1, 65) t(i) WHERE r <= 256 GROUP BY 1, 2),
        |cn AS (SELECT source, i, CAST(sum(f[i]) AS BIGINT) AS cs
        |       FROM rkn, range(1, 65) t(i) WHERE r <= 256 GROUP BY 1, 2),
        |m AS (SELECT co.source,
        |        CAST(sum(co.cs * cn.cs) AS BIGINT) AS dot,
        |        CAST(sum(co.cs * co.cs) AS BIGINT) AS na,
        |        CAST(sum(cn.cs * cn.cs) AS BIGINT) AS nb
        |      FROM co JOIN cn ON co.source = cn.source AND co.i = cn.i
        |      GROUP BY 1)
        |SELECT source, dot, na, nb,
        |  CASE WHEN na > 0 AND nb > 0
        |       THEN CAST(dot AS DOUBLE) /
        |            (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
        |  END AS drift_cos
        |FROM m""".stripMargin,

    // x20: corpus refresh — x19's snapshot CTEs + the s8 quality
    // expression + a distinct-text dup probe, composed into the
    // admit/reject decision table
    "x20_corpus_refresh" ->
      """WITH h AS (SELECT doc_id, text,
        |             md5(CAST(doc_id AS VARCHAR) || '#snap') AS m FROM documents),
        |b AS (SELECT doc_id, text,
        |        ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) AS bucket
        |      FROM h),
        |o AS (SELECT doc_id, text FROM b WHERE bucket < 58982),
        |n AS (SELECT doc_id,
        |        CASE WHEN bucket >= 26214 AND bucket < 32768
        |             THEN text || ' [recrawled]' ELSE text END AS text
        |      FROM b WHERE bucket >= 6554),
        |d AS (SELECT n.doc_id, n.text,
        |        CASE WHEN o.doc_id IS NULL THEN 'added'
        |             WHEN o.text <> n.text THEN 'changed' END AS status
        |      FROM n LEFT JOIN o ON n.doc_id = o.doc_id
        |      WHERE o.doc_id IS NULL OR o.text <> n.text),
        |q AS (SELECT doc_id, text, status,
        |        (least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) * 0.4
        |         + least((CASE WHEN len(string_split(text, ' ')) = 0 THEN 0.0
        |                  ELSE CAST(len(list_filter(string_split(text, ' '),
        |                       x -> x IN ('the','a','of','and','in','to','is','it','for','on'))) AS DOUBLE)
        |                     / len(string_split(text, ' ')) END) * 5.0, 1.0) * 0.3
        |         + (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0
        |                  ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
        |                     / length(text) END) * 10.0, 1.0)) * 0.3) AS quality
        |      FROM d),
        |od AS (SELECT DISTINCT text FROM o)
        |SELECT q.doc_id, q.status,
        |  CASE WHEN od.text IS NOT NULL THEN 'reject_dup'
        |       WHEN q.quality < 0.5 THEN 'reject_quality'
        |       WHEN q.status = 'added' THEN 'admit_new'
        |       ELSE 'admit_update' END AS action
        |FROM q LEFT JOIN od ON q.text = od.text""".stripMargin,

    // x22: next snapshot — x20's decision CTEs applied: surviving old
    // revisions (present, not superseded) ∪ admitted new revisions
    "x22_next_snapshot" ->
      """WITH h AS (SELECT doc_id, text,
        |             md5(CAST(doc_id AS VARCHAR) || '#snap') AS m FROM documents),
        |b AS (SELECT doc_id, text,
        |        ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) AS bucket
        |      FROM h),
        |o AS (SELECT doc_id, text FROM b WHERE bucket < 58982),
        |n AS (SELECT doc_id,
        |        CASE WHEN bucket >= 26214 AND bucket < 32768
        |             THEN text || ' [recrawled]' ELSE text END AS text
        |      FROM b WHERE bucket >= 6554),
        |d AS (SELECT n.doc_id, n.text,
        |        CASE WHEN o.doc_id IS NULL THEN 'added'
        |             WHEN o.text <> n.text THEN 'changed' END AS status
        |      FROM n LEFT JOIN o ON n.doc_id = o.doc_id
        |      WHERE o.doc_id IS NULL OR o.text <> n.text),
        |q AS (SELECT doc_id, text, status,
        |        (least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) * 0.4
        |         + least((CASE WHEN len(string_split(text, ' ')) = 0 THEN 0.0
        |                  ELSE CAST(len(list_filter(string_split(text, ' '),
        |                       x -> x IN ('the','a','of','and','in','to','is','it','for','on'))) AS DOUBLE)
        |                     / len(string_split(text, ' ')) END) * 5.0, 1.0) * 0.3
        |         + (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0
        |                  ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
        |                     / length(text) END) * 10.0, 1.0)) * 0.3) AS quality
        |      FROM d),
        |od AS (SELECT DISTINCT text FROM o),
        |acts AS (SELECT q.doc_id, q.text,
        |           CASE WHEN od.text IS NOT NULL THEN 'reject_dup'
        |                WHEN q.quality < 0.5 THEN 'reject_quality'
        |                WHEN q.status = 'added' THEN 'admit_new'
        |                ELSE 'admit_update' END AS action
        |         FROM q LEFT JOIN od ON q.text = od.text)
        |SELECT o.doc_id, o.text FROM o
        |WHERE o.doc_id IN (SELECT doc_id FROM n)
        |  AND o.doc_id NOT IN (SELECT doc_id FROM acts WHERE action = 'admit_update')
        |UNION ALL
        |SELECT doc_id, text FROM acts
        |WHERE action IN ('admit_new', 'admit_update')""".stripMargin,

    // x21: change magnitude — x19's snapshot CTEs, changed slice only;
    // per-doc 3-gram sets compared in place (list_filter/list_contains
    // — no shingle explosion), Jaccard as the one finishing double
    "x21_change_magnitude" ->
      """WITH h AS (SELECT doc_id, text,
        |             md5(CAST(doc_id AS VARCHAR) || '#snap') AS m FROM documents),
        |b AS (SELECT doc_id, text,
        |        ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) AS bucket
        |      FROM h),
        |o AS (SELECT doc_id, text FROM b WHERE bucket < 58982),
        |n AS (SELECT doc_id,
        |        CASE WHEN bucket >= 26214 AND bucket < 32768
        |             THEN text || ' [recrawled]' ELSE text END AS text
        |      FROM b WHERE bucket >= 6554),
        |ch AS (SELECT o.doc_id, string_split(o.text, ' ') AS wo,
        |              string_split(n.text, ' ') AS wn
        |       FROM o JOIN n ON o.doc_id = n.doc_id WHERE o.text <> n.text),
        |sh AS (SELECT doc_id,
        |         list_distinct([wo[i] || ' ' || wo[i+1] || ' ' || wo[i+2]
        |                        for i in range(1, len(wo) - 1)]) AS sa,
        |         list_distinct([wn[i] || ' ' || wn[i+1] || ' ' || wn[i+2]
        |                        for i in range(1, len(wn) - 1)]) AS sb
        |       FROM ch),
        |mom AS (SELECT doc_id, CAST(len(sa) AS BIGINT) AS n_old,
        |          CAST(len(sb) AS BIGINT) AS n_new,
        |          CAST(len(list_filter(sa, x -> list_contains(sb, x))) AS BIGINT) AS n_inter
        |        FROM sh),
        |q AS (SELECT doc_id, n_old, n_new, n_inter,
        |        CASE WHEN n_old + n_new - n_inter > 0
        |             THEN CAST(n_inter AS DOUBLE) / (n_old + n_new - n_inter)
        |        END AS jaccard
        |      FROM mom)
        |SELECT doc_id, n_old, n_new, n_inter, jaccard,
        |       COALESCE(jaccard >= 0.8, FALSE) AS minor FROM q""".stripMargin,

    // x19: snapshot diff — rebuilds both snapshots with the same
    // salted-bucket rule and classifies by direct text comparison
    // (digest equality on the Spark side ≡ text equality mod a 2^-256
    // collision); unchanged docs emit no row on either side
    "x19_snapshot_diff" ->
      """WITH h AS (SELECT doc_id, text,
        |             md5(CAST(doc_id AS VARCHAR) || '#snap') AS m FROM documents),
        |b AS (SELECT doc_id, text,
        |        ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) AS bucket
        |      FROM h),
        |o AS (SELECT doc_id, text FROM b WHERE bucket < 58982),
        |n AS (SELECT doc_id,
        |        CASE WHEN bucket >= 26214 AND bucket < 32768
        |             THEN text || ' [recrawled]' ELSE text END AS text
        |      FROM b WHERE bucket >= 6554),
        |j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |        CASE WHEN o.doc_id IS NULL THEN 'added'
        |             WHEN n.doc_id IS NULL THEN 'removed'
        |             WHEN o.text <> n.text THEN 'changed' END AS status
        |      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        |SELECT doc_id, status FROM j WHERE status IS NOT NULL""".stripMargin,

    "v9_ivf_ingest" -> v9IvfIngestOracle,

    // s16 = v9 with the batch STREAMED: assignment is per-row
    // independent of batching, so the drained stream's (vec_id,
    // list_id) union equals the one-shot batch assignment exactly —
    // one SQL covers both runs (the s9 ≡ x16 pattern)
    "s16_stream_ivf_ingest" -> v9IvfIngestOracle,

    // s17: streaming vector SERVE — per-query independence makes the
    // folded micro-batch outputs equal the one-shot batch serve, so
    // v12's oracle form covers the streaming run (facts: query-set
    // size + the identity flag)
    "s17_stream_ivf_serve" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS identical
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    // s19: streaming IVF takedown — the doomed ids arrive as three
    // micro-batches of tombstones instead of one batch delete; the
    // identity pin is v19's (streamed-tombstone serve ≡ same-quantizer
    // rebuild over survivors), in v12's oracle form
    "s19_stream_ivf_delete" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS identical
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    // v21: the int8-stored IVF index must serve rank-identically to a
    // same-quantizer full-precision index (over-fetched exact re-rank
    // recovers full-precision ranks) — v12's oracle form
    "v21_ivf_int8_index" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS identical
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    // v22: the pq-stored IVF index (packed residual codes) must serve
    // rank-identically to a same-quantizer fp index at the registered
    // overFetch — v12's oracle form; v22b floors recall at defaults
    "v22_ivf_pq_index" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS identical
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    "v22b_pq_index_recall" ->
      """SELECT vec_id AS query_id, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    // v20: the production batch serve from a persisted IVF index. All
    // three facts are recomputable: the v12 query-set rule sizes the
    // batch, every query's probed lists hold ≥ 5 candidates at the
    // registered settings (exactly k results each), and the probe
    // join's self-match guard makes self-serving impossible.
    "v20_ivf_index_serve" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |       CAST(count(*) * 5 AS BIGINT) AS n_results,
        |       TRUE AS self_excluded
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    // s9 = x16's exact stage with the test bucket streamed: admitted =
    // streamed docs whose text (≡ sha2 digest, up to collisions) is
    // absent from the standing train-bucket corpus. Batch and stream
    // admit identical sets — this one SQL covers the streaming run.
    "s9_stream_ingest_dedup" ->
      """WITH h AS (SELECT doc_id, text, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
        |b AS (SELECT doc_id, text,
        |        ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) AS bucket
        |      FROM h),
        |trd AS (SELECT DISTINCT text FROM b WHERE bucket < 52428),
        |ted AS (SELECT doc_id, text FROM b WHERE bucket >= 52428)
        |SELECT ted.doc_id FROM ted
        |LEFT JOIN trd ON ted.text = trd.text
        |WHERE trd.text IS NULL""".stripMargin,

    // s11 = the stream-observable half of x19: same snapshot CTEs, but
    // the new side drives a LEFT join (removed docs never arrive in a
    // stream, so they cannot be emitted)
    "s11_stream_cdc" ->
      """WITH h AS (SELECT doc_id, text,
        |             md5(CAST(doc_id AS VARCHAR) || '#snap') AS m FROM documents),
        |b AS (SELECT doc_id, text,
        |        ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) AS bucket
        |      FROM h),
        |o AS (SELECT doc_id, text FROM b WHERE bucket < 58982),
        |n AS (SELECT doc_id,
        |        CASE WHEN bucket >= 26214 AND bucket < 32768
        |             THEN text || ' [recrawled]' ELSE text END AS text
        |      FROM b WHERE bucket >= 6554)
        |SELECT n.doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN o.text <> n.text THEN 'changed' END AS status
        |FROM n LEFT JOIN o ON n.doc_id = o.doc_id
        |WHERE o.doc_id IS NULL OR o.text <> n.text""".stripMargin,

    "e8_one_day" ->
      s"""$baseCte
         |SELECT user_id,
         |  CAST(SUM(CASE WHEN Type = 'ClickDuration' THEN value_cents END) AS BIGINT) AS ClickDuration,
         |  CAST(SUM(CASE WHEN Type = 'PurchaseDuration' THEN value_cents END) AS BIGINT) AS PurchaseDuration,
         |  CAST(SUM(CASE WHEN Type = 'SignupDuration' THEN value_cents END) AS BIGINT) AS SignupDuration,
         |  CAST(SUM(CASE WHEN Type = 'ViewDuration' THEN value_cents END) AS BIGINT) AS ViewDuration,
         |  '2024-01-10' AS Date
         |FROM base
         |WHERE user_id <> 0 AND Type <> 'Error' AND CAST(ts AS DATE) = DATE '2024-01-10'
         |GROUP BY user_id""".stripMargin,

    "u1_union_days" ->
      s"""$baseCte
         |SELECT user_id, Type, CAST(SUM(value_cents) AS BIGINT) AS value_cents,
         |       strftime(ts, '%Y-%m-%d') AS Date
         |FROM base
         |WHERE user_id <> 0 AND Type <> 'Error'
         |  AND strftime(ts, '%Y-%m-%d') IN ('2024-01-03', '2024-01-04', '2024-01-05')
         |GROUP BY user_id, Type, strftime(ts, '%Y-%m-%d')""".stripMargin,

    "g1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  SUM(l_quantity) AS sum_qty,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_disc_c4,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "g2_revenue_by_nation" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_c4
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin,

    "g27_map_functions" ->
      """WITH s AS (SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty
        |           FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, l_linestatus, sum_qty,
        |       CAST(COUNT(*) OVER (PARTITION BY l_returnflag) AS INT) AS n_statuses
        |FROM s""".stripMargin,

    "g3_top_orders_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders) t
        |WHERE rk <= 3""".stripMargin,

    "g4_top_orders_global" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 100""".stripMargin,

    "g5_distinct_segments" ->
      "SELECT DISTINCT c_mktsegment FROM customer",

    "g6_customers_without_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin,

    "g7_customer_order_stats" ->
      """SELECT c_custkey,
        |  count(o_orderkey) AS n_orders,
        |  CAST(COALESCE(SUM(CAST(round(o_totalprice * 100) AS BIGINT)), 0) AS BIGINT) AS total_cents
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin,

    "g8_rollup_summary" ->
      """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "g9_intersect_segments" ->
      """SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'""".stripMargin,

    "g10_except_segments" ->
      """SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT
        |SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'""".stripMargin,

    "g11_orders_with_big_lines" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 50)""".stripMargin,

    "g12_string_functions" ->
      """SELECT c_custkey,
        |  upper(c_mktsegment) AS seg_upper,
        |  substr(c_name, 1, 8) AS name8,
        |  length(c_name) AS name_len,
        |  c_name || '-' || c_mktsegment AS name_seg,
        |  regexp_replace(lower(c_name), 'customer', 'cust', 'g') AS name_replaced
        |FROM customer""".stripMargin,

    "g13_date_functions" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS y,
        |  CAST(month(o_orderdate) AS INT) AS m,
        |  CAST(day(o_orderdate) AS INT) AS d,
        |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT) AS days_to_2002
        |FROM orders""".stripMargin,

    "g14_explode_tokens" ->
      """SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |FROM documents WHERE doc_id < 50""".stripMargin,

    "g15_above_avg_balance" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)""".stripMargin,

    "g17_asof_last_purchase" ->
      """WITH l AS (SELECT user_id, event_id, ts FROM events
        |           WHERE event_type <> 'purchase'),
        |     r AS (SELECT user_id, ts,
        |                  CAST(round(value * 100) AS BIGINT) AS last_purchase_cents
        |           FROM events WHERE event_type = 'purchase')
        |SELECT l.event_id, l.user_id, r.last_purchase_cents
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,

    // g31: DuckDB's ASOF with l.ts <= r.ts picks the nearest FOLLOWING
    // row; the 3-day tolerance nulls the payload via exact integer
    // microsecond arithmetic on both engines
    "g31_asof_next_purchase" ->
      """WITH l AS (SELECT user_id, event_id, ts FROM events
        |           WHERE event_type <> 'purchase'),
        |     r AS (SELECT user_id, ts,
        |                  CAST(round(value * 100) AS BIGINT) AS next_purchase_cents
        |           FROM events WHERE event_type = 'purchase')
        |SELECT l.event_id, l.user_id,
        |  CASE WHEN r.ts IS NULL
        |         OR epoch_us(r.ts) - epoch_us(l.ts) > 259200000000
        |       THEN NULL ELSE r.next_purchase_cents END AS next_purchase_cents
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts""".stripMargin,

    "g18_json_extract" ->
      """SELECT event_id,
        |  json_extract_string(props, '$.k') AS k_str,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k_int
        |FROM events""".stripMargin,

    "g19_array_functions" ->
      """SELECT doc_id,
        |  array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:5], ',') AS first5,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
        |  list_contains(string_split(text, ' '), 'spark') AS has_spark
        |FROM documents""".stripMargin,

    "g20_bucketed_join" ->
      """SELECT o_orderkey, o_orderstatus, n_lines, sum_qty, line_cents
        |FROM orders JOIN (
        |  SELECT l_orderkey, count(*) AS n_lines, SUM(l_quantity) AS sum_qty,
        |         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS line_cents
        |  FROM lineitem GROUP BY l_orderkey) l
        |ON o_orderkey = l_orderkey""".stripMargin,

    "g21_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.25) AS p25,
        |  quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.5)  AS p50,
        |  quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.75) AS p75
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // g21b: the oracle recomputes the exact band edges and pins the
    // sketch contract (g16b pattern — an out-of-band estimate
    // hash-fails the row)
    "g21b_percentile_bounded" ->
      """SELECT l_returnflag,
        |  quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.25) AS p25,
        |  quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.75) AS p75,
        |  TRUE AS approx_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "g22_range_join" ->
      """SELECT p.event_id, r.event_id AS purchase_id
        |FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |      WHERE event_type <> 'purchase') p
        |JOIN (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |      WHERE event_type = 'purchase') r
        |ON p.user_id = r.user_id
        |   AND p.ts_us >= r.ts_us AND p.ts_us < r.ts_us + 86400000000""".stripMargin,

    "g25_cube_summary" ->
      """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    // sql1/sql2: the ORACLE IS THE QUERY — byte-identical SQL text on
    // both engines (see Pipelines.sql1Q3Text for the dialect rules)
    "sql1_q3_shipping" -> Pipelines.sql1Q3Text,
    "sql2_exists_subquery" -> Pipelines.sql2ExistsText,
    "sql3_cte_having" -> Pipelines.sql3CteHavingText,
    "sql4_in_subquery" -> Pipelines.sql4InSubqueryText,
    "sql5_window" -> Pipelines.sql5WindowText,
    "sql6_set_ops" -> Pipelines.sql6SetOpsText,
    "sql7_rollup" -> Pipelines.sql7RollupText,
    "sql8_select_subquery" -> Pipelines.sql8SelectSubqueryText,
    "sql9_multi_join" -> Pipelines.sql9MultiJoinText,
    "sql10_window_dedup" -> Pipelines.sql10WindowDedupText,
    // sql11: ONE ANSI text on both engines — LATERAL is in both
    // dialects, the ordering key is exact integer cents, and the
    // o_orderkey tie-break makes the per-customer top-3 SET (not just
    // its scores) deterministic, so the hash compare is meaningful
    "sql11_lateral_topn" -> Pipelines.sql11LateralTopNText,
    // sql12: WITH RECURSIVE runs natively on Spark 4.x AND DuckDB —
    // integer-only recursion (date+interval syntax diverges between
    // dialects), integer-cents revenue, unique window key
    "sql12_recursive_spine" -> Pipelines.sql12RecursiveSpineText,
    // sql13: ONE ANSI text on both engines — correlated EXISTS /
    // NOT EXISTS self-joins are core ANSI, count(*) is BIGINT in
    // both dialects, and s_name uniqueness makes the order total
    "sql13_multi_exists" -> Pipelines.sql13MultiExistsText,
    // sql14: ONE ANSI text on both engines — NOT IN's three-valued
    // NULL semantics are core ANSI and identical in both dialects;
    // count(*) is BIGINT in both, c_mktsegment order is total after
    // the group-by
    "sql14_not_in" -> Pipelines.sql14NotInText,

    // x29: incremental CC maintenance must equal the FULL recompute
    // over standing ∪ delta — which is every jaccard pair, so the
    // oracle is exactly x9's recursive closure (the standing/delta
    // split is a Spark-side implementation detail the result must be
    // invariant to)
    "x29_cc_incremental" ->
      s"""WITH RECURSIVE edges AS (
         |  SELECT a_id, b_id FROM (
         |$jaccardOracle
         |  ) jp
         |),
         |nodes AS (SELECT a_id AS id FROM edges UNION SELECT b_id AS id FROM edges),
         |sym AS (SELECT a_id AS u, b_id AS v FROM edges
         |        UNION ALL SELECT b_id AS u, a_id AS v FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT reach.id, sym.v AS r FROM reach JOIN sym ON reach.r = sym.u
         |)
         |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin,

    // x28: the histogram over the same recursive closure x9/x24 pin,
    // plus the singleton row computed from the corpus complement
    "x28_dedup_stats" ->
      s"""WITH RECURSIVE edges AS (
         |  SELECT a_id, b_id FROM (
         |$jaccardOracle
         |  ) jp
         |),
         |nodes AS (SELECT a_id AS id FROM edges UNION SELECT b_id AS id FROM edges),
         |sym AS (SELECT a_id AS u, b_id AS v FROM edges
         |        UNION ALL SELECT b_id AS u, a_id AS v FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT reach.id, sym.v AS r FROM reach JOIN sym ON reach.r = sym.u
         |),
         |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |szs AS (SELECT cluster_id, count(*) AS sz FROM cl GROUP BY cluster_id)
         |SELECT CAST(sz AS BIGINT) AS cluster_size,
         |       CAST(count(*) AS BIGINT) AS n_clusters
         |FROM szs GROUP BY sz
         |UNION ALL
         |SELECT CAST(1 AS BIGINT),
         |       CAST((SELECT count(*) FROM documents)
         |            - (SELECT count(*) FROM cl) AS BIGINT)""".stripMargin,

    // g30: basket-generated pair counts; the oracle spells the same
    // semantics as a dedup + size-capped self-join — identical pair
    // set, different cost shape (the Spark side never self-joins)
    "g30_copurchase_pairs" ->
      """WITH b AS (SELECT l_orderkey, l_partkey FROM lineitem GROUP BY 1, 2),
        |sz AS (SELECT l_orderkey FROM b GROUP BY 1
        |       HAVING count(*) BETWEEN 2 AND 64)
        |SELECT a.l_partkey AS p1, c.l_partkey AS p2,
        |       CAST(count(*) AS BIGINT) AS n_orders
        |FROM b a
        |JOIN b c ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
        |JOIN sz ON a.l_orderkey = sz.l_orderkey
        |GROUP BY 1, 2
        |HAVING count(*) >= 2""".stripMargin,

    // g33: three integer-exact power iterations unrolled as chained
    // CTEs — `//` (DuckDB) and `div` (Spark) agree on positive longs,
    // so the ranks are bit-identical, not approximately equal
    "g33_pagerank" ->
      """WITH b AS (SELECT l_orderkey, l_partkey FROM lineitem GROUP BY 1, 2),
        |sz AS (SELECT l_orderkey FROM b GROUP BY 1
        |       HAVING count(*) BETWEEN 2 AND 64),
        |e0 AS (SELECT a.l_partkey AS p1, c.l_partkey AS p2,
        |              CAST(count(*) AS BIGINT) AS w
        |       FROM b a
        |       JOIN b c ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
        |       JOIN sz ON a.l_orderkey = sz.l_orderkey
        |       GROUP BY 1, 2),
        |e AS (SELECT p1 AS src, p2 AS dst, w FROM e0
        |      UNION ALL SELECT p2, p1, w FROM e0),
        |wd AS (SELECT src, CAST(sum(w) AS BIGINT) AS wdeg FROM e GROUP BY 1),
        |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank_mu FROM wd),
        |r1 AS (SELECT e.dst AS node,
        |         CAST((15000000 + 85 * sum((r.rank_mu * e.w) // wd.wdeg)) // 100
        |              AS BIGINT) AS rank_mu
        |       FROM e JOIN wd ON e.src = wd.src JOIN r0 r ON e.src = r.node
        |       GROUP BY 1),
        |r2 AS (SELECT e.dst AS node,
        |         CAST((15000000 + 85 * sum((r.rank_mu * e.w) // wd.wdeg)) // 100
        |              AS BIGINT) AS rank_mu
        |       FROM e JOIN wd ON e.src = wd.src JOIN r1 r ON e.src = r.node
        |       GROUP BY 1),
        |r3 AS (SELECT e.dst AS node,
        |         CAST((15000000 + 85 * sum((r.rank_mu * e.w) // wd.wdeg)) // 100
        |              AS BIGINT) AS rank_mu
        |       FROM e JOIN wd ON e.src = wd.src JOIN r2 r ON e.src = r.node
        |       GROUP BY 1)
        |SELECT node, rank_mu FROM r3""".stripMargin,

    // g28: explicit grouping lattice; GROUPING()/grouping_id() share
    // the same bit order (1 = column aggregated away) in both engines
    "g28_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
        |  count(*) AS n, GROUPING(l_returnflag, l_linestatus) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |                        (l_returnflag), ())""".stripMargin,

    "g26_promo_revenue" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  CAST(SUM(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))
        |      ELSE 0 END) AS BIGINT) AS promo_c4,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS total_c4
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY strftime(l_shipdate, '%Y-%m')""".stripMargin,

    "g24_window_analytics" ->
      """WITH o AS (SELECT o_custkey, o_orderkey,
        |             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |             o_orderdate
        |           FROM orders)
        |SELECT o_custkey, o_orderkey, cents,
        |  CAST(SUM(cents) OVER (PARTITION BY o_custkey
        |         ORDER BY o_orderdate, o_orderkey
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_cents,
        |  AVG(cents) OVER (PARTITION BY o_custkey
        |         ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ma3_cents,
        |  CAST(cents - lag(cents, 1) OVER (PARTITION BY o_custkey
        |         ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS prev_diff,
        |  CAST(ntile(4) OVER (PARTITION BY o_custkey
        |         ORDER BY o_orderdate, o_orderkey) AS INT) AS quartile
        |FROM o""".stripMargin,

    "g23_profile_stats" ->
      """SELECT count(*) AS n_rows,
        |  CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user_id,
        |  CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_props,
        |  CAST(min(epoch_us(ts)) AS BIGINT) AS min_ts_us,
        |  CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us,
        |  count(DISTINCT event_type) AS n_event_types,
        |  count(DISTINCT user_id) AS n_users
        |FROM events""".stripMargin,

    "x8_skew_salted_agg" ->
      """SELECT user_id,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  count(*) AS cnt
        |FROM events GROUP BY user_id""".stripMargin,

    "m3_frame_sample" ->
      """WITH b AS (SELECT doc_id, octet_length(encode(text)) AS bl FROM documents),
        |n AS (SELECT doc_id, bl, (bl + 63) // 64 AS nf FROM b),
        |s AS (SELECT doc_id, bl, nf,
        |        unnest(list_distinct([j * nf // 4 for j in range(4)])) AS fi
        |      FROM n WHERE nf > 0)
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        |       CAST(least(64, bl - fi * 64) AS INT) AS frame_len
        |FROM s WHERE fi < nf""".stripMargin,

    "m2_media_features" -> {
      // 16-bin byte histogram of the UTF-8 payload, recomputed in SQL by
      // splitting hex(payload) into byte pairs and counting by high nibble.
      // count/n is a single exact IEEE division on both engines.
      val hs = (0 until 16).map(i =>
        s"  CAST(len(list_filter(bs, x -> x[1] = '${"0123456789ABCDEF"(i)}')) AS DOUBLE)" +
        s" / greatest(len(bs), 1) AS h${f"$i%02d"}").mkString(",\n")
      s"""WITH b AS (SELECT doc_id,
         |  regexp_extract_all(upper(hex(encode(text))), '..') AS bs FROM documents)
         |SELECT doc_id, CAST(len(bs) AS BIGINT) AS byte_len,
         |$hs
         |FROM b""".stripMargin
    },

    "m4_media_neardup" -> mediaL1Oracle,

    // m5: m4's media-pair CTEs + x3/x4's jaccard-pair CTEs, graded by
    // a FULL OUTER JOIN on the (a_id, b_id) pair key — both sides
    // orient a_id < b_id, so the keys line up without
    // canonicalization; booleans and the CASE verdict hash exactly
    "m5_consensus_neardup" -> {
      val hs = (0 until 16).map(i =>
        s"  CAST(len(list_filter(bs, x -> x[1] = '${"0123456789ABCDEF"(i)}')) AS DOUBLE)" +
        s" / greatest(len(bs), 1) AS h${f"$i%02d"}").mkString(",\n")
      val l1 = (0 until 16).map(i => f"abs(a.h$i%02d - b.h$i%02d)").mkString(" + ")
      s"""WITH b0 AS (SELECT doc_id,
         |  regexp_extract_all(upper(hex(encode(text))), '..') AS bs FROM documents),
         |h AS (SELECT doc_id,
         |$hs
         |FROM b0),
         |mpairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |           FROM h a JOIN h b ON a.doc_id < b.doc_id
         |           WHERE $l1 <= 0.001),
         |t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sh AS (SELECT doc_id,
         |         unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |                               for i in range(1, len(w) - 1)])) AS s
         |       FROM t WHERE len(w) >= 3),
         |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
         |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |tpairs AS (SELECT a_id, b_id
         |           FROM inter JOIN sz x ON a_id = x.doc_id
         |                      JOIN sz y ON b_id = y.doc_id
         |           WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.5)
         |SELECT coalesce(m.a_id, t2.a_id) AS a_id,
         |       coalesce(m.b_id, t2.b_id) AS b_id,
         |       m.a_id IS NOT NULL AS media_near,
         |       t2.a_id IS NOT NULL AS text_near,
         |       CASE WHEN m.a_id IS NOT NULL AND t2.a_id IS NOT NULL
         |            THEN 'dup' ELSE 'review' END AS verdict
         |FROM mpairs m FULL OUTER JOIN tpairs t2
         |  ON m.a_id = t2.a_id AND m.b_id = t2.b_id""".stripMargin
    },

    // m6: m2's histogram CTE quantized at 32 (a power of two, so h*32
    // scales the exponent without rounding — floor lands identically
    // on both engines) and grouped exactly, x1's output shape
    "m6_media_sig_dedup" -> {
      val hs = (0 until 16).map(i =>
        s"  CAST(len(list_filter(bs, x -> x[1] = '${"0123456789ABCDEF"(i)}')) AS DOUBLE)" +
        s" / greatest(len(bs), 1) AS h${f"$i%02d"}").mkString(",\n")
      val sig = (0 until 16).map(i =>
        f"CAST(CAST(floor(h$i%02d * 32) AS BIGINT) AS VARCHAR)").mkString(", ")
      s"""WITH b0 AS (SELECT doc_id,
         |  regexp_extract_all(upper(hex(encode(text))), '..') AS bs FROM documents),
         |h AS (SELECT doc_id,
         |$hs
         |FROM b0),
         |s AS (SELECT doc_id, concat_ws(':', $sig) AS sig FROM h)
         |SELECT sig, min(doc_id) AS keep_id, count(*) AS n_copies
         |FROM s GROUP BY sig""".stripMargin
    },

    // m7: real javax.imageio decode over synthetic per-doc PNGs — the
    // pixel math is engine-internal (no SQL codec), so the oracle
    // checks the driver-checkable facts: one image per document, every
    // one decodes (PNG round-trip is lossless and every payload is a
    // well-formed PNG by construction), every geometry survives.
    // Golden-pixel exactness is spec-pinned (StreamingSpec m7).
    "m7_image_decode" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_images,
        |       CAST(count(*) AS BIGINT) AS n_decoded,
        |       TRUE AS dims_ok
        |FROM documents""".stripMargin,

    // m8: perceptual near-dup over REAL-decoded synthetic PNGs. The
    // fixture's constant-weight-code geometry makes the pair set
    // provable (twin L1 ≤ 0.0156, cross-doc ≥ 0.65, threshold 0.1), so
    // the oracle enumerates the exact expected pairs: each doc's
    // pristine image (id·2) with its 8-pixel-perturbed twin (id·2+1)
    // and nothing else.
    "m8_perceptual_neardup" ->
      """SELECT CAST(doc_id * 2 AS BIGINT) AS a_id,
        |       CAST(doc_id * 2 + 1 AS BIGINT) AS b_id
        |FROM documents WHERE doc_id < 50""".stripMargin
  )
}
